package graft.queries

import graft.SparkSpec
import graft.sources.GraftManifest
import org.apache.spark.sql.functions._

/** Pins the stats-in-commit contract (q94 family) — the parts the
  * oracle hash cannot see:
  *  - the commit records footer-derived min/max per file and the
  *    round-trip through the manifest preserves them exactly;
  *  - a selective versioned read opens STRICTLY FEWER files than the
  *    full resolve, yet returns IDENTICAL rows to the unpruned read
  *    (soundness + usefulness in one assertion);
  *  - files committed without stats are never pruned (unsoundness
  *    guard);
  *  - stats survive the CAS path: a GraftManifest.publish with stats resolves
  *    them back.
  */
class StatsCommitSpec extends SparkSpec {
  import spark.implicits._

  private lazy val st = Extras6.q94Build(spark, sf)

  test("q94 pruned resolve opens strictly fewer files, identical rows") {
    val all = GraftManifest.read(st.base, 1).paths
    val pruned = GraftManifest.read(st.base, 1).pruned(st.lo, st.hi)
    assert(pruned.nonEmpty)
    assert(pruned.size < all.size,
      s"pruning must bite: ${pruned.size} vs ${all.size}")
    def rows(files: Seq[String]) =
      spark.read.parquet(files: _*)
        .filter($"o_orderkey".between(st.lo, st.hi))
        .orderBy($"o_orderkey").collect().toSeq
    assert(rows(pruned) == rows(all), "pruned read changed the answer")
  }

  test("manifest stats round-trip the footer values exactly") {
    val resolved = GraftManifest.read(st.base, 1).entries.map(e => (e.path, e.stats))
    assert(resolved.forall(_._2.isDefined), "every committed file has stats")
    val fresh = Extras5.parquetKeyStats(resolved.map(_._1), "o_orderkey")
    resolved.foreach { case (f, s) => assert(s.contains(fresh(f))) }
    // and stats are consistent: min <= max, ranges within the table's
    resolved.foreach { case (_, Some((mn, mx))) => assert(mn <= mx)
      case _ => () }
  }

  test("files committed without stats are never pruned") {
    val base = graft.Scratch.dir("stats_mixed")
    val withStats = GraftManifest.read(st.base, 1).paths.head
    val stats = Extras5.parquetKeyStats(Seq(withStats), "o_orderkey")
    // second file committed stat-less (e.g. written by an older writer)
    assert(GraftManifest.publish(base, 1,
      (Seq(withStats, "/no-stats.parquet")).map(f => GraftManifest.Entry(f, stats.get(f)))))
    val pruned = GraftManifest.read(base, 1).pruned(Long.MaxValue - 1, Long.MaxValue)
    assert(pruned == Seq("/no-stats.parquet"),
      "a stat-less file must survive any predicate; a stats'd file outside the range must not")
  }
}
