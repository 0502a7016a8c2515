package graft.queries

import graft.SparkSpec
import graft.sources.GraftManifest
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Pins the optimistic-concurrency commit protocol (GraftManifest CAS +
  * cowMergeCommitOcc rebase loop) — the multi-writer behavior the
  * oracle hash cannot see:
  *  - the CAS primitive: exactly one of two commits to the same version
  *    wins; the loser is TOLD (false), never silently shadowed;
  *  - disjoint interleave: a writer that loses the race to a commit
  *    touching OTHER files rebases by re-deriving the carried list only
  *    — its rewrite output is salvaged (one rewrite, one lost CAS) —
  *    and BOTH deltas land in the final version;
  *  - true conflict: a writer that loses to a commit rewriting the SAME
  *    files re-runs the merge against the winner's table (two
  *    rewrites), and the final table composes both deltas with the
  *    loser applied second.
  */
class OccCommitSpec extends SparkSpec {
  import spark.implicits._

  private val D2 = DecimalType(18, 2)

  /** A CDC-shaped delta updating the given keys to a fixed status tag
    * (price bumped by `bump` so composition is visible in values). */
  private def updDelta(keys: Seq[Long], tag: String, bump: Int): DataFrame = {
    val base = Extras5Access.ordersSlice(spark, sf)
    base.filter($"o_orderkey".isin(keys: _*))
      .select($"o_orderkey".as("d_key"), lit("U").as("d_op"),
        lit(tag).as("d_status"), ($"price" + bump).cast(D2).as("d_price"))
  }

  test("GraftManifest.publish: exactly one writer wins a version; loser is told") {
    val base = graft.Scratch.dir("occ_cas")
    assert(GraftManifest.publish(base, 1, Seq("/a.parquet").map(GraftManifest.Entry(_))))
    assert(!GraftManifest.publish(base, 1, Seq("/b.parquet").map(GraftManifest.Entry(_))))
    // the winner's manifest is intact — the loser did not clobber it
    assert(GraftManifest.read(base, 1).paths == Seq("/a.parquet"))
    assert(GraftManifest.latest(base) == 1)
    // the single-writer wrapper refuses instead of overwriting
    intercept[IllegalStateException] {
      GraftManifest.commitAt(base, 1, Seq("/c.parquet").map(GraftManifest.Entry(_)))
    }
  }

  /** Two keys guaranteed to live in DIFFERENT range files of cdcBase's
    * 16-file key-range layout: the global min and max keys of the
    * table. */
  private def extremeKeys(files: Seq[String]): (Long, Long) = {
    val r = spark.read.parquet(files: _*)
      .agg(min($"o_orderkey"), max($"o_orderkey")).head()
    (r.getLong(0), r.getLong(1))
  }

  test("OCC disjoint interleave: loser rebases without re-rewriting; both deltas land") {
    val base = Extras6.cdcBase(spark, sf)
    val v1 = GraftManifest.read(base, 1).paths
    val (loKey, hiKey) = extremeKeys(v1)
    val deltaA = updDelta(Seq(loKey), "A", 1)
    val deltaB = updDelta(Seq(hiKey), "B", 2)
    // writer B commits INSIDE writer A's read→CAS window (the seam
    // models a real race deterministically)
    var fired = false
    val out = Extras6.cowMergeCommitOcc(spark, base, deltaA, raceHook = from =>
      if (!fired) { fired = true; Extras6.cowMergeCommit(spark, base, from, deltaB) })
    assert(out.version == 3, "loser lands on top of the winner's v2")
    assert(out.casLost == 1)
    assert(out.rewrites == 1, "disjoint loss must salvage the rewrite")
    // both deltas are in v3; v2 holds only B's
    val v3 = spark.read.parquet(GraftManifest.read(base, 3).paths: _*)
    assert(v3.filter($"o_orderkey" === loKey && $"o_orderstatus" === "A").count() == 1)
    assert(v3.filter($"o_orderkey" === hiKey && $"o_orderstatus" === "B").count() == 1)
    assert(v3.count() == spark.read.parquet(v1: _*).count())
    val v2 = spark.read.parquet(GraftManifest.read(base, 2).paths: _*)
    assert(v2.filter($"o_orderstatus" === "A").count() == 0)
    assert(v2.filter($"o_orderstatus" === "B").count() == 1)
  }

  test("four genuinely concurrent writers all land (real threads, no race seam)") {
    // The seam tests above make specific interleavings deterministic;
    // this one is the blunt instrument: four threads race real merges
    // at the SAME starting version with no coordination. Whatever
    // interleaving the scheduler produces, the protocol must serialize
    // them into versions 2..5 with every delta applied exactly once.
    val base = Extras6.cdcBase(spark, sf)
    val v1 = GraftManifest.read(base, 1).paths
    val keys = spark.read.parquet(v1: _*)
      .select($"o_orderkey").orderBy($"o_orderkey")
      .as[Long].collect()
    // four keys spread across the 16-file key-range layout
    val picks = Seq(keys.head, keys(keys.length / 3),
      keys(2 * keys.length / 3), keys.last)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val outcomes = Await.result(Future.sequence(picks.zipWithIndex.map {
      case (k, i) => Future {
        Extras6.cowMergeCommitOcc(spark, base, updDelta(Seq(k), s"T$i", i + 1))
      }
    }), 5.minutes)
    assert(GraftManifest.latest(base) == 5, "4 commits on top of v1")
    assert(outcomes.map(_.version).sorted == Seq(2, 3, 4, 5),
      "each writer landed exactly one distinct version")
    val fin = spark.read.parquet(GraftManifest.read(base, 5).paths: _*)
    picks.zipWithIndex.foreach { case (k, i) =>
      assert(fin.filter($"o_orderkey" === k && $"o_orderstatus" === s"T$i")
        .count() == 1, s"delta T$i must land")
    }
    assert(fin.count() == spark.read.parquet(v1: _*).count())
    // every intermediate version still resolves (history intact)
    (1 to 5).foreach(v => assert(GraftManifest.read(base, v).paths.nonEmpty))
  }

  test("concurrent SQL INSERT INTO appends never conflict") {
    graft.sources.GraftCatalog.install(spark)
    val name = s"occins_${java.util.UUID.randomUUID().toString.take(8)}"
    spark.sql(s"CREATE TABLE graft.$name (o_orderkey BIGINT, " +
      "o_orderstatus STRING, price DECIMAL(18,2))")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    Await.result(Future.sequence((1 to 4).map { i =>
      Future {
        spark.sql(s"INSERT INTO graft.$name VALUES " +
          s"($i, 'S$i', CAST($i AS DECIMAL(18,2)))")
      }
    }), 5.minutes)
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.$name").head().getLong(0) == 4)
    assert(spark.sql(s"SELECT COUNT(DISTINCT o_orderkey) FROM graft.$name")
      .head().getLong(0) == 4)
  }

  test("OCC true conflict: loser re-runs the merge against the winner's table") {
    val base = Extras6.cdcBase(spark, sf)
    val v1 = GraftManifest.read(base, 1).paths
    val (loKey, _) = extremeKeys(v1)
    // SAME key on both sides: the winner rewrites the loser's touched
    // file, so the loser's staged output is built on stale rows
    val deltaA = updDelta(Seq(loKey), "A", 10)
    val deltaB = updDelta(Seq(loKey), "B", 200)
    var fired = false
    val out = Extras6.cowMergeCommitOcc(spark, base, deltaA, raceHook = from =>
      if (!fired) { fired = true; Extras6.cowMergeCommit(spark, base, from, deltaB) })
    assert(out.version == 3)
    assert(out.casLost == 1)
    assert(out.rewrites == 2, "overlapping loss must re-run the rewrite")
    assert(out.conflicting.nonEmpty, "the conflicting files are reported")
    // last-writer-wins composition: A (applied second) sets the value
    val v3row = spark.read.parquet(GraftManifest.read(base, 3).paths: _*)
      .filter($"o_orderkey" === loKey).head()
    assert(v3row.getAs[String]("o_orderstatus") == "A")
    // A's delta was built from the BASE row (price+10 over v1, not over
    // B's +200): re-running against the winner's table replays A's
    // values verbatim — upsert semantics, not increment semantics
    val baseRow = spark.read.parquet(v1: _*)
      .filter($"o_orderkey" === loKey).head()
    assert(v3row.getAs[java.math.BigDecimal]("price") ==
      baseRow.getAs[java.math.BigDecimal]("price").add(java.math.BigDecimal.TEN))
    // the abandoned first rewrite's outDir was deleted on redo: every
    // surviving files-occ-* directory holds only manifest-referenced
    // files — lost races never orphan data files (r14 advice)
    val referenced = (1 to 3).flatMap(GraftManifest.read(base, _).paths).toSet
    val occDirs = new java.io.File(base).listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("files-occ-"))
    assert(occDirs.nonEmpty, "the winning rewrite's dir survives")
    occDirs.foreach { d =>
      val files = d.listFiles().map(_.getAbsolutePath).toSeq
        .filter(_.endsWith(".parquet"))
      assert(files.forall(referenced),
        s"orphaned parquet output left behind in ${d.getName}")
    }
  }
}

/** Exposes the q88-shaped orders slice for delta construction. */
private[queries] object Extras5Access {
  def ordersSlice(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.Tables.load(spark, dir, "orders")
      .filter($"o_orderkey" % 3 === 0)
      .select($"o_orderkey", $"o_orderstatus",
        $"o_totalprice".cast(DecimalType(18, 2)).as("price"))
  }
}
