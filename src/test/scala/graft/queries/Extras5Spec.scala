package graft.queries

import graft.SparkSpec
import graft.sources.GraftManifest

class Extras5Spec extends SparkSpec {

  test("q72: deliberately-tight constraints fire; clean constraints pass") {
    val rows = Extras5.q72(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    // clean by construction in the synthetic corpus
    for (c <- Seq("c1_orderkey_not_null", "c2_orderkey_unique",
        "c3_status_accepted", "c6_custkey_fk")) {
      assert(rows(c) == ((0L, true)), s"$c should pass clean")
    }
    // deliberately tighter than the data: the suite must demonstrably fire
    for (c <- Seq("c4_totalprice_range", "c5_orderdate_bound")) {
      val (n, passed) = rows(c)
      assert(n > 0L && !passed, s"$c should fire (got $n violations)")
    }
  }

  test("q74: the weekly aggregate's exchange is planned once and reused") {
    val df = Extras5.q74(spark, sf)
    df.collect() // materialize so AQE finalizes stage reuse
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange") || plan.contains("ReusedQueryStage"),
      s"expected exchange reuse in the final plan:\n$plan")
  }

  test("q76: the band join plans as an equi-join, not a nested loop") {
    val df = Extras5.q76(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoop") && !plan.contains("CartesianProduct"),
      s"band join degenerated to a cross product:\n$plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
        || plan.contains("BroadcastHashJoin"),
      s"expected a hash/merge equi-join on the bin key:\n$plan")
  }

  test("q76: results are bin-width-invariant (the at-scale dial)") {
    val base = Extras5.q76(spark, sf).collect().toSeq
    for (binSec <- Seq("7200", "1800")) { // 2x and half the interval width
      spark.conf.set("spark.graft.bandjoin.binSec", binSec)
      try {
        val got = Extras5.q76(spark, sf).collect().toSeq
        assert(got == base, s"binSec=$binSec changed the result")
      } finally spark.conf.unset("spark.graft.bandjoin.binSec")
    }
  }

  test("q78: a resolved snapshot is immune to later commits (isolation)") {
    import org.apache.spark.sql.functions._
    // resolve v2 BEFORE v3 exists? q78Table commits all three, so pin the
    // stronger property: v1/v2 manifests still resolve to the ORIGINAL
    // files after the v3 delete, and re-reading them returns the
    // pre-delete rows (including the deleted 'F' rows)
    val base = Extras5.q78Table(spark, sf)
    val v1 = GraftManifest.read(base, 1).paths
    val v3 = GraftManifest.read(base, 3).paths
    assert(v1.intersect(v3).isEmpty,
      "copy-on-write delete must rewrite, not share, the touched files")
    val v1F = spark.read.parquet(v1: _*)
      .filter(col("o_orderstatus") === "F").count()
    assert(v1F > 0, "time travel to v1 must still see the deleted rows")
    val v3F = spark.read.parquet(v3: _*)
      .filter(col("o_orderstatus") === "F" && col("o_orderkey") % 3 === 0).count()
    assert(v3F == 0, "v3 must not see the deleted slice")
    // append files are shared by reference between v2 and v3
    val v2 = GraftManifest.read(base, 2).paths
    assert(v2.intersect(v3).nonEmpty, "untouched files must carry over")
  }

  test("manifest entries round-trip all field arities incl. adversarial names/values") {
    val base = graft.Scratch.dir("manifest_rt")
    val entries = Seq(
      GraftManifest.Entry("/p/plain.parquet"),
      GraftManifest.Entry("/p/stats.parquet", Some((-5L, 10L))),
      GraftManifest.Entry("/p/dv.parquet", Some((1L, 2L)), Some("/p/d.gdv")),
      GraftManifest.Entry("/p/dvnostats.parquet", None, Some("/p/e.gdv")),
      // 5-field: per-column stats under names holding every separator
      GraftManifest.Entry("/p/cols.parquet", Some((0L, 9L)), None,
        Map("a=b" -> (1L, 2L), "c;d" -> (3L, 4L), "e:f" -> (5L, 6L),
          "naïve col" -> (-1L, 1L))),
      // 6-field: partition tuples with nasty keys/values and a NULL
      GraftManifest.Entry("/p/parts.parquet", None, Some("/p/f.gdv"),
        Map("k" -> (7L, 8L)),
        Map("days.ts" -> "20100", "src=x;y" -> "a b=c;d", "nullv" -> null)),
      GraftManifest.Entry("/p/partsonly.parquet",
        partValues = Map("s" -> "-")))
    GraftManifest.commitAt(base, 1, entries)
    val back = GraftManifest.read(base, 1).entries
    assert(back.toSet == entries.toSet,
      s"round-trip mismatch:\n${back.mkString("\n")}")
    // headers coexist with every arity
    assert(GraftManifest.read(base, 1).headers.contains("ts"))
  }

  test("g01: BFS levels are disjoint and the frontier stays within the graph") {
    val rows = Extras5.g01(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(rows.keySet == Set(("supplier", 0L), ("part", 1L),
      ("supplier", 2L), ("part", 3L)))
    assert(rows(("supplier", 0L)) > 0L, "seed set must be non-empty")
    assert(rows(("part", 1L)) > 0L, "seeds must reach parts at distance 1")
    // the graph is near-connected: supplier level 2 absorbs most of the
    // remaining suppliers, so level-3 parts are the residual tail
    val nSupp = graft.Tables.load(spark, sf, "supplier").count()
    assert(rows(("supplier", 0L)) + rows(("supplier", 2L)) <= nSupp)
  }
}
