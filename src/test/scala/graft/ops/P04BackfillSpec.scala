package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.GraftManifest

class P04BackfillSpec extends SparkSpec {

  test("p04: backfill rewrites only the blast radius; v1 stays auditable") {
    val base = Pipeline.p04Table(spark, sf)
    val v1 = GraftManifest.read(base, 1).paths
    val v2 = GraftManifest.read(base, 2).paths
    def is96(p: String) = p.contains("part_month=1996")
    // every untouched month is carried BY REFERENCE (identical paths)
    assert(v1.filterNot(is96).toSet == v2.filterNot(is96).toSet,
      "untouched months must carry over by reference, not rewrite")
    // the corrected months are new files, disjoint from v1's
    assert(v1.filter(is96).toSet.intersect(v2.filter(is96).toSet).isEmpty,
      "backfilled months must be fresh files")
    assert(v2.count(is96) == 12, "all 12 months of 1996 recomputed")
    // the pre-fix version remains readable and still shows the bug
    def n1996(paths: Seq[String]): Long =
      spark.read.parquet(paths: _*)
        .filter(col("month").startsWith("1996"))
        .agg(sum("n_orders")).collect()(0).getLong(0)
    assert(n1996(v1) > n1996(v2),
      "v1 must still include the invalid 'P' orders the backfill removed")
  }
}
