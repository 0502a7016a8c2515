package graft.queries

import graft.SparkSpec
import graft.sources.GraftManifest
import org.apache.spark.sql.functions._

/** Pins q88's MERGE file-level contract — the parts the oracle hash
  * (which sees only aggregates) cannot see:
  *  - copy-on-write rewrite DISJOINTNESS: touched ∪ carried = v1's file
  *    set exactly, touched ∩ carried = ∅;
  *  - file-level pruning is REAL: every touched file contains ≥1
  *    matched key, no carried file contains any;
  *  - snapshot isolation: v1 resolves to its original files (bytes on
  *    disk untouched) after both merges have committed;
  *  - COW ≡ MOR at ROW level (the query only proves aggregate
  *    equality): full row sets identical.
  */
class Extras6Spec extends SparkSpec {
  import spark.implicits._

  private lazy val st = Extras6.q88Build(spark, sf)

  test("q88 COW rewrite partitions v1's files disjointly") {
    assert(st.touched.toSet.intersect(st.carried.toSet).isEmpty)
    assert((st.touched ++ st.carried).sorted == st.v1Files.sorted)
    assert(st.touched.nonEmpty, "delta must touch at least one file")
  }

  test("q88 file pruning: matched keys live only in touched files") {
    def matchedIn(files: Seq[String]): Long =
      if (files.isEmpty) 0L
      else spark.read.parquet(files: _*)
        .filter($"o_orderkey" % 30 === 0).count()
    assert(matchedIn(st.touched) > 0)
    assert(matchedIn(st.carried) == 0)
  }

  test("q88 snapshot isolation: v1 still resolves post-merge") {
    val v1 = GraftManifest.read(st.base, 1).paths
    assert(v1.sorted == st.v1Files.sorted)
    // and every listed file still exists (COW never deletes)
    assert(v1.forall(p => new java.io.File(p).isFile))
    val n = spark.read.parquet(v1: _*).count()
    assert(n == spark.read.parquet(v1: _*)
      .filter($"o_orderkey" % 3 === 0).count())
  }

  test("q88 COW and MOR produce identical row sets") {
    val cow = spark.read.parquet(GraftManifest.read(st.base, 2).paths: _*)
    val mor = Extras6.q88ReadMor(spark, st)
    val key = Seq("o_orderkey", "o_orderstatus", "price")
    assert(cow.count() == mor.count())
    assert(cow.exceptAll(mor).isEmpty && mor.exceptAll(cow).isEmpty)
    // the merge actually did something: v2 differs from v1
    val v1 = spark.read.parquet(GraftManifest.read(st.base, 1).paths: _*)
    assert(v1.exceptAll(cow).count() > 0)
    assert(key.forall(cow.columns.contains))
  }

  // --- q89: compaction commit --------------------------------------

  private lazy val cst = Extras6.q89Build(spark, sf)

  test("q89 rewrites exactly the planned multi-file bins, one file per bin") {
    val multi = cst.bins.filter(_._2.length > 1)
    assert(multi.nonEmpty, "fixture must produce at least one multi-file bin")
    // one output file per planned multi-file bin
    assert(cst.compacted.length == multi.length)
    // every output path carries its bin id; planned bins are the only ones
    val outBins = cst.compacted.map { p =>
      "bin=(\\d+)".r.findFirstMatchIn(p).get.group(1).toLong
    }.sorted
    assert(outBins == multi.map(_._1).sorted)
    // carried = exactly the singleton bins' files, untouched paths
    assert(cst.carried.sorted == cst.bins.filter(_._2.length == 1).flatMap(_._2).sorted)
    // v2 file count = bin count
    assert(GraftManifest.read(cst.base, 2).paths.length == cst.bins.length)
  }

  test("q89 compaction preserves contents and v1 stays resolvable") {
    val v1 = spark.read.parquet(GraftManifest.read(cst.base, 1).paths: _*)
    val v2 = spark.read.parquet(GraftManifest.read(cst.base, 2).paths: _*)
    assert(v2.columns.sorted.toSeq == v1.columns.sorted.toSeq)
    assert(v1.exceptAll(v2).isEmpty && v2.exceptAll(v1).isEmpty)
    assert(GraftManifest.read(cst.base, 1).paths.sorted == cst.v1Files.sorted)
    assert(cst.v1Files.forall(p => new java.io.File(p).isFile))
    // compaction reduced the file count (the op's reason to exist)
    assert(GraftManifest.read(cst.base, 2).paths.length < cst.v1Files.length)
  }

  // --- q91: vacuum / snapshot expiration ----------------------------

  test("q91 vacuum deletes exactly the unreferenced files and spares shared ones") {
    // rebuild the same table WITHOUT vacuuming to know the true file sets
    val vst = Extras6.q91Build(spark, sf)
    assert(vst.deleted.nonEmpty, "the COW delete must have rewritten some file")
    assert(vst.sharedSurvivors.nonEmpty,
      "some v1 files must carry into v2 by reference (else GC is trivial)")
    // every deleted file is gone; every shared survivor still on disk
    vst.deleted.foreach(p => assert(!new java.io.File(p).exists(), s"$p not deleted"))
    vst.sharedSurvivors.foreach(p =>
      assert(new java.io.File(p).isFile, s"shared $p was wrongly deleted"))
    // deleted ∩ retained = ∅ (no retained version lost a file)
    val retained = (2 to 3).flatMap(GraftManifest.read(vst.base, _).paths).toSet
    assert(vst.deleted.toSet.intersect(retained).isEmpty)
    // retained versions still read completely
    for (v <- 2 to 3) {
      val files = GraftManifest.read(vst.base, v).paths
      assert(files.forall(p => new java.io.File(p).isFile))
      assert(spark.read.parquet(files: _*).count() > 0)
    }
    // the expired manifest is gone
    assert(!new java.io.File(s"${vst.base}/_manifests/v1.txt").exists())
  }

  // --- q92: change data feed -----------------------------------------

  test("q92 pruned diff equals the naive full diff and reads fewer files") {
    val base = Extras6.q92Build(spark, sf)
    for ((i, j) <- Seq((1, 2), (2, 3), (3, 4))) {
      val pruned = Extras6.q92Diff(spark, base, i, j, pruned = true)
      val naive = Extras6.q92Diff(spark, base, i, j, pruned = false)
      assert(pruned.exceptAll(naive).isEmpty && naive.exceptAll(pruned).isEmpty,
        s"transition $i->$j: pruned and naive diffs disagree")
      // pruning is real: the symmetric difference is smaller than both
      // full manifests together (shared carried files are skipped)
      val fi = GraftManifest.read(base, i).paths
      val fj = GraftManifest.read(base, j).paths
      val prunedFiles = fi.filterNot(fj.toSet).length + fj.filterNot(fi.toSet).length
      assert(prunedFiles < fi.length + fj.length,
        s"transition $i->$j: no file was shared, pruning is vacuous")
    }
    // rewritten-file collateral is classified away: the v1->v2 feed
    // must contain ONLY deletes (the delete rewrote whole files, but
    // untouched neighbor rows in them are 'carried', not changes)
    val d12 = Extras6.q92Diff(spark, base, 1, 2)
    val types = d12.select("change_type").distinct()
      .collect().map(_.getString(0)).toSet
    assert(types == Set("delete"), s"v1->v2 types: $types")
  }
}
