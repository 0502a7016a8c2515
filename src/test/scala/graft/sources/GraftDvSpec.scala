package graft.sources

import graft.SparkSpec
import graft.queries.{Extras5, Extras7}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Pins the deletion-vector contract (q96) the oracle hash cannot see:
  * a MOR delete touches NO data file (paths, sizes byte-stable), the
  * sidecars carry exactly the matched ordinals, a second delete MERGES
  * positions, purge rewrites only DV'd files and restores the columnar
  * split path, reads stay exact under tiny splits over multi-row-group
  * files, the change feed serves a DV-only commit as pre/post of the
  * same file, and a racing DV republish conflicts a COW statement
  * (commit identity is (path, dv), not path). */
class GraftDvSpec extends SparkSpec {
  import spark.implicits._

  private val D2 = DecimalType(18, 2)

  private def buildV1(tag: String, blockSize: Option[Int] = None): String = {
    val base = graft.Scratch.dir(s"dvspec_$tag")
    // multi-row-group fixtures: all rows in ONE file with a tiny block
    // size (the writer checks the block budget every 100 records)
    val df = graft.Tables.load(spark, sf, "orders")
      .filter($"o_orderkey" % 3 === 0)
      .select($"o_orderkey", $"o_orderstatus",
        $"o_totalprice".cast(D2).as("price"))
      .repartitionByRange(if (blockSize.isDefined) 1 else 4, $"o_orderkey")
    val w = df.write
    blockSize.fold(w)(b => w.option("parquet.block.size", b.toString)
        .option("parquet.page.size", (b / 4).toString))
      .parquet(s"$base/files-v1")
    val v1 = partFiles(s"$base/files-v1")
    val stats = Extras5.parquetKeyStats(v1, "o_orderkey")
    GraftManifest.commitAt(base, 1,
      v1.map(f => GraftManifest.Entry(f, stats.get(f))))
    base
  }

  private def register(base: String): String = {
    GraftCatalog.install(spark)
    val name = s"dv_${java.util.UUID.randomUUID().toString.take(8)}"
    GraftCatalog.register(name, base)
    name
  }

  /** The input partitions a plain scan of `name` plans (latest, or at
    * `version`). */
  private def plannedSplits(name: String,
      version: Option[String] = None): Seq[GraftParquetIO.GraftFileSplit] = {
    val cat = new GraftCatalog
    cat.initialize("graft", CaseInsensitiveStringMap.empty())
    val id = Identifier.of(Array.empty, name)
    val t = version.fold(cat.loadTable(id))(cat.loadTable(id, _))
      .asInstanceOf[GraftTable]
    new GraftScanBuilder(t, None).build().asInstanceOf[GraftScan]
      .planInputPartitions().toSeq
      .map(_.asInstanceOf[GraftParquetIO.GraftFileSplit])
  }

  private def partFiles(dir: String): Seq[String] =
    new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .map(_.getAbsolutePath).toSeq.sorted

  test("MOR delete touches no data file; sidecars carry exactly the matched ordinals") {
    val base = buildV1("immutable")
    val v1 = GraftManifest.read(base, 1).entries
    val sizesBefore = v1.map(e => e.path -> new java.io.File(e.path).length()).toMap
    val expectDeleted = spark.read.parquet(v1.map(_.path): _*)
      .filter($"o_orderstatus" === "F" && $"o_orderkey" % 2 === 0).count()
    assert(expectDeleted > 0, "fixture must match some rows")

    val v = Extras7.deleteMorOcc(spark, base,
      col("o_orderstatus") === "F" && col("o_orderkey") % 2 === 0)
    assert(v == 2)
    val v2 = GraftManifest.read(base, 2).entries
    // same data files, byte-identical
    assert(v2.map(_.path) == v1.map(_.path))
    v2.foreach(e => assert(new java.io.File(e.path).length() == sizesBefore(e.path)))
    // committed stats carry through a DV republish
    assert(v2.forall(_.stats.isDefined))
    // sidecar ordinal count == matched rows
    val dvTotal = v2.flatMap(_.dv).map(d => GraftDv.read(d).length.toLong).sum
    assert(dvTotal == expectDeleted, s"DV ordinals $dvTotal != matched $expectDeleted")
    // catalog read subtracts them; v1 unaffected
    val name = register(base)
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.$name").head().getLong(0) ==
      spark.read.parquet(v1.map(_.path): _*).count() - expectDeleted)
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.$name VERSION AS OF 1")
      .head().getLong(0) == spark.read.parquet(v1.map(_.path): _*).count())
  }

  test("second delete merges positions into existing sidecars") {
    val base = buildV1("merge")
    Extras7.deleteMorOcc(spark, base, col("o_orderstatus") === "F")
    val v2 = GraftManifest.read(base, 2).entries
    val d1 = v2.flatMap(_.dv).map(d => GraftDv.read(d).length.toLong).sum
    Extras7.deleteMorOcc(spark, base, col("o_orderstatus") === "O")
    val v3 = GraftManifest.read(base, 3).entries
    val d2Expected = spark.read.parquet(v2.map(_.path): _*)
      .filter($"o_orderstatus" === "O").count()
    val d3 = v3.flatMap(_.dv).map(d => GraftDv.read(d).length.toLong).sum
    assert(d3 == d1 + d2Expected,
      s"merged DV must hold both deletes' ordinals: $d3 != $d1 + $d2Expected")
    // merged sidecars are NEW files (old version's DVs stay readable)
    val v2Dvs = v2.flatMap(_.dv).toSet
    val replaced = v3.filter(e => e.dv.isDefined && v2.exists(o =>
      o.path == e.path && o.dv.isDefined))
    assert(replaced.forall(e => !v2Dvs(e.dv.get)),
      "a re-deleted file's sidecar must be a fresh file, not an in-place edit")
    // and positions inside each sidecar are strictly ascending
    v3.flatMap(_.dv).foreach { d =>
      val a = GraftDv.read(d)
      assert(a.zip(a.drop(1)).forall { case (x, y) => x < y })
    }
  }

  test("purge rewrites only DV'd files, drops DVs, and restores columnar splits") {
    val base = buildV1("purge")
    Extras7.deleteMorOcc(spark, base,
      col("o_orderstatus") === "F" && col("o_orderkey") % 4 === 0)
    val v2 = GraftManifest.read(base, 2).entries
    val untouched = v2.filter(_.dv.isEmpty).map(_.path).toSet
    val name = register(base)
    val before = spark.sql(
      s"SELECT COUNT(*), SUM(o_orderkey) FROM graft.$name").head()

    val v = Extras7.purgeDv(spark, base, statsColumn = Some("o_orderkey"))
    assert(v.contains(3))
    val v3 = GraftManifest.read(base, 3).entries
    assert(v3.forall(_.dv.isEmpty), "purge must drop every DV")
    assert(v3.forall(_.stats.isDefined), "purge recommits key stats")
    assert(untouched.subsetOf(v3.map(_.path).toSet),
      "files without DVs carry by reference, not rewrite")
    // reads identical pre/post purge (layout maintenance invariant)
    assert(spark.sql(
      s"SELECT COUNT(*), SUM(o_orderkey) FROM graft.$name").head() == before)
    // split planning: DV'd splits at v2, none at v3
    assert(plannedSplits(name, Some("2")).exists(_.dv.isDefined))
    assert(plannedSplits(name).forall(_.dv.isEmpty))
  }

  test("DV reads stay exact under tiny splits over multi-row-group files") {
    val base = buildV1("splits", blockSize = Some(2048))
    val v1 = GraftManifest.read(base, 1).entries
    // the fixture really is multi-row-group (else the test proves nothing)
    val groups = GraftParquet.footer(v1.head.path).getBlocks.size()
    assert(groups > 1, s"fixture file has $groups row group(s); need > 1")

    Extras7.deleteMorOcc(spark, base, col("o_orderkey") % 5 === 0)
    val name = register(base)
    val expect = spark.read.parquet(v1.map(_.path): _*)
      .filter($"o_orderkey" % 5 =!= 0)
      .agg(count(lit(1)), sum($"o_orderkey"), sum($"price")).head()
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1k")
    try {
      val got = spark.sql(
        s"SELECT COUNT(*), SUM(o_orderkey), SUM(price) FROM graft.$name").head()
      assert(got == expect,
        "split DV reads must neither lose nor duplicate rows")
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", "128MB")
  }

  test("change feed serves a DV-only commit: same file both sides, ordinals applied") {
    val base = buildV1("cdf")
    val v1 = GraftManifest.read(base, 1).entries
    val deleted = spark.read.parquet(v1.map(_.path): _*)
      .filter($"o_orderstatus" === "F" && $"o_orderkey" % 2 === 0)
      .select($"o_orderkey").as[Long].collect().toSet
    Extras7.deleteMorOcc(spark, base,
      col("o_orderstatus") === "F" && col("o_orderkey") % 2 === 0)
    val name = register(base)
    val feed = spark.sql(
      s"SELECT side, o_orderkey FROM graft.$name.changes")
      .as[(String, Long)].collect()
    val pre = feed.collect { case ("pre", k) => k }.toSet
    val post = feed.collect { case ("post", k) => k }.toSet
    assert((pre -- post) == deleted,
      "the feed's pre-minus-post keys must be exactly the MOR-deleted rows")
    assert(post.subsetOf(pre), "a DV-only commit adds no rows")
  }

  test("a racing DV republish conflicts a COW statement (identity is path+dv)") {
    val base = buildV1("conflict")
    val name = register(base)
    // the UPDATE targets 'F' rows; the interleaved MOR delete republishes
    // the same files' DVs between the UPDATE's snapshot and its CAS
    GraftCatalog.commitRaceHook = () => {
      Extras7.deleteMorOcc(spark, base,
        col("o_orderstatus") === "F" && col("o_orderkey") % 2 === 0)
      ()
    }
    val e = intercept[Exception] {
      spark.sql(s"UPDATE graft.$name SET price = CAST(0 AS DECIMAL(18,2)) " +
        "WHERE o_orderstatus = 'F'")
    }
    def causes(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else t.getMessage +: causes(t.getCause)
    assert(causes(e).exists(m => m != null && m.contains("concurrent write conflict")),
      s"expected a conflict, got: ${causes(e).mkString(" <- ")}")
  }

  test("SQL DELETE on a merge-on-read table writes sidecars via SupportsDelta") {
    GraftCatalog.install(spark)
    val base = graft.Scratch.dir("dvspec_sqldel")
    val name = s"sqldel_${java.util.UUID.randomUUID().toString.take(8)}"
    spark.sql(s"CREATE TABLE graft.$name (o_orderkey BIGINT, " +
      "o_orderstatus STRING, price DECIMAL(18,2)) " +
      s"LOCATION '$base' TBLPROPERTIES ('graft.delete.mode' = 'merge-on-read')")
    graft.Tables.load(spark, sf, "orders")
      .filter($"o_orderkey" % 3 === 0)
      .select($"o_orderkey", $"o_orderstatus",
        $"o_totalprice".cast(D2).as("price"))
      .createOrReplaceTempView(s"src_$name")
    spark.sql(s"INSERT INTO graft.$name SELECT * FROM src_$name")
    val v2 = GraftManifest.read(base, 2).entries
    val sizes = v2.map(e => e.path -> new java.io.File(e.path).length()).toMap
    val total = spark.sql(s"SELECT COUNT(*) FROM graft.$name").head().getLong(0)
    val expectDel = spark.sql(s"SELECT COUNT(*) FROM graft.$name " +
      "WHERE o_orderstatus = 'F'").head().getLong(0)
    assert(expectDel > 0)

    spark.sql(s"DELETE FROM graft.$name WHERE o_orderstatus = 'F'")
    val v3 = GraftManifest.read(base, 3).entries
    // no data file touched: same paths, same bytes, sidecars only
    assert(v3.map(_.path) == v2.map(_.path))
    v3.foreach(e => assert(new java.io.File(e.path).length() == sizes(e.path)))
    val dvTotal = v3.flatMap(_.dv).map(d => GraftDv.read(d).length.toLong).sum
    assert(dvTotal == expectDel, s"sidecar ordinals $dvTotal != $expectDel")
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.$name").head().getLong(0) ==
      total - expectDel)
    // second DELETE merges into the sidecars through the SQL path too
    val expectDel2 = spark.sql(s"SELECT COUNT(*) FROM graft.$name " +
      "WHERE o_orderkey % 10 = 0").head().getLong(0)
    spark.sql(s"DELETE FROM graft.$name WHERE o_orderkey % 10 = 0")
    val v4 = GraftManifest.read(base, 4).entries
    val dvTotal2 = v4.flatMap(_.dv).map(d => GraftDv.read(d).length.toLong).sum
    assert(dvTotal2 == expectDel + expectDel2)
    // a COW UPDATE composes on top: it reads DV-subtracted rows,
    // rewrites the touched files, and the rewritten files drop their DVs
    val preCount = spark.sql(s"SELECT COUNT(*) FROM graft.$name")
      .head().getLong(0)
    spark.sql(s"UPDATE graft.$name SET price = CAST(price + 1 AS DECIMAL(18,2)) " +
      "WHERE o_orderkey % 2 = 1")
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.$name").head().getLong(0) ==
      preCount, "UPDATE must not resurrect DV-deleted rows")
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.$name " +
      "WHERE o_orderstatus = 'F'").head().getLong(0) == 0)
  }

  test("SQL MERGE in merge-on-read mode: sidecars + appended delta files, one commit") {
    GraftCatalog.install(spark)
    val base = graft.Scratch.dir("dvspec_mormerge")
    val name = s"mormerge_${java.util.UUID.randomUUID().toString.take(8)}"
    spark.sql(s"CREATE TABLE graft.$name (o_orderkey BIGINT, " +
      "o_orderstatus STRING, price DECIMAL(18,2)) " +
      s"LOCATION '$base' TBLPROPERTIES ('graft.merge.mode' = 'merge-on-read')")
    graft.Tables.load(spark, sf, "orders")
      .filter($"o_orderkey" % 3 === 0)
      .select($"o_orderkey", $"o_orderstatus",
        $"o_totalprice".cast(D2).as("price"))
      .createOrReplaceTempView(s"src_$name")
    spark.sql(s"INSERT INTO graft.$name SELECT * FROM src_$name")
    val v2 = GraftManifest.read(base, 2).entries
    val sizes = v2.map(e => e.path -> new java.io.File(e.path).length()).toMap
    graft.Tables.load(spark, sf, "orders")
      .filter($"o_orderkey" % 30 <= 1)
      .select($"o_orderkey".as("d_key"), lit("X").as("d_status"),
        $"o_totalprice".cast(D2).as("d_price"))
      .createOrReplaceTempView(s"delta_$name")
    spark.sql(
      s"""MERGE INTO graft.$name t USING delta_$name d
         |ON t.o_orderkey = d.d_key
         |WHEN MATCHED THEN UPDATE SET price = CAST(t.price + 5 AS DECIMAL(18,2))
         |WHEN NOT MATCHED THEN INSERT (o_orderkey, o_orderstatus, price)
         |  VALUES (d.d_key, d.d_status, d.d_price)""".stripMargin)
    // exactly ONE commit: v3 = v2's files (byte-identical) with DVs on
    // matched files, plus stats-carrying appended delta files
    assert(GraftManifest.latest(base) == 3)
    val v3 = GraftManifest.read(base, 3).entries
    val v2Paths = v2.map(_.path).toSet
    val (carried, appended) = v3.partition(e => v2Paths(e.path))
    assert(carried.map(_.path) == v2.map(_.path), "no base file rewritten")
    carried.foreach(e =>
      assert(new java.io.File(e.path).length() == sizes(e.path)))
    assert(carried.exists(_.dv.isDefined), "matched rows superseded via DV")
    assert(appended.nonEmpty && appended.forall(_.stats.isDefined),
      "updates' new values + inserts land as stats-carrying appends")
    // superseded = matched keys; appended rows = matched + inserted
    val matched = spark.read.parquet(v2.map(_.path): _*)
      .filter($"o_orderkey" % 30 <= 1).count()
    val dvTotal = v3.flatMap(_.dv).map(d => GraftDv.read(d).length.toLong).sum
    assert(dvTotal == matched)
    val deltaRows = spark.table(s"delta_$name").count()
    assert(spark.read.parquet(appended.map(_.path): _*).count() == deltaRows)
    // composed read: count unchanged by updates, grown by inserts
    val base2 = spark.read.parquet(v2.map(_.path): _*).count()
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.$name").head().getLong(0) ==
      base2 + (deltaRows - matched))
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.$name " +
      "WHERE o_orderstatus = 'X'").head().getLong(0) == deltaRows - matched)
  }

  test("a racing DV republish conflicts a MOR DELETE too (positions are snapshot-bound)") {
    GraftCatalog.install(spark)
    val base = graft.Scratch.dir("dvspec_morrace")
    val name = s"morrace_${java.util.UUID.randomUUID().toString.take(8)}"
    spark.sql(s"CREATE TABLE graft.$name (o_orderkey BIGINT, " +
      "o_orderstatus STRING, price DECIMAL(18,2)) " +
      s"LOCATION '$base' TBLPROPERTIES ('graft.delete.mode' = 'merge-on-read')")
    graft.Tables.load(spark, sf, "orders")
      .filter($"o_orderkey" % 3 === 0)
      .select($"o_orderkey", $"o_orderstatus",
        $"o_totalprice".cast(D2).as("price"))
      .createOrReplaceTempView(s"src_$name")
    spark.sql(s"INSERT INTO graft.$name SELECT * FROM src_$name")
    // the interleaved writer re-DVs the same files between the SQL
    // DELETE's snapshot and its CAS: the DELETE's positions were
    // computed against the old (path, dv) identity and must not commit
    GraftCatalog.commitRaceHook = () => {
      Extras7.deleteMorOcc(spark, base,
        col("o_orderstatus") === "F" && col("o_orderkey") % 4 === 0)
      ()
    }
    def causes(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ causes(t.getCause)
    val e = intercept[Exception] {
      spark.sql(s"DELETE FROM graft.$name WHERE o_orderstatus = 'F'")
    }
    assert(causes(e).exists(_.contains("concurrent write conflict")),
      s"expected a conflict, got: ${causes(e).mkString(" <- ")}")
  }

  test("SQL MOR DELETE row ids stay exact under tiny splits over multi-row-group files") {
    GraftCatalog.install(spark)
    // multi-row-group single data file, registered as a MOR-delete table
    val base = buildV1("sqlsplit", blockSize = Some(2048))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(base, "_props.json"),
      """{"graft.delete.mode":"merge-on-read"}""".getBytes("UTF-8"))
    val name = register(base)
    val v1 = GraftManifest.read(base, 1).entries
    val expect = spark.read.parquet(v1.map(_.path): _*)
      .filter($"o_orderkey" % 7 =!= 0)
      .agg(count(lit(1)), sum($"o_orderkey")).head()
    val toDelete = spark.read.parquet(v1.map(_.path): _*)
      .filter($"o_orderkey" % 7 === 0).count()
    // tiny split target: the DELETE's _pos-projecting scan fans the one
    // file across many splits; each split's ordinals must start at its
    // row groups' true first row index or the sidecar kills wrong rows
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1k")
    try {
      spark.sql(s"DELETE FROM graft.$name WHERE o_orderkey % 7 = 0")
      val v2 = GraftManifest.read(base, 2).entries
      assert(v2.map(_.path) == v1.map(_.path), "no data file touched")
      assert(v2.flatMap(_.dv).map(d => GraftDv.read(d).length.toLong).sum
        == toDelete)
      val got = spark.sql(
        s"SELECT COUNT(*), SUM(o_orderkey) FROM graft.$name").head()
      assert(got == expect,
        "split-positioned DELETE must kill exactly the matched rows")
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", "128MB")
  }

  test("planning a whole-file split never opens the file") {
    // not parquet: any footer read would throw
    val path = s"${graft.Scratch.dir("dvspec_nofooter")}.parquet"
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      "not a parquet file".getBytes("UTF-8"))
    val len = new java.io.File(path).length()
    val splits = GraftParquetIO.planSplits(Seq(path),
      dvFor = _ => Some(s"$path.dv"), needRowRange = _ => true)
    assert(splits == Seq(GraftParquetIO.GraftFileSplit(path, 0L, len,
      dv = Some(s"$path.dv"), firstRow = Some(0L))))
  }

  test("one scan over whole-file and multi-split DV'd files: DELETE positions and reads exact") {
    GraftCatalog.install(spark)
    val base = graft.Scratch.dir("dvspec_mixed")
    val rows = graft.Tables.load(spark, sf, "orders")
      .select($"o_orderkey", $"o_orderstatus",
        $"o_totalprice".cast(D2).as("price"))
    // one multi-row-group file (tiny block size) and three small files
    rows.filter($"o_orderkey" % 3 === 0).repartition(1).write
      .option("parquet.block.size", "2048").option("parquet.page.size", "512")
      .parquet(s"$base/files-big")
    rows.filter($"o_orderkey" % 30 === 1).repartition(3).write
      .parquet(s"$base/files-small")
    val big = partFiles(s"$base/files-big")
    val small = partFiles(s"$base/files-small")
    val files = big ++ small
    val stats = Extras5.parquetKeyStats(files, "o_orderkey")
    GraftManifest.commitAt(base, 1,
      files.map(f => GraftManifest.Entry(f, stats.get(f))))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(base, "_props.json"),
      """{"graft.delete.mode":"merge-on-read"}""".getBytes("UTF-8"))
    val name = register(base)
    val len = files.map(f => f -> new java.io.File(f).length()).toMap
    // a split target between the sizes: small files stay whole, the big
    // one fans out into several splits
    val target = small.map(len).max
    assert(big.size == 1 && len(big.head) > 2 * target,
      s"fixture sizes: big ${big.map(len)}, small ${small.map(len)}")
    val expectPos = files.map(f => f -> spark.read.parquet(f)
      .withColumn("pos", col("_metadata.row_index"))
      .filter($"o_orderkey" % 7 === 0)
      .select($"pos").as[Long].collect().sorted.toSeq).toMap
    val expect = spark.read.parquet(files: _*)
      .filter($"o_orderkey" % 7 =!= 0)
      .agg(count(lit(1)), sum($"o_orderkey")).head()
    spark.conf.set("spark.sql.files.maxPartitionBytes", target.toString)
    try {
      // the DELETE's _pos scan mixes whole-file and multi-split files
      spark.sql(s"DELETE FROM graft.$name WHERE o_orderkey % 7 = 0")
      val v2 = GraftManifest.read(base, 2).entries
      assert(v2.map(_.path).sorted == files, "no data file touched")
      val gotPos = v2.map(e =>
        e.path -> e.dv.map(d => GraftDv.read(d).toSeq).getOrElse(Seq.empty)).toMap
      assert(gotPos == expectPos, "sidecars must hold exactly the matched positions")
      // the read that follows plans DV'd splits of both kinds
      val splits = plannedSplits(name).filter(_.dv.isDefined)
      assert(splits.exists(s => s.length == len(s.path) && small.contains(s.path)))
      assert(splits.count(_.path == big.head) > 1)
      val got = spark.sql(
        s"SELECT COUNT(*), SUM(o_orderkey) FROM graft.$name").head()
      assert(got == expect, "the read must subtract exactly the deleted rows")
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", "128MB")
  }

  test("vacuum-style reference counting treats live DV sidecars as retained") {
    val base = buildV1("vacuum")
    Extras7.deleteMorOcc(spark, base, col("o_orderstatus") === "F")
    val v2 = GraftManifest.read(base, 2).entries
    val liveDvs = v2.flatMap(_.dv)
    assert(liveDvs.nonEmpty)
    // expire v1 the way q91 does: its paths minus v2's live set
    val retained = v2.flatMap(e => e.path +: e.dv.toList).toSet
    val expired = GraftManifest.read(base, 1).entries
      .flatMap(e => e.path +: e.dv.toList)
    assert(expired.filterNot(retained).isEmpty,
      "v1's data files all carry into v2 (DV delete rewrites nothing)")
    liveDvs.foreach(d => assert(new java.io.File(d).exists()))
  }
}
