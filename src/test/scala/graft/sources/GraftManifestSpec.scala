package graft.sources

import graft.SparkSpec
import graft.queries.{Extras5, Extras6}
import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog}

/** A local-backed Hadoop FileSystem under the `graftcount://` scheme
  * that records every path it opens — how the spec below observes how
  * often a table load or a commit reads a manifest. */
class GraftCountingFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "graftcount"
  override def getUri: java.net.URI = java.net.URI.create("graftcount:///")
  override def open(f: org.apache.hadoop.fs.Path,
      bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    GraftCountingFileSystem.opened.add(f.toUri.getPath)
    super.open(f, bufferSize)
  }
}

object GraftCountingFileSystem {
  val opened = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  /** Manifest paths opened since the last `clear()`, in order. */
  def manifestOpens: Seq[String] = {
    import scala.jdk.CollectionConverters._
    opened.asScala.toSeq.filter(_.matches(".*/_manifests/v\\d+\\.txt"))
  }
}

/** FileContext-side binding (the CAS rename path resolves this). */
class GraftCountingAbstractFs(uri: java.net.URI,
    conf: org.apache.hadoop.conf.Configuration)
    extends org.apache.hadoop.fs.DelegateToFileSystem(
      uri, new GraftCountingFileSystem, conf, "graftcount", false)

/** Pins the manifest module: the exact bytes of the format (existing
  * tables must stay readable), one manifest read per table load and
  * per commit, and the yielding compaction commit carrying full entries
  * and checking inputs by (path, DV) identity. */
class GraftManifestSpec extends SparkSpec {
  import spark.implicits._

  private val E = GraftManifest.Entry

  /** One entry of every line form the writer emits. */
  private val golden = Seq(
    E("/t/a.parquet"),
    E("/t/b.parquet", Some((1L, 9L))),
    E("/t/c.parquet", Some((10L, 20L)), Some("/t/dv/c.gdv")),
    E("/t/c2.parquet", None, Some("/t/dv/c2.gdv")),
    E("/t/d.parquet", Some((-5L, 5L)), None,
      Map("o_custkey" -> (3L, 4L), "we=ird:;col\t" -> (0L, 1L))),
    E("/t/e.parquet", None, None, Map.empty,
      Map("o_orderstatus" -> "F", "days.o_orderdate" -> "19000",
        "re gion/x" -> "a=b;c%", "nul" -> null)),
    E("/t/f.parquet", Some((7L, 8L)), Some("/t/dv/f.gdv"),
      Map("o_orderkey" -> (7L, 8L)), Map("o_orderstatus" -> "O")))

  test("the manifest format is byte-stable and parses back to equal entries") {
    val base = graft.Scratch.dir("manifest_golden")
    assert(GraftManifest.publish(base, 1, golden.reverse, Seq(
      "ts" -> "1700000000000", "schema" -> "0123456789ab",
      "props" -> "ba9876543210", "txn" -> "app\t7")))
    // captured from the writer before the format moved into GraftManifest
    assert(GraftFs.readString(GraftManifest.fileOf(base, 1)) ==
      "#ts\t1700000000000\n#schema\t0123456789ab\n#props\tba9876543210\n" +
      "#txn\tapp\t7\n/t/a.parquet\n/t/b.parquet\t1\t9\n" +
      "/t/c.parquet\t10\t20\t/t/dv/c.gdv\n/t/c2.parquet\t-\t-\t/t/dv/c2.gdv\n" +
      "/t/d.parquet\t-5\t5\t-\to_custkey=3:4;we%3Dird%3A%3Bcol%09=0:1\n" +
      "/t/e.parquet\t-\t-\t-\t-\tdays.o_orderdate=v19000;nul=;" +
      "o_orderstatus=vF;re+gion%2Fx=va%3Db%3Bc%25\n" +
      "/t/f.parquet\t7\t8\t/t/dv/f.gdv\to_orderkey=7:8\to_orderstatus=vO")
    val back = GraftManifest.read(base, 1)
    assert(back.entries == golden)
    assert(back.headers == Map("ts" -> "1700000000000",
      "schema" -> "0123456789ab", "props" -> "ba9876543210", "txn" -> "app\t7"))
    // a later commit without schema/props headers carries them forward
    assert(GraftManifest.publish(base, 2, golden.take(2), Seq("ts" -> "1700000000001")))
    assert(GraftFs.readString(GraftManifest.fileOf(base, 2)) ==
      "#ts\t1700000000001\n#schema\t0123456789ab\n#props\tba9876543210\n" +
      "/t/a.parquet\n/t/b.parquet\t1\t9")
  }

  test("a table load reads its manifest once; an INSERT reads only the latest, once") {
    val c = spark.sparkContext.hadoopConfiguration
    c.set("fs.graftcount.impl", classOf[GraftCountingFileSystem].getName)
    c.set("fs.AbstractFileSystem.graftcount.impl",
      classOf[GraftCountingAbstractFs].getName)
    GraftCatalog.install(spark)
    val local = graft.Scratch.dir("manifest_reads")
    val name = s"reads_${java.util.UUID.randomUUID().toString.take(8)}"
    spark.sql(s"CREATE TABLE graft.$name (k BIGINT, s STRING) " +
      s"LOCATION 'graftcount:$local'")
    spark.sql(s"INSERT INTO graft.$name VALUES (1, 'a'), (2, 'b')")
    val v2 = s"$local/_manifests/v2.txt"

    GraftCountingFileSystem.opened.clear()
    val catalog = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[TableCatalog]
    val table = catalog.loadTable(Identifier.of(Array.empty, name), "2")
    assert(table.schema().fieldNames.toSeq == Seq("k", "s"))
    assert(table.properties().get("version") == "2")
    assert(GraftCountingFileSystem.manifestOpens == Seq(v2))

    GraftCountingFileSystem.opened.clear()
    spark.sql(s"INSERT INTO graft.$name VALUES (3, 'c')")
    assert(GraftCountingFileSystem.manifestOpens == Seq(v2))
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.$name").head().getLong(0) == 3L)
  }

  test("SELECT * FROM t.history opens each manifest once") {
    val c = spark.sparkContext.hadoopConfiguration
    c.set("fs.graftcount.impl", classOf[GraftCountingFileSystem].getName)
    c.set("fs.AbstractFileSystem.graftcount.impl",
      classOf[GraftCountingAbstractFs].getName)
    GraftCatalog.install(spark)
    val local = graft.Scratch.dir("history_reads")
    val name = s"hist_${java.util.UUID.randomUUID().toString.take(8)}"
    spark.sql(s"CREATE TABLE graft.$name (k BIGINT) LOCATION 'graftcount:$local'")
    spark.sql(s"INSERT INTO graft.$name VALUES (1)")
    spark.sql(s"INSERT INTO graft.$name VALUES (2)")

    GraftCountingFileSystem.opened.clear()
    val versions = spark.sql(s"SELECT * FROM graft.$name.history")
      .collect().map(_.getLong(0)).toSeq
    assert(versions == Seq(1L, 2L, 3L))
    assert(GraftCountingFileSystem.manifestOpens.sorted ==
      (1 to 3).map(v => s"$local/_manifests/v$v.txt"))
  }

  /** A 3-file table (keys 0-9, 10-19, 20-29 in key order, key stats on
    * every file) and its v1 entries: the first file carries a DV
    * deleting its first two rows (keys 0 and 1). */
  private def dvTable(tag: String): (String, Seq[GraftManifest.Entry]) = {
    val base = graft.Scratch.dir(tag)
    val files = (0 until 3).flatMap { i =>
      val d = s"$base/files-v1/p$i"
      spark.range(i * 10, i * 10 + 10)
        .select($"id".as("o_orderkey"), ($"id" * 2).as("v"))
        .coalesce(1).write.parquet(d)
      GraftFs.list(d).map(_._2).filter(_.endsWith(".parquet"))
    }
    val stats = Extras5.parquetKeyStats(files, "o_orderkey")
    val dv = s"$base/dv/first.gdv"
    GraftDv.write(dv, Array(0L, 1L))
    val entries = files.zipWithIndex.map { case (f, i) =>
      E(f, stats.get(f), if (i == 0) Some(dv) else None,
        colStats = Map("o_orderkey" -> stats(f)))
    }
    GraftManifest.commitAt(base, 1, entries)
    (base, entries)
  }

  /** Compacts `inputs` into one output file under `outDir`. */
  private def compactOutput(inputs: Seq[GraftManifest.Entry],
      outDir: String): Seq[GraftManifest.Entry] = {
    spark.read.parquet(inputs.map(_.path): _*).coalesce(1).write.parquet(outDir)
    GraftFs.list(outDir).map(_._2).filter(_.endsWith(".parquet"))
      .map(GraftManifest.Entry(_))
  }

  test("compaction keeps the carried entries' DVs and stats") {
    val (base, v1) = dvTable("compact_carry")
    val inputs = v1.tail
    val outDir = s"$base/compact-v2"
    val committed = Extras6.compactionCommitOcc(base, inputs,
      compactOutput(inputs, outDir), outDir)
    assert(committed.contains(2))
    val v2 = GraftManifest.read(base, 2).entries
    assert(v2.contains(v1.head), "the untouched DV'd entry is carried whole")
    assert(v2.size == 2)
    val name = s"compact_${java.util.UUID.randomUUID().toString.take(8)}"
    GraftCatalog.register(name, base)
    GraftCatalog.install(spark)
    assert(spark.sql(s"SELECT COUNT(*), SUM(o_orderkey) FROM graft.$name")
      .head() == org.apache.spark.sql.Row(28L, (2L to 29L).sum),
      "the two DV-deleted rows stay deleted")
  }

  test("a concurrent DV on a compaction input makes the compaction abandon") {
    val (base, v1) = dvTable("compact_conflict")
    val inputs = v1.tail
    val outDir = s"$base/compact-v2"
    val outputs = compactOutput(inputs, outDir)
    // a data writer DVs one input between planning and commit
    val dv = s"$base/dv/late.gdv"
    GraftDv.write(dv, Array(3L))
    GraftManifest.commitAt(base, 2,
      v1.map(e => if (e == inputs.head) e.copy(dv = Some(dv)) else e))
    assert(Extras6.compactionCommitOcc(base, inputs, outputs, outDir).isEmpty)
    assert(GraftManifest.latest(base) == 2, "the abandoned compaction commits nothing")
    assert(!GraftFs.exists(outDir), "its output is deleted")
  }
}
