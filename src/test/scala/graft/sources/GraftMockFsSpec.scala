package graft.sources

import graft.SparkSpec
import graft.queries.Extras7
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A local-backed Hadoop FileSystem registered under a FOREIGN scheme
  * (`graftmock://`) — the standard Hadoop trick (RawLocalFs shape) for
  * driving the code paths an `hdfs://` or `s3a://` table would take
  * without a cluster: scheme resolution through `fs.<scheme>.impl`,
  * the FileContext binding through `fs.AbstractFileSystem.<scheme>
  * .impl`. */
class GraftMockFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "graftmock"
  override def getUri: java.net.URI = java.net.URI.create("graftmock:///")
}

/** FileContext-side binding (the CAS rename path resolves this). */
class GraftMockAbstractFs(uri: java.net.URI,
    conf: org.apache.hadoop.conf.Configuration)
    extends org.apache.hadoop.fs.DelegateToFileSystem(
      uri, new GraftMockFileSystem, conf, "graftmock", false)

/** The GENERIC (non-`file:`) GraftFs branch, exercised end-to-end
  * under a registered foreign scheme: unlike GraftFsSpec's `file://`
  * lifecycle (which CASes through the local hard-link primitive),
  * every operation here — including `putIfAbsent`'s staged-write +
  * `FileContext.rename(Rename.NONE)` publish, the recipe an HDFS
  * table uses — resolves through Hadoop scheme lookup exactly as an
  * object-store or HDFS path would. Pins that the protocol, the
  * catalog SQL surface, and the MOR (deletion-vector) machinery carry
  * no hidden `file:`/local assumptions. (Atomicity of rename-NONE
  * itself is HDFS's documented contract, not provable on a local
  * mock.) */
class GraftMockFsSpec extends SparkSpec {
  import spark.implicits._

  /** Arms ONLY the session's Hadoop configuration — the normal Spark
    * way to register a scheme. GraftFs derives its conf session-fresh
    * (r16 ADVICE fix), so a registration made after other suites
    * already did protocol I/O is still visible with no direct arming
    * of GraftFs internals. */
  private lazy val armed: Unit = {
    val c = spark.sparkContext.hadoopConfiguration
    c.set("fs.graftmock.impl", classOf[GraftMockFileSystem].getName)
    c.set("fs.AbstractFileSystem.graftmock.impl",
      classOf[GraftMockAbstractFs].getName)
  }

  private def mockDir(tag: String): String = {
    armed
    s"graftmock:${graft.Scratch.dir(tag)}"
  }

  test("primitives under a foreign scheme, incl. the FileContext CAS publish") {
    val dir = mockDir("mock_prim")
    GraftFs.mkdirs(dir)
    GraftFs.writeBytes(s"$dir/a.txt", "hello".getBytes("UTF-8"))
    assert(GraftFs.readString(s"$dir/a.txt") == "hello")
    assert(GraftFs.length(s"$dir/a.txt") == 5L)
    assert(GraftFs.listNames(dir).contains("a.txt"))
    GraftFs.writeAtomicReplace(s"$dir/a.txt", "swap".getBytes("UTF-8"))
    assert(GraftFs.readString(s"$dir/a.txt") == "swap")
    // the generic CAS: staged temp + FileContext rename-NONE — first
    // publish wins, the second observes the existing target and loses
    assert(GraftFs.putIfAbsent(s"$dir/cas.txt", "one".getBytes("UTF-8")))
    assert(!GraftFs.putIfAbsent(s"$dir/cas.txt", "two".getBytes("UTF-8")))
    assert(GraftFs.readString(s"$dir/cas.txt") == "one")
    // no staging temp left behind by the losing attempt
    assert(GraftFs.listNames(dir).count(_.startsWith(".cas.txt")) == 0)
    intercept[java.nio.file.NoSuchFileException] {
      GraftFs.readBytes(s"$dir/missing.txt")
    }
    // batched lengths resolve through one foreign-scheme listing
    assert(GraftFs.lengths(Seq(s"$dir/a.txt", s"$dir/cas.txt")) ==
      Map(s"$dir/a.txt" -> 4L, s"$dir/cas.txt" -> 3L))
    GraftFs.deleteRecursively(dir)
    assert(!GraftFs.exists(dir))
  }

  test("catalog lifecycle on a graftmock:// base: insert, COW delete, MOR delete, history") {
    GraftCatalog.install(spark)
    val base = mockDir("mock_table")
    GraftFs.mkdirs(base)
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType, nullable = false),
      StructField("o_orderstatus", StringType, nullable = true),
      StructField("price", DecimalType(18, 2), nullable = true)))
    GraftFs.writeBytes(s"$base/_schema.json", schema.json.getBytes("UTF-8"))
    GraftManifest.commitAt(base, 1, Seq.empty)
    val name = s"mock_${java.util.UUID.randomUUID().toString.take(8)}"
    GraftCatalog.register(name, base)
    spark.sql(s"INSERT INTO graft.$name VALUES " +
      (1 to 30).map(k => s"($k, '${if (k % 3 == 0) "F" else "O"}', CAST($k AS DECIMAL(18,2)))")
        .mkString(", "))
    assert(GraftManifest.read(base, 2).paths.forall(_.startsWith("graftmock:")),
      "manifest entries keep the foreign-scheme form")
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.$name").head().getLong(0) == 30L)
    // COW delete (runtime group filtering, rewrite, CAS) on the scheme
    spark.sql(s"DELETE FROM graft.$name WHERE o_orderkey % 5 = 0")
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.$name").head().getLong(0) == 24L)
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.$name VERSION AS OF 2")
      .head().getLong(0) == 30L)
    // MOR delete: _metadata.file_path identity must hold under the
    // foreign scheme (sidecars land behind the scheme too)
    val v = Extras7.deleteMorOcc(spark, base, col("o_orderstatus") === "F")
    val dvd = GraftManifest.read(base, v).entries.filter(_.dv.isDefined)
    assert(dvd.nonEmpty && dvd.forall(_.dv.get.startsWith("graftmock:")))
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.$name").head().getLong(0) == 16L)
    // history + CALL restore through the SQL boundary
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.$name.history")
      .head().getLong(0) == v.toLong)
    spark.sql(s"CALL graft.system.restore('$name', 2)")
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.$name").head().getLong(0) == 30L)
  }
}
