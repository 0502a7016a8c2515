package graft.streaming

import graft.SparkSpec
import graft.queries.Extras7
import graft.sources.GraftCatalog
import graft.sources.GraftManifest
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.DecimalType

/** Pins the streaming-table-read contract (st24) the oracle hash
  * cannot see: the engine checkpoint resumes without re-emission, a
  * non-append commit fails the stream with the change-feed pointer
  * (Delta's data-update contract), skipChangeCommits skips the WHOLE
  * commit (its appends included — no torn reads) and the stream
  * continues, and startingVersion bounds the replay. */
class StreamTableReadSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(tag: String): (String, String) = {
    GraftCatalog.install(spark)
    val base = graft.Scratch.dir(s"str_$tag")
    val name = s"str_${tag}_${java.util.UUID.randomUUID().toString.take(8)}"
    spark.sql(s"CREATE TABLE graft.$name (o_orderkey BIGINT, " +
      s"o_orderstatus STRING, price DECIMAL(18,2)) LOCATION '$base'")
    (name, base)
  }

  private def insertSlice(name: String, m: Int): Unit = {
    graft.Tables.load(spark, sf, "orders").filter($"o_orderkey" % 4 === m)
      .select($"o_orderkey", $"o_orderstatus",
        $"o_totalprice".cast(DecimalType(18, 2)).as("price"))
      .createOrReplaceTempView(s"src_${name}_$m")
    spark.sql(s"INSERT INTO graft.$name SELECT * FROM src_${name}_$m")
  }

  /** Drains with AvailableNow; returns per-batch row counts. */
  private def drain(name: String, ckpt: String,
      options: Map[String, String] = Map.empty): Seq[Long] = {
    val acc = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    var r = spark.readStream
    options.foreach { case (k, v) => r = r.option(k, v) }
    val q = r.table(s"graft.$name")
      .writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        val n = b.count(); if (n > 0) acc.add(n); ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    import scala.jdk.CollectionConverters._
    acc.asScala.toSeq
  }

  test("appends stream one commit per batch; restart resumes, never re-emits") {
    val (name, _) = freshTable("resume")
    insertSlice(name, 0); insertSlice(name, 1)
    val ckpt = graft.Scratch.dir("str_ckpt")
    val first = drain(name, ckpt)
    assert(first.size == 2, s"two insert commits → two batches, got $first")
    assert(first.sum == spark.sql(s"SELECT COUNT(*) FROM graft.$name")
      .head().getLong(0))
    // same checkpoint, nothing new: zero rows re-emitted
    assert(drain(name, ckpt).isEmpty)
    // one more commit: exactly its rows arrive
    insertSlice(name, 2)
    val delta = drain(name, ckpt)
    assert(delta.size == 1)
    assert(delta.head == spark.sql(s"SELECT COUNT(*) FROM graft.$name " +
      "WHERE o_orderkey % 4 = 2").head().getLong(0))
  }

  /** One-batch drain (Trigger.Once): lets a test stop MID-COMMIT under
    * maxFilesPerTrigger and resume from the partial offset. */
  private def drainOne(name: String, ckpt: String,
      options: Map[String, String]): Seq[Long] = {
    val acc = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    var r = spark.readStream
    options.foreach { case (k, v) => r = r.option(k, v) }
    val q = r.table(s"graft.$name")
      .writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        val n = b.count(); if (n > 0) acc.add(n); ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.Once()).start()
    try q.awaitTermination() finally q.stop()
    import scala.jdk.CollectionConverters._
    acc.asScala.toSeq
  }

  test("maxFilesPerTrigger bounds batches within one commit; mid-commit restart never re-emits (r17)") {
    val (name, base) = freshTable("mft")
    // ONE commit holding 5 files — the giant-backfill shape
    graft.Tables.load(spark, sf, "orders").filter($"o_orderkey" % 4 === 0)
      .select($"o_orderkey", $"o_orderstatus",
        $"o_totalprice".cast(DecimalType(18, 2)).as("price"))
      .repartition(5)
      .createOrReplaceTempView(s"src_${name}_big")
    spark.sql(s"INSERT INTO graft.$name SELECT * FROM src_${name}_big")
    assert(GraftManifest.read(base, 2).entries.size == 5,
      "fixture must land 5 files in one commit")
    val total = spark.sql(s"SELECT COUNT(*) FROM graft.$name")
      .head().getLong(0)
    // the commit drains across ceil(5/2) = 3 bounded batches
    val ckpt = graft.Scratch.dir("str_mft_ckpt")
    val batches = drain(name, ckpt, Map("maxFilesPerTrigger" -> "2"))
    assert(batches.size == 3, s"expected 3 bounded batches, got $batches")
    assert(batches.sum == total)
    assert(drain(name, ckpt, Map("maxFilesPerTrigger" -> "2")).isEmpty)
    // restart MID-COMMIT: one bounded batch, stop, resume — exactly the
    // remaining rows arrive, none twice
    val ckpt2 = graft.Scratch.dir("str_mft_ckpt2")
    val first = drainOne(name, ckpt2, Map("maxFilesPerTrigger" -> "2"))
    assert(first.size == 1 && first.head < total,
      s"Trigger.Once must serve one bounded batch, got $first")
    val rest = drain(name, ckpt2, Map("maxFilesPerTrigger" -> "2"))
    assert(first.sum + rest.sum == total,
      "mid-commit resume must serve exactly the remainder")
  }

  test("a non-append commit fails the stream and points at the change feed") {
    val (name, _) = freshTable("fail")
    insertSlice(name, 0)
    val ckpt = graft.Scratch.dir("str_ckpt_f")
    assert(drain(name, ckpt).size == 1)
    spark.sql(s"DELETE FROM graft.$name WHERE o_orderstatus = 'F'") // COW rewrite
    def msgs(t: Throwable): String =
      if (t == null) "" else Option(t.getMessage).getOrElse("") + msgs(t.getCause)
    val e = intercept[Exception] { drain(name, ckpt) }
    assert(msgs(e).contains("appends only") && msgs(e).contains("changes"),
      s"got: ${msgs(e).take(300)}")
  }

  test("skipChangeCommits skips the whole commit (DV republish included) and continues") {
    val (name, base) = freshTable("skip")
    insertSlice(name, 0)
    val ckpt = graft.Scratch.dir("str_ckpt_s")
    assert(drain(name, ckpt, Map("skipChangeCommits" -> "true")).size == 1)
    // a MOR delete republished a file's DV — a data change, no path removed
    Extras7.deleteMorOcc(spark, base, col("o_orderstatus") === "F")
    assert(GraftManifest.read(base, GraftManifest.latest(base)).entries
      .exists(_.dv.isDefined), "fixture must DV a file")
    insertSlice(name, 3)
    val after = drain(name, ckpt, Map("skipChangeCommits" -> "true"))
    // the DV commit contributed NOTHING; the next append arrived intact
    assert(after.size == 1)
    assert(after.head == spark.sql(s"SELECT COUNT(*) FROM graft.$name " +
      "WHERE o_orderkey % 4 = 3").head().getLong(0))
  }

  test("startingVersion bounds the replay (exclusive)") {
    val (name, base) = freshTable("sv")
    insertSlice(name, 0); insertSlice(name, 1) // v2, v3
    assert(GraftManifest.latest(base) == 3)
    val got = drain(name, graft.Scratch.dir("str_ckpt_v"),
      Map("startingVersion" -> "2"))
    assert(got.size == 1, s"only v2→v3 should be served, got $got")
    assert(got.head == spark.sql(s"SELECT COUNT(*) FROM graft.$name " +
      "WHERE o_orderkey % 4 = 1").head().getLong(0))
  }

  test("startingTimestamp addresses the stream like its version twin") {
    val (name, base) = freshTable("ts")
    insertSlice(name, 0); insertSlice(name, 1) // v2, v3
    val t2 = GraftManifest.commitTime(base, 2)
    // at v2's commit instant: appends AFTER it → only v3's rows
    val after2 = drain(name, graft.Scratch.dir("str_ckpt_t1"),
      Map("startingTimestamp" -> t2.toString))
    assert(after2 == drain(name, graft.Scratch.dir("str_ckpt_t2"),
      Map("startingVersion" -> "2")))
    // predating history: the full replay, batch per commit
    val all = drain(name, graft.Scratch.dir("str_ckpt_t3"),
      Map("startingTimestamp" -> "1"))
    assert(all.size == 2 && all.sum ==
      spark.sql(s"SELECT COUNT(*) FROM graft.$name").head().getLong(0))
    // both bounds at once is refused
    def msgs(t: Throwable): String =
      if (t == null) "" else Option(t.getMessage).getOrElse("") + msgs(t.getCause)
    val e = intercept[Exception] {
      drain(name, graft.Scratch.dir("str_ckpt_t4"),
        Map("startingTimestamp" -> "1", "startingVersion" -> "1"))
    }
    assert(msgs(e).contains("not both"))
  }
}
