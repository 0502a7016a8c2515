package graft.streaming

import graft.SparkSpec
import graft.queries.Extras6
import graft.sources.{GraftCatalog, GraftChangeFeed, GraftChangeFeedStream, GraftVersionOffset}
import graft.sources.GraftManifest
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.DecimalType

/** Pins the streaming change-feed contract (st22) the oracle hash
  * cannot see:
  *  - RESUME: the engine's checkpointed offset is the manifest version
  *    — a drained query re-run on the same checkpoint emits NOTHING,
  *    and after a new commit it emits ONLY the new transition;
  *  - PRUNING: a transition's input partitions cover exactly the
  *    symmetric difference of the two manifests (shared carried files
  *    are never opened).
  */
class StreamChangeFeedSpec extends SparkSpec {
  import spark.implicits._

  private def drainOnce(name: String, ckpt: String): Seq[(String, Long)] = {
    val acc = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
    val q = spark.readStream.table(s"graft.$name.changes")
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        StreamOps.classifyChanges(batch).collect()
          .foreach(r => acc.add((r.getString(0), r.getLong(2))))
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    import scala.jdk.CollectionConverters._
    acc.asScala.toSeq
  }

  test("restart resumes from the committed version; no re-emission") {
    val base = Extras6.q92Build(spark, sf) // versions 1..4
    GraftCatalog.install(spark)
    val name = s"cdfspec_${java.util.UUID.randomUUID().toString.take(8)}"
    GraftCatalog.register(name, base)
    val ckpt = graft.Scratch.dir("cdf_spec_ckpt")

    val first = drainOnce(name, ckpt)
    assert(first.map(_._1).toSet ==
      Set("v1_to_v2", "v2_to_v3", "v3_to_v4"))

    // same checkpoint, no new commits: nothing re-emits
    assert(drainOnce(name, ckpt).isEmpty)

    // a new commit arrives; the restarted query serves ONLY it
    Extras6.cowMergeCommit(spark, base, 4,
      graft.Tables.load(spark, sf, "orders")
        .filter($"o_orderkey" % 30 === 9)
        .select($"o_orderkey".as("d_key"), lit("U").as("d_op"),
          $"o_orderstatus".as("d_status"),
          ($"o_totalprice".cast(DecimalType(18, 2)) + 7)
            .cast(DecimalType(18, 2)).as("d_price")))
    val third = drainOnce(name, ckpt)
    assert(third.map(_._1).toSet == Set("v4_to_v5"),
      s"expected only the new transition, got $third")
  }

  test("batch SELECT over graft.<t>.changes equals the streamed truth") {
    val base = Extras6.q92Build(spark, sf)
    GraftCatalog.install(spark)
    val name = s"cdfbat_${java.util.UUID.randomUUID().toString.take(8)}"
    GraftCatalog.register(name, base)
    val batch = StreamOps.classifyChanges(
        spark.sql(s"SELECT * FROM graft.$name.changes"))
      .orderBy($"transition", $"change_type").collect().toSeq
    val streamed = {
      val acc = new java.util.concurrent.ConcurrentLinkedQueue[
        org.apache.spark.sql.Row]()
      val q = spark.readStream.table(s"graft.$name.changes")
        .writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          StreamOps.classifyChanges(b).collect().foreach(acc.add); ()
        }
        .option("checkpointLocation", graft.Scratch.dir("cdf_bat_ckpt"))
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
      import scala.jdk.CollectionConverters._
      acc.asScala.toSeq.sortBy(r => (r.getString(0), r.getString(1)))
    }
    assert(batch.map(_.toString) == streamed.map(_.toString))
    assert(batch.nonEmpty)
    // a bounded window reads only its transitions
    val bounded = spark.read.option("endingVersion", "2")
      .table(s"graft.$name.changes")
    assert(bounded.select($"commit_version").distinct()
      .as[Long].collect().toSeq == Seq(2L))
  }

  test("vacuumed versions fail with a retention error, not a raw FS exception") {
    val base = Extras6.q92Build(spark, sf) // versions 1..4
    GraftCatalog.install(spark)
    val name = s"cdfvac_${java.util.UUID.randomUUID().toString.take(8)}"
    GraftCatalog.register(name, base)
    // VACUUM away v1 (the q91 shape: retained versions keep their files)
    val retained = (2 to 4).flatMap(GraftManifest.read(base, _).paths).toSet
    GraftManifest.read(base, 1).paths.filterNot(retained)
      .foreach(p => java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(p)))
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(base, "_manifests", "v1.txt"))

    def messagesOf(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messagesOf(t.getCause)

    // startingVersion below the horizon (or nonsensical) fails FAST at
    // scan build, naming the valid range — Delta's out-of-retention shape
    for (bad <- Seq("0", "1")) {
      val e = intercept[Exception] {
        spark.read.option("startingVersion", bad)
          .table(s"graft.$name.changes").collect()
      }
      assert(messagesOf(e).exists(m =>
        m.contains("unavailable") && m.contains("VACUUM")),
        s"startingVersion=$bad: expected a retention error, got: ${messagesOf(e)}")
    }

    // from the earliest still-resolvable version the feed serves
    // exactly the surviving transitions
    val ok = spark.read.option("startingVersion", "2")
      .table(s"graft.$name.changes")
    assert(ok.select($"commit_version").distinct()
      .as[Long].collect().sorted.toSeq == Seq(3L, 4L))

    // a transition expiring MID-STREAM (planInputPartitions hitting a
    // vacuumed endpoint) reports the same retention contract
    val stream = new GraftChangeFeedStream(base,
      GraftChangeFeed.schemaFor(base), 1, GraftChangeFeed.physicalOf(base))
    val e2 = intercept[Exception] {
      stream.planInputPartitions(GraftVersionOffset(0), GraftVersionOffset(2))
    }
    assert(messagesOf(e2).exists(_.contains("expired by VACUUM")))
  }

  test("a transition's partitions are exactly the manifests' symmetric difference") {
    val base = Extras6.q92Build(spark, sf)
    val stream = new GraftChangeFeedStream(base,
      GraftChangeFeed.schemaFor(base), 1, GraftChangeFeed.physicalOf(base))
    val parts = stream.planInputPartitions(
      GraftVersionOffset(1), GraftVersionOffset(2))
      .map(_.asInstanceOf[graft.sources.GraftParquetIO.GraftFileSplit])
    val pre = GraftManifest.read(base, 1).paths.toSet
    val post = GraftManifest.read(base, 2).paths.toSet
    val shared = pre.intersect(post)
    assert(shared.nonEmpty, "fixture must carry files for pruning to matter")
    assert(parts.forall(p => !shared.contains(p.path)),
      "carried files must never be planned")
    def sideOf(p: graft.sources.GraftParquetIO.GraftFileSplit): String =
      p.constants("side").asInstanceOf[String]
    assert(parts.filter(sideOf(_) == "pre").map(_.path).toSet == pre -- shared)
    assert(parts.filter(sideOf(_) == "post").map(_.path).toSet == post -- shared)
    assert(parts.forall(_.constants("commit_version") == 2L))
  }

  test("startingTimestamp addresses the feed identically to its version twin (r16)") {
    // q97's fixture commits v1/v2/v3 at controlled #ts headers
    // (2026-03-01T00:00Z + 0h/2h/4h)
    val base = graft.queries.Extras7.q97Build(spark, sf)
    GraftCatalog.install(spark)
    val name = s"cdfts_${java.util.UUID.randomUUID().toString.take(8)}"
    GraftCatalog.register(name, base)
    def millisAt(h: Int): Long =
      java.time.Instant.parse("2026-03-01T00:00:00Z")
        .plusSeconds(h * 3600L).toEpochMilli
    def versions(df: DataFrame): Seq[Long] =
      df.select($"commit_version").distinct().as[Long].collect().toSeq.sorted
    // a timestamp between v1 and v2 resolves to v1 (exclusive): the
    // feed serves transitions 1→2 and 2→3 — same as startingVersion=1
    val byVersion = spark.read.option("startingVersion", "1")
      .table(s"graft.$name.changes")
    val byTs = spark.read
      .option("startingTimestamp", millisAt(1).toString)
      .table(s"graft.$name.changes")
    assert(versions(byTs) == versions(byVersion))
    assert(byTs.count() == byVersion.count() && byTs.count() > 0)
    // at v2's exact commit instant: changes AFTER v2 → only 2→3
    assert(versions(spark.read
      .option("startingTimestamp", millisAt(2).toString)
      .table(s"graft.$name.changes")) == Seq(3L))
    // predating history: the whole available feed
    assert(versions(spark.read
      .option("startingTimestamp", millisAt(-48).toString)
      .table(s"graft.$name.changes")) == Seq(2L, 3L))
    // endingTimestamp bounds inclusively at its resolved version
    assert(versions(spark.read
      .option("endingTimestamp", millisAt(2).toString)
      .table(s"graft.$name.changes")) == Seq(2L))
    // a timestamp literal in the session time zone parses identically
    val lit = java.time.Instant.ofEpochMilli(millisAt(1))
      .atZone(java.time.ZoneId.of("UTC")).toLocalDateTime
      .format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
    assert(versions(spark.read.option("startingTimestamp", lit)
      .table(s"graft.$name.changes")) == versions(byVersion))
    // mixing version and timestamp bounds is refused
    val e = intercept[Exception] {
      spark.read.option("startingVersion", "1")
        .option("startingTimestamp", millisAt(1).toString)
        .table(s"graft.$name.changes").collect()
    }
    def msgs(t: Throwable): String =
      if (t == null) "" else Option(t.getMessage).getOrElse("") + msgs(t.getCause)
    assert(msgs(e).contains("not both"))
  }
}
