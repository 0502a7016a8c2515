package graft.streaming

import graft.SparkSpec
import graft.sources.{GraftCatalog, GraftStreamingCommit}
import graft.sources.GraftManifest
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.DecimalType

/** Pins the streaming-sink contract (st23) the oracle hash cannot see:
  * per-epoch txn watermarks make replays no-ops, watermark lookup
  * ignores other writers' headers, every committed file carries key
  * stats, and epochs stage in their own subdirectories. */
class GraftStreamSinkSpec extends SparkSpec {
  import spark.implicits._

  test("writeStream.toTable commits one version per micro-batch with stats") {
    GraftCatalog.install(spark)
    val name = s"sinkspec_${java.util.UUID.randomUUID().toString.take(8)}"
    val base = graft.Scratch.dir("sinkspec_table")
    spark.sql(s"CREATE TABLE graft.$name (o_orderkey BIGINT, " +
      s"o_orderstatus STRING, price DECIMAL(18,2)) LOCATION '$base'")
    val src = graft.Scratch.dir("sinkspec_feed")
    graft.Tables.load(spark, sf, "orders")
      .filter($"o_orderkey" % 7 === 0)
      .select($"o_orderkey", $"o_orderstatus",
        $"o_totalprice".cast(DecimalType(18, 2)).as("price"))
      .repartition(3)
      .write.parquet(src)
    val q = spark.readStream.schema(spark.read.parquet(src).schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
      .writeStream
      .option("txnAppId", s"app_$name")
      .option("checkpointLocation", graft.Scratch.dir("sinkspec_ckpt"))
      .trigger(Trigger.AvailableNow())
      .toTable(s"graft.$name")
    try q.awaitTermination() finally q.stop()

    val latest = GraftManifest.latest(base)
    assert(latest == 4, s"CREATE v1 + 3 file-batches, got v$latest")
    val entries = GraftManifest.read(base, latest).entries
    // every committed file has writer-tracked key stats and lives in
    // its epoch's own staging dir
    assert(entries.nonEmpty)
    assert(entries.forall(_.stats.isDefined))
    assert(entries.forall(_.path.contains("/epoch-")),
      s"expected per-epoch staging dirs, got ${entries.map(_.path)}")
    // each data commit carries this app's txn watermark, epochs ascending
    val epochs = (2 to latest).map(v =>
      GraftManifest.read(base, v).headers("txn").split("\t") match {
        case Array(a, e) => assert(a == s"app_$name"); e.toLong
      })
    assert(epochs == epochs.sorted)
    // the table's content equals the feed
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.$name").head().getLong(0) ==
      spark.read.parquet(src).count())
    // the history metadata table surfaces the txn watermarks
    val hist = spark.sql(s"SELECT version, txn_app_id, txn_epoch " +
      s"FROM graft.$name.history ORDER BY version").collect()
    assert(hist.length == latest)
    assert(hist.head.isNullAt(1), "CREATE's commit carries no txn")
    assert(hist.tail.forall(_.getString(1) == s"app_$name"))
    assert(hist.tail.map(_.getLong(2)) sameElements
      hist.tail.map(_.getLong(2)).sorted)
  }

  test("a replayed epoch is a no-op; other writers' watermarks don't mask it") {
    val base = graft.Scratch.dir("sinkspec_replay")
    GraftManifest.commitAt(base, 1, Seq.empty)
    assert(GraftStreamingCommit.commitEpoch(base, "appA", 0L,
      Seq(GraftManifest.Entry("a0.parquet"))))
    assert(GraftStreamingCommit.commitEpoch(base, "appA", 1L,
      Seq(GraftManifest.Entry("a1.parquet"))))
    // an unrelated writer's txn header lands in between
    assert(GraftStreamingCommit.commitEpoch(base, "appB", 7L,
      Seq(GraftManifest.Entry("b7.parquet"))))
    val before = GraftManifest.latest(base)
    // replays of BOTH committed epochs are rejected at the watermark
    assert(!GraftStreamingCommit.commitEpoch(base, "appA", 0L,
      Seq(GraftManifest.Entry("a0-replay.parquet"))))
    assert(!GraftStreamingCommit.commitEpoch(base, "appA", 1L,
      Seq(GraftManifest.Entry("a1-replay.parquet"))))
    assert(GraftManifest.latest(base) == before, "replays must not commit")
    // the next epoch still lands, and carries everything committed so far
    assert(GraftStreamingCommit.commitEpoch(base, "appA", 2L,
      Seq(GraftManifest.Entry("a2.parquet"))))
    val files = GraftManifest.read(base, before + 1).entries.map(_.path).toSet
    assert(files == Set("a0.parquet", "a1.parquet", "b7.parquet", "a2.parquet"))
    assert(GraftStreamingCommit.lastEpoch(base, "appA").contains(2L))
    assert(GraftStreamingCommit.lastEpoch(base, "appB").contains(7L))
    assert(GraftStreamingCommit.lastEpoch(base, "appC").isEmpty)
  }

  /** Appends a foreign (txn-less) commit carrying the current files. */
  private def foreignCommit(base: String): Unit = {
    val latest = GraftManifest.latest(base)
    assert(GraftManifest.publish(base, latest + 1,
      GraftManifest.read(base, latest).entries :+
        GraftManifest.Entry(s"foreign-$latest.parquet")))
  }

  test("watermark lookup is incremental: foreign interleave costs O(new), steady state O(1)") {
    val base = graft.Scratch.dir("sinkspec_incr")
    GraftManifest.commitAt(base, 1, Seq.empty)
    GraftStreamingCommit.resetCacheForTest()
    assert(GraftStreamingCommit.commitEpoch(base, "appI", 0L,
      Seq(GraftManifest.Entry("e0.parquet"))))
    // a busy foreign writer lands 30 commits between our epochs
    (1 to 30).foreach(_ => foreignCommit(base))
    val r0 = GraftStreamingCommit.headerReads.get()
    assert(GraftStreamingCommit.commitEpoch(base, "appI", 1L,
      Seq(GraftManifest.Entry("e1.parquet"))))
    val interleaved = GraftStreamingCommit.headerReads.get() - r0
    assert(interleaved <= 32,
      s"must scan only the 30 new versions once, read $interleaved headers")
    // steady state (no foreign interleave): the cache frontier is the
    // committed version — zero header reads for the next epoch
    val r1 = GraftStreamingCommit.headerReads.get()
    assert(GraftStreamingCommit.commitEpoch(base, "appI", 2L,
      Seq(GraftManifest.Entry("e2.parquet"))))
    val steady = GraftStreamingCommit.headerReads.get() - r1
    assert(steady == 0, s"steady-state epoch commit read $steady headers")
    // a second interleave wave costs its own delta, not the history
    (1 to 30).foreach(_ => foreignCommit(base))
    val r2 = GraftStreamingCommit.headerReads.get()
    assert(GraftStreamingCommit.commitEpoch(base, "appI", 3L,
      Seq(GraftManifest.Entry("e3.parquet"))))
    val wave2 = GraftStreamingCommit.headerReads.get() - r2
    assert(wave2 <= 32, s"second wave must not rescan history, read $wave2")
  }

  test("a zombie twin replaying the same epoch cannot double-commit (CAS re-check)") {
    val base = graft.Scratch.dir("sinkspec_zombie")
    GraftManifest.commitAt(base, 1, Seq.empty)
    assert(GraftStreamingCommit.commitEpoch(base, "appZ", 0L,
      Seq(GraftManifest.Entry("z0.parquet"))))
    // the r15 ADVICE race: both drivers of the same app pass the
    // initial replay check for epoch 1; the twin commits fully between
    // our check and our CAS attempt. Clearing the cache afterwards
    // models the twin living in ANOTHER JVM — our re-check must catch
    // it from the manifests alone.
    var fired = false
    GraftStreamingCommit.casRaceHook = () => {
      if (!fired) {
        fired = true
        assert(GraftStreamingCommit.commitEpoch(base, "appZ", 1L,
          Seq(GraftManifest.Entry("z1-twin.parquet"))))
        GraftStreamingCommit.resetCacheForTest()
      }
    }
    try {
      assert(!GraftStreamingCommit.commitEpoch(base, "appZ", 1L,
        Seq(GraftManifest.Entry("z1-ours.parquet"))),
        "the CAS loser must see the twin's watermark and drop the epoch")
    } finally GraftStreamingCommit.casRaceHook = () => ()
    val latest = GraftManifest.latest(base)
    val epoch1Commits = (1 to latest).flatMap(v =>
      GraftManifest.read(base, v).headers.get("txn")).count(_ == "appZ\t1")
    assert(epoch1Commits == 1, s"epoch 1 committed $epoch1Commits times")
    assert(GraftManifest.read(base, latest).entries.map(_.path)
      .count(_.startsWith("z1")) == 1, "exactly one epoch-1 file set lands")
  }
}
