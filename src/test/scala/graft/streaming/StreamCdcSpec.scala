package graft.streaming

import graft.SparkSpec
import graft.queries.Extras6
import graft.sources.GraftManifest
import org.apache.spark.sql.functions._

/** Pins st21's CDC-apply contract:
  *  - the STREAMED apply (one COW merge commit per micro-batch, file-
  *    to-batch assignment engine-chosen) produces exactly the same final
  *    table as a ONE-SHOT batch merge of the whole feed — upserts and
  *    deletes over unique keys commute across batches;
  *  - every intermediate version is a complete, readable snapshot and
  *    v1 is untouched (time travel through a CDC stream's history);
  *  - commit count = micro-batch count (4 feed files, maxFilesPerTrigger=1).
  */
class StreamCdcSpec extends SparkSpec {
  import spark.implicits._

  private def feed = {
    import org.apache.spark.sql.types.DecimalType
    graft.Tables.load(spark, sf, "orders")
      .filter($"o_orderkey" % 7 <= 1)
      .select($"o_orderkey".as("d_key"),
        when($"o_orderstatus" === "F", "D").otherwise("U").as("d_op"),
        $"o_orderstatus".as("d_status"),
        ($"o_totalprice".cast(DecimalType(18, 2)) + 50)
          .cast(DecimalType(18, 2)).as("d_price"))
  }

  test("st21 streamed CDC equals a one-shot merge of the whole feed") {
    val (base, nCommits, feedFiles) = EventsStream.st21Run(spark, sf)
    assert(nCommits == feedFiles, "one commit per feed file")
    val streamed = spark.read.parquet(
      GraftManifest.read(base, (1 + nCommits).toInt).paths: _*)

    val oneBase = Extras6.cdcBase(spark, sf)
    Extras6.cowMergeCommit(spark, oneBase, 1, feed)
    val oneShot = spark.read.parquet(GraftManifest.read(oneBase, 2).paths: _*)

    assert(streamed.count() == oneShot.count())
    assert(streamed.exceptAll(oneShot).isEmpty && oneShot.exceptAll(streamed).isEmpty)

    // every intermediate version resolves and reads completely
    for (v <- 1 to (1 + nCommits).toInt) {
      val files = GraftManifest.read(base, v).paths
      assert(files.nonEmpty)
      assert(spark.read.parquet(files: _*).count() > 0)
    }
    // v1 unchanged: only keys ≡ 0 (mod 3), original prices
    val v1 = spark.read.parquet(GraftManifest.read(base, 1).paths: _*)
    assert(v1.filter($"o_orderkey" % 3 =!= 0).count() == 0)
    // the stream actually changed the table
    assert(v1.exceptAll(streamed).count() > 0)
  }

  test("a competing commit mid-stream rebases; both deltas land, nothing throws") {
    import org.apache.spark.sql.types.DecimalType
    // competing delta on a key OUTSIDE the feed (≡ 3 mod 7, so the
    // streaming batches never touch it): deterministic composition
    val competingKey = graft.Tables.load(spark, sf, "orders")
      .filter($"o_orderkey" % 21 === 3)
      .select(min($"o_orderkey")).as[Long].head()
    val competing = graft.Tables.load(spark, sf, "orders")
      .filter($"o_orderkey" === competingKey)
      .select($"o_orderkey".as("d_key"), lit("U").as("d_op"),
        lit("RACER").as("d_status"),
        $"o_totalprice".cast(DecimalType(18, 2)).as("d_price"))
    // fire the competitor INSIDE the first batch's snapshot->CAS window
    // (the OCC race seam): its single-writer commit wins that version,
    // the stream's batch must rebase — not throw
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    val (base, nCommits, feedFiles) = EventsStream.st21Run(spark, sf,
      raceHook = (tableBase, from) =>
        if (fired.compareAndSet(false, true))
          Extras6.cowMergeCommit(spark, tableBase, from, competing))
    assert(nCommits == feedFiles, "every micro-batch still committed")
    val finalV = GraftManifest.latest(base)
    assert(finalV == (1 + nCommits + 1).toInt,
      s"stream commits + the competitor must all land, latest=$finalV")
    val fin = spark.read.parquet(GraftManifest.read(base, finalV).paths: _*)
    // the competitor's delta survived the interleaved stream commits
    assert(fin.filter($"o_orderkey" === competingKey &&
      $"o_orderstatus" === "RACER").count() == 1)
    // and the streamed CDC result equals the one-shot truth everywhere else
    val oneBase = Extras6.cdcBase(spark, sf)
    Extras6.cowMergeCommit(spark, oneBase, 1, feed)
    val oneShot = spark.read.parquet(GraftManifest.read(oneBase, 2).paths: _*)
      .filter($"o_orderkey" =!= competingKey)
    val streamed = fin.filter($"o_orderkey" =!= competingKey)
    assert(streamed.exceptAll(oneShot).isEmpty && oneShot.exceptAll(streamed).isEmpty)
  }
}
