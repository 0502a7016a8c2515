package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Lineage cut for corpus-scale intermediates that are consumed more
  * than once (LSH signature/band frames, shingle indexes, quantized
  * corpora): materializes the frame once and severs the plan so
  * downstream consumers read the materialized blocks instead of
  * re-executing the producing pipeline per consumer.
  *
  * Two durability modes, selected by whether the session has a reliable
  * checkpoint directory configured (`SparkContext.setCheckpointDir` —
  * the standard cluster deployment knob; nothing graft-specific):
  *
  *  - RELIABLE (`df.checkpoint()`): blocks go to the checkpoint
  *    filesystem (HDFS/object store). An executor loss re-reads them;
  *    a multi-hour 100 TB dedup run survives. This is the mode a real
  *    cluster job should run in.
  *  - LOCAL (`df.localCheckpoint()`): blocks pin in executor storage —
  *    no distributed-FS round-trip, right for local mode and tests,
  *    but an executor loss drops blocks whose lineage no longer exists
  *    and fails the job.
  *
  * Both modes produce identical results (spec'd in MaterializeSpec);
  * only failure-recovery durability differs.
  */
object Materialize {

  /** Materialize `df`, reliably iff the session has a checkpoint dir. */
  def apply(df: DataFrame): DataFrame =
    apply(df, df.sparkSession.sparkContext.getCheckpointDir.isDefined)

  /** Materialize `df` with the durability mode chosen explicitly. */
  def apply(df: DataFrame, reliable: Boolean): DataFrame =
    if (reliable) df.checkpoint() else df.localCheckpoint()

  /** [[Materialize]] as a chainable method, so call sites read like the
    * `.localCheckpoint()` they replace. */
  implicit class MaterializeOps(private val df: DataFrame) extends AnyVal {
    def materialize: DataFrame = Materialize(df)
  }

  /** Broadcast hint gated on the frame's MEASURED size — for
    * materialized frames only (localCheckpoint/checkpoint report REAL
    * stats, so the comparison is bytes, not a guess). An unconditional
    * `broadcast(df)` on a frame that grows with the corpus (hot
    * shingles, benchmark fp indexes) OOMs the driver at scale exactly
    * where the planner would have degraded gracefully to a shuffle
    * join (r18 advice item); below the session's
    * autoBroadcastJoinThreshold the hint still pins the strategy
    * against mis-estimation. */
  def broadcastIfSmall(df: DataFrame): DataFrame = {
    val raw = df.sparkSession.conf
      .get("spark.sql.autoBroadcastJoinThreshold", "10MB").trim
    val thresh =
      if (raw.startsWith("-")) -1L
      else scala.util.Try(
        org.apache.spark.network.util.JavaUtils.byteStringAsBytes(raw))
        .getOrElse(10L << 20)
    val size = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (thresh > 0 && size <= BigInt(thresh))
      org.apache.spark.sql.functions.broadcast(df)
    else df
  }

  /** Shared executor for [[inParallel]] chains: cached (grows on
    * demand, reuses idle threads, so nested/concurrent calls can't
    * deadlock on a fixed bound and repeated calls don't allocate a
    * pool each — the r18 advice item), daemon (never blocks JVM exit). */
  private lazy val chainPool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newCachedThreadPool(r => {
      val t = new Thread(r, "graft-inparallel")
      t.setDaemon(true)
      t
    })

  /** Run two independent job chains concurrently (optimization guide
    * §2.6: actions are only sequential because driver code calls them
    * sequentially; FIFO scheduling back-fills one chain's stage tails
    * with the other's tasks). The caller guarantees the chains share no
    * data dependency, so results are unchanged.
    *
    * BOTH chains settle before this returns or throws (the r18 advice
    * item: rethrowing on the first failure leaked the other chain's
    * still-running jobs past the call and masked its failure) — a
    * failed pair surfaces the first exception with the second
    * attached as suppressed. Each chain's Spark jobs carry their own
    * job tag, and once one chain has failed the other's jobs are
    * cancelled (again every 100 ms, so a job it submits later is
    * cancelled too) until it settles: the wait is bounded by how soon
    * its tasks notice the cancellation, not by its full run. */
  def inParallel[A, B](a: => A, b: => B): (A, B) = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    import scala.util.Try
    implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutor(chainPool)
    val sc = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession).map(_.sparkContext)
    val id = java.util.UUID.randomUUID()
    val (tagA, tagB) = (s"graft-inparallel-$id-a", s"graft-inparallel-$id-b")
    def tagged[T](tag: String, body: => T): T = sc match {
      case Some(c) =>
        c.addJobTag(tag)
        try body finally c.removeJobTag(tag)
      case None => body
    }
    val fa = Future(tagged(tagA, a))
    val fb = Future(tagged(tagB, b))
    def failed(f: Future[_]): Boolean = f.value.exists(_.isFailure)
    def settle[T](f: Future[T], tag: String, otherFailed: => Boolean): Try[T] = {
      while (!f.isCompleted) {
        if (otherFailed) sc.foreach(_.cancelJobsWithTag(tag,
          "the other inParallel chain failed"))
        Try(Await.ready(f, 100.millis))
      }
      f.value.get
    }
    val ra = settle(fa, tagA, failed(fb))
    val rb = settle(fb, tagB, failed(fa))
    (ra, rb) match {
      case (scala.util.Success(x), scala.util.Success(y)) => (x, y)
      case _ =>
        val e = ra.failed.getOrElse(rb.failed.get)
        for (e1 <- ra.failed.toOption; e2 <- rb.failed.toOption
             if e1 ne e2) e1.addSuppressed(e2)
        throw e
    }
  }
}
