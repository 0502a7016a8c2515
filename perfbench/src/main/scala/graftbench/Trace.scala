package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One span of the traced run: a call into one layer, made from the
  * benchmark's own code. Times are epoch milliseconds (start) and
  * nanoseconds (duration); `parent` is -1 for a pass. */
final case class Span(id: Int, parent: Int, name: String, kind: String, run: String,
    startMs: Long, var durNs: Long = -1L) {
  /** The job property that ties Spark's events to this operation. */
  def label: String = s"$name#$id"
}

/** Spark-side counts of one traced operation execution. */
final class OpAcc {
  var jobs, stages, tasks = 0
  var runMs, cpuNs, gcMs, waitMs, inputBytes, shuffleWriteBytes, spillBytes = 0L
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  var analysisMs, optimizationMs, planningMs = 0L
}

/** The traced run's recorder: spans kept in memory, a SparkListener, a
  * QueryExecutionListener and a StreamingQueryListener. Spark's
  * listeners run on the listener bus thread, so their counts are keyed
  * by the operation label the main thread sets as a job property (or,
  * for planning and streaming progress, by time). */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val run = java.util.UUID.randomUUID().toString.take(8)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  @volatile var active = false
  private var passesTraced = 0

  private val accs = new java.util.concurrent.ConcurrentHashMap[String, OpAcc]()
  private val stageLabel = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val jobLabel = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
  private val stageSubmitMs = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val taskSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  @volatile private var jobsEnded = 0L
  private val qePhases = mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
  private val progress = mutable.ArrayBuffer.empty[(Long, Long, Long)]
  private val OpKey = "perfbench.op"

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(OpKey))).foreach { label =>
        jobLabel.put(e.jobId, (label, e.time))
        e.stageIds.foreach(s => stageLabel.put(s, label))
        accOf(label).synchronized(accOf(label).jobs += 1)
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobLabel.get(e.jobId)).foreach { case (label, t0) =>
        val a = accOf(label); a.synchronized(a.jobSpans += ((t0, e.time)))
      }
      jobsEnded += 1
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Option(stageLabel.get(e.stageInfo.stageId)).foreach { label =>
        stageSubmitMs.put(e.stageInfo.stageId,
          e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
        val a = accOf(label); a.synchronized(a.stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageLabel.get(e.stageId)).foreach { label =>
        val m = e.taskMetrics
        if (m != null) {
          // the time the task ran on its executor thread
          val t0 = e.taskInfo.launchTime + m.executorDeserializeTime
          taskSpans.synchronized(taskSpans += ((t0, t0 + m.executorRunTime)))
        }
        val a = accOf(label)
        a.synchronized {
          a.tasks += 1
          if (m != null) {
            a.runMs += m.executorRunTime
            a.cpuNs += m.executorCpuTime
            a.gcMs += m.jvmGCTime
            a.inputBytes += m.inputMetrics.bytesRead
            a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            a.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
          }
          a.waitMs += math.max(0L, e.taskInfo.launchTime -
            stageSubmitMs.getOrDefault(e.stageId, e.taskInfo.launchTime))
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(p => p.endTimeMs - p.startTimeMs).getOrElse(0L)
      val start = ph.values.map(_.startTimeMs).reduceOption(_ min _).getOrElse(System.currentTimeMillis())
      qePhases.synchronized(qePhases += ((start, ms("analysis"), ms("optimization"), ms("planning"))))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val at = java.time.Instant.parse(p.timestamp).toEpochMilli
      val trigger = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      progress.synchronized(progress += ((at, p.batchDuration, trigger)))
    }
  }

  sc.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  private def accOf(label: String): OpAcc = accs.computeIfAbsent(label, _ => new OpAcc)

  def begin(pass: String): Unit = {
    active = true
    passesTraced += 1
    CodecSwitch.use(spark, counting = true)
    val s = Span(spans.size, -1, pass, "pass", run, System.currentTimeMillis())
    spans += s; stack.push(s)
    s.durNs = System.nanoTime()
  }

  def end(): Unit = {
    val s = stack.pop(); s.durNs = System.nanoTime() - s.durNs
    CodecSwitch.use(spark, counting = false)
    active = false
  }

  /** Opens a span under the innermost open one; the returned id closes it. */
  def open(name: String, kind: String): Int = {
    val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), name, kind, run,
      System.currentTimeMillis())
    if (kind != "layer") sc.setLocalProperty(OpKey, s.label)
    spans += s; stack.push(s)
    s.durNs = System.nanoTime()
    s.id
  }

  def close(id: Int): Unit = {
    val s = stack.pop()
    require(s.id == id, s"span ${s.name} closed out of order")
    s.durNs = System.nanoTime() - s.durNs
    if (s.kind != "layer") sc.setLocalProperty(OpKey, null)
  }

  def span[T](name: String)(f: => T): T =
    if (!active) f else { val id = open(name, "layer"); try f finally close(id) }

  def spanRecords: Seq[Map[String, Any]] = spans.toSeq.map(s => Map(
    "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "kind" -> s.kind,
    "run" -> s.run, "start_ms" -> s.startMs, "dur_ms" -> s.durNs / 1e6))

  /** Self time per span name: a span's duration minus its children's
    * (children never overlap: the main thread makes one call at a time). */
  def selfMs: Map[String, Double] = {
    val childNs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.durNs).sum }
    spans.toSeq.groupBy(s => if (s.kind == "layer") s.name else s.kind)
      .map { case (k, ss) => k -> ss.map(s => s.durNs - childNs.getOrElse(s.id, 0L)).sum / 1e6 }
  }

  /** Waits for the listener bus to deliver the run's last events: every
    * job end is posted before its action returns, so once the count
    * stops moving the queue holds nothing of ours. */
  private def drain(): Unit = {
    var last = -1L
    var quiet = 0
    val deadline = System.currentTimeMillis() + 10000
    while (quiet < 3 && System.currentTimeMillis() < deadline) {
      Thread.sleep(100)
      if (jobsEnded == last) quiet += 1 else { quiet = 0; last = jobsEnded }
    }
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Every per-layer metric but trace.overhead_pct (run.py derives it
    * from the op records), by name; zero where the workload leaves a
    * layer idle. */
  def layers(wl: Workload, native: String): Map[String, Double] = {
    drain()
    val opSpans = spans.filter(s => s.kind == "read" || s.kind == "write").toSeq
    val byExec: Seq[(Span, OpAcc)] = opSpans.map(s => s -> accOf(s.label))
    val phases = qePhases.synchronized(qePhases.toSeq)
    byExec.foreach { case (s, a) =>
      val endMs = s.startMs + s.durNs / 1000000
      phases.filter(p => p._1 >= s.startMs && p._1 <= endMs).foreach { p =>
        a.analysisMs += p._2; a.optimizationMs += p._3; a.planningMs += p._4
      }
    }
    def gapMs(s: Span, a: OpAcc): Double = {
      val iv = a.jobSpans.sortBy(_._1)
      var covered = 0L; var curS = -1L; var curE = -1L
      iv.foreach { case (j0, j1) =>
        if (j0 > curE) { covered += curE - curS; curS = j0; curE = j1 }
        else curE = math.max(curE, j1)
      }
      covered += curE - curS
      math.max(0.0, s.durNs / 1e6 - covered)
    }
    val all = byExec.map(_._2)
    // totals are per traced pass (one execution of every operation), so
    // runs that fit a different number of passes in their time compare
    val perPass = math.max(1, passesTraced).toDouble
    def sumL(f: OpAcc => Long) = all.map(f).sum / perPass
    val mb = 1048576.0
    val m = mutable.LinkedHashMap.empty[String, Double]
    m ++= BrotliProbe.run(wl.codecSample(), native)
    val codecBase = sumL(_.runMs) / 1e3
    m("codec.encode_busy_s") = CodecCounters.encodeNs.sum / 1e9 / perPass
    m("codec.decode_busy_s") = CodecCounters.decodeNs.sum / 1e9 / perPass
    m("codec.decode_share") = if (codecBase > 0) m("codec.decode_busy_s") / codecBase else 0.0
    m("codec.plain_mb") = CodecCounters.plainBytes.sum / mb / perPass
    m("codec.compressed_mb") = CodecCounters.compressedBytes.sum / mb / perPass
    m("codec.streams") = CodecCounters.streams.sum / perPass
    m("spark.jobs") = sumL(_.jobs)
    m("spark.stages") = sumL(_.stages)
    m("spark.tasks") = sumL(_.tasks)
    m("spark.task_run_s") = sumL(_.runMs) / 1e3
    m("spark.task_cpu_s") = sumL(_.cpuNs) / 1e9
    m("spark.task_gc_s") = sumL(_.gcMs) / 1e3
    m("spark.task_wait_s") = sumL(_.waitMs) / 1e3
    // from the tasks' own run intervals: start and end events reach the
    // listener out of order
    m("spark.max_concurrent_tasks") = taskSpans.synchronized(taskSpans.toSeq)
      .flatMap { case (t0, t1) => Seq((t0, 1), (t1, -1)) }.sorted
      .scanLeft(0)(_ + _._2).max.toDouble
    m("spark.driver_gap_s") = byExec.map { case (s, a) => gapMs(s, a) }.sum / 1e3 / perPass
    m("spark.input_mb") = sumL(_.inputBytes) / mb
    m("spark.shuffle_write_mb") = sumL(_.shuffleWriteBytes) / mb
    m("spark.spill_mb") = sumL(_.spillBytes) / mb
    m("catalyst.analysis_ms") = sumL(_.analysisMs)
    m("catalyst.optimization_ms") = sumL(_.optimizationMs)
    m("catalyst.planning_ms") = sumL(_.planningMs)
    val buildSpans = spans.filter(_.name == "queries.build").toSeq
    m("queries.build_ms") = buildSpans.map(_.durNs / 1e6).sum / perPass
    graft.Bench.headline.foreach { q =>
      val mine = byExec.filter(_._1.name == q)
      val builds = buildSpans.filter(b => mine.exists(_._1.id == b.parent))
      m(s"queries.$q.build_ms") = median(builds.map(_.durNs / 1e6))
      m(s"catalyst.$q.ms") = median(mine.map { case (_, a) =>
        (a.analysisMs + a.optimizationMs + a.planningMs).toDouble })
      m(s"spark.$q.task_cpu_ms") = median(mine.map(_._2.cpuNs / 1e6))
    }
    Seq("insert", "delete", "merge", "update", "optimize").foreach { k =>
      m(s"sources.${k}_ms") = median(spans.filter(_.name == s"sources.$k").toSeq.map(_.durNs / 1e6))
    }
    Seq("bytes_written_per_changed_byte", "files_live", "files_total", "manifest_files",
      "scan_files").foreach(k => m(s"sources.$k") = 0.0)
    m ++= wl.layerMetrics
    Seq("d03_minhash_lsh", "s02_ann_lsh", "t07_repetition_filter").foreach { e =>
      val mine = byExec.filter(_._1.name == e)
      m(s"ops.$e.ms") = median(mine.map(_._1.durNs / 1e6))
      m(s"ops.$e.jobs") = median(mine.map(_._2.jobs.toDouble))
      m(s"ops.$e.tasks") = median(mine.map(_._2.tasks.toDouble))
      m(s"ops.$e.driver_gap_ms") = median(mine.map { case (s, a) => gapMs(s, a) })
    }
    val tracedWindows = opSpans.map(s => (s.startMs, s.startMs + s.durNs / 1000000))
    val prog = progress.synchronized(progress.toSeq)
      .filter(p => tracedWindows.exists(w => p._1 >= w._1 && p._1 <= w._2))
    m("streaming.batches") = prog.size / perPass
    m("streaming.batch_p50_ms") = median(prog.map(_._2.toDouble))
    m("streaming.trigger_ms") = prog.map(_._3).sum / perPass
    m.toMap
  }

  def close(): Unit = {
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }
}

/** Switches the session between graft's codecs (registered on the
  * SparkContext by BroWriter.register) and the counting ones: writes
  * name the class through `compression`, reads resolve it by extension
  * through the session's `io.compression.codecs`. */
object CodecSwitch {
  @volatile var counting = false
  def broClass: String = if (counting) classOf[CountingBroCodec].getName
    else graft.codec.BroWriter.CodecClass
  def brfClass: String = if (counting) classOf[CountingBroFramedCodec].getName
    else graft.codec.BroWriter.FramedCodecClass

  def use(spark: SparkSession, counting: Boolean): Unit = {
    this.counting = counting
    if (counting) spark.conf.set("io.compression.codecs",
      Seq("org.apache.hadoop.io.compress.DefaultCodec", broClass, brfClass).mkString(","))
    else spark.conf.unset("io.compression.codecs")
  }
}
