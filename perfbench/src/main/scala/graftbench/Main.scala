package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One operation of the closed loop. `body` returns a small value the
  * output check compares (a checksum, an aggregate row), or null. */
final case class Op(name: String, kind: String, plainBytes: Long = 0L)(val body: () => Any,
    val after: Any => Any = identity, val before: () => Unit = () => ()) {
  /** The whole operation with no clock: for warm-up passes. */
  def untimed(): Any = { before(); after(body()) }
}

/** A benchmark workload. The loop calls `setup` several times (each
  * repetition rebuilds the inputs from scratch; the last one is kept),
  * then `warmup` once, then `pass(n)` until the time is up, with
  * `afterPass(n)` outside the clock after each, then `finish` (also
  * outside the clock). Everything a workload returns lands in the run
  * record. */
trait Workload {
  def setup(rep: Int): Unit
  def warmup(): Map[String, Any]
  def pass(n: Int): Seq[Op]
  def afterPass(n: Int): Unit = ()
  def finish(): Map[String, Any]
  /** Plain text the traced run feeds straight to graft.brotli.Brotli. */
  def codecSample(): Array[Byte]
  /** The workload's own per-layer metrics (the `sources` layer). */
  def layerMetrics: Map[String, Double] = Map.empty
}

/** Shared per-run state: session, seed, directories. Everything the
  * run writes lives under `work`, which run.py removes afterwards. */
final class Ctx(val spark: SparkSession, val seed: Long, val data: String,
    val smallData: String, val work: String) {
  @volatile var tracer: Option[Tracer] = None
  def dir(name: String): String = new File(work, name).getAbsolutePath
  /** A seeded generator for pass `n` (or -1 for set-up). */
  def rnd(n: Int): Random = new Random(seed * 1000003L + n)
  def tracing: Boolean = tracer.exists(_.active)
  /** A span around a call into one layer, when the pass is traced. */
  def span[T](layer: String)(f: => T): T = tracer.fold(f)(_.span(layer)(f))
}

object Main {
  private def arg(args: Array[String], key: String): String = {
    val i = args.indexOf(key)
    require(i >= 0 && i + 1 < args.length, s"missing $key")
    args(i + 1)
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload")
    val seed = arg(args, "--seed").toLong
    val seconds = arg(args, "--seconds").toDouble
    val traced = arg(args, "--trace") == "1"
    val work = arg(args, "--work")
    val out = arg(args, "--out")
    val native = arg(args, "--native")

    val spark = Session.create(work)
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val canary = Host.canary()
    val ctx = new Ctx(spark, seed, arg(args, "--data"), arg(args, "--small-data"), work)
    def make(name: String): Workload = name match {
      case "bro_corpus" => new BroCorpus(ctx)
      case "sql_analytics" => new SqlAnalytics(ctx)
      case "lakehouse_commits" => new LakehouseCommits(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val wl = make(workload)

    val setupS = (1 to Session.SetupReps).map(rep => Host.time(wl.setup(rep))._2)
    val (warm, warmS) = Host.time(wl.warmup())

    val tracer = if (traced) Some(new Tracer(spark)) else None
    ctx.tracer = tracer
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    // the live heap after every operation (a full collection, outside
    // the operation's time): what each one leaves behind differs
    var heapPeakMb = 0.0
    // The closed loop: one operation at a time until the time is up, and
    // at least one whole pass, so that every operation has a sample. A
    // traced run alternates traced and untraced passes (their difference
    // is the tracing overhead), runs at least two and never cuts one, so
    // that its per-layer totals are per whole pass.
    val minPasses = if (traced) 2 else 1
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    def over(n: Int) = n >= minPasses && System.nanoTime() >= deadline
    var n = 0
    while (!over(n)) {
      val on = tracer.isDefined && n % 2 == 0
      tracer.filter(_ => on).foreach(_.begin(s"pass-$n"))
      wl.pass(n).iterator.takeWhile(_ => traced || !over(n)).foreach { op =>
        op.before()
        val t0 = System.nanoTime()
        val span = tracer.filter(_ => on).map(_.open(op.name, op.kind))
        val res = try Right(op.body()) catch { case e: Throwable => Left(e) }
        val t1 = System.nanoTime()
        span.foreach(id => tracer.get.close(id))
        // the output check's inputs are gathered after the clock stops
        val checked = res.flatMap(r =>
          try Right(op.after(r)) catch { case e: Throwable => Left(e) })
        checked.left.foreach(e => System.err.println(s"[perfbench] ${op.name} failed: $e"))
        heapPeakMb = math.max(heapPeakMb, LiveHeap.mb())
        ops += Map("name" -> op.name, "kind" -> op.kind, "pass" -> n,
          "ms" -> (t1 - t0) / 1e6, "plain_bytes" -> op.plainBytes,
          "traced" -> on, "error" -> checked.left.toOption.map(_.toString).orNull,
          "result" -> checked.toOption.filterNot(_.isInstanceOf[Unit]).orNull)
      }
      tracer.filter(_ => on).foreach(_.end())
      wl.afterPass(n)
      n += 1
    }
    val fin = wl.finish()
    val layers = tracer.map(_.layers(wl, native)).getOrElse(Map.empty)
    val nativeBrotli = layers.filter(_._1.startsWith("brotli.native_"))
    tracer.foreach(_.close())
    spark.stop()

    val record = Map(
      "workload" -> workload, "seed" -> seed, "trace" -> traced,
      "cores" -> Session.cores,
      "setup" -> Map("session_s" -> sessionS, "reps_s" -> setupS, "warmup_s" -> warmS),
      "warmup" -> warm, "ops" -> ops, "finish" -> fin,
      "live_heap_peak_mb" -> heapPeakMb, "layers" -> layers,
      "meta" -> Map("canary_s" -> canary, "canary_end_s" -> Host.canary(),
        "native_brotli" -> nativeBrotli),
      "spans" -> tracer.map(_.spanRecords).getOrElse(Nil),
      "self_ms" -> tracer.map(_.selfMs).getOrElse(Map.empty))
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.write(Paths.get(out), mapper.writeValueAsBytes(record))
  }
}
