package graftbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

object Session {
  val cores: Int = Runtime.getRuntime.availableProcessors
  /** How many times a run builds its inputs; setup_s is their median. */
  val SetupReps = 3

  /** The one session of a run. The graft catalog's warehouse and
    * Spark's warehouse live under the run's own directory (run.py points
    * SPARK_LOCAL_DIRS and java.io.tmpdir there too), so no state carries
    * from one run to the next. */
  def create(work: String): SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .appName("perfbench")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // the status store keeps every job's and query's record for the UI
    // (which is off); capped, it stops growing with the run's length
    .config("spark.ui.retainedJobs", "50")
    .config("spark.ui.retainedStages", "50")
    .config("spark.sql.ui.retainedExecutions", "50")
    .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
    .config("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
    .config("spark.sql.catalog.graft.warehouse", s"$work/graft-catalog")
    .getOrCreate()
}

object Host {
  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** A fixed amount of CPU work (sorting the same 2M pseudo-random longs,
    * median of three), timed. Recorded in the run's metadata so that a
    * slower host can be told apart from slower code. */
  def canary(): Double = {
    val base = Array.iterate(42L, 1 << 21)(x => x * 6364136223846793005L + 1442695040888963407L)
    val times = (1 to 3).map(_ => time(java.util.Arrays.sort(base.clone()))._2).sorted
    times(1)
  }
}

/** Heap in use right after a full collection: the live set the run
  * retains, free of allocation churn and of when young collections
  * happen to run. */
object LiveHeap {
  def mb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** The `brotli` layer on its own: graft.brotli.Brotli called directly on
  * the workload's plain text, alternating with native libbrotli timed by
  * native/brotli_time.c on the same bytes. */
object BrotliProbe {
  val Rounds = 3

  private def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  def run(sample: Array[Byte], native: String): Map[String, Double] = {
    val file = java.io.File.createTempFile("brotli-sample", ".txt")
    java.nio.file.Files.write(file.toPath, sample)
    val mb = sample.length / 1048576.0
    val rows = (1 to Rounds).map { _ =>
      val (c, enc) = Host.time(graft.brotli.Brotli.compress(sample, 6))
      val (d, dec) = Host.time(graft.brotli.Brotli.decompress(c))
      require(java.util.Arrays.equals(d, sample), "graft brotli round trip differs")
      val p = new ProcessBuilder(native, file.getPath, "6").redirectErrorStream(true).start()
      val out = new String(p.getInputStream.readAllBytes()).trim
      require(p.waitFor() == 0, s"$native failed: $out")
      val Array(nEnc, nDec, nLen) = out.split("\\s+")
      (mb / enc, mb / dec, sample.length.toDouble / c.length,
        mb / nEnc.toDouble, mb / nDec.toDouble, sample.length / nLen.toDouble)
    }
    file.delete()
    Map(
      "brotli.encode_q6_mb_s" -> median(rows.map(_._1)),
      "brotli.decode_mb_s" -> median(rows.map(_._2)),
      "brotli.ratio_q6" -> rows.head._3,
      "brotli.native_encode_q6_mb_s" -> median(rows.map(_._4)),
      "brotli.native_decode_mb_s" -> median(rows.map(_._5)),
      "brotli.native_ratio_q6" -> rows.head._6)
  }
}
