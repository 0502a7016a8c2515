package graft

import org.apache.spark.sql.SparkSession

/** The local session that Verify, Bench (and Bench's child JVMs) and the
  * Spark specs run their queries on: one shuffle partition per core, UTC,
  * no UI, WARN logging. */
object GraftSession {
  def local(app: String, cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
