package graft.sources

import graft.SparkSpec
import graft.queries.{Extras7, Extras8}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Pins `optimize` purge and compaction as one narrow rewrite
  * (`GraftRewrite`): one Spark job each and no schema inference, the
  * snapshot's schema across evolution, partition tuples kept, and fresh
  * stats for every stats column. */
class GraftRewriteSpec extends SparkSpec {

  private def rows(name: String): Seq[String] =
    spark.sql(s"SELECT * FROM graft.$name").collect().map(_.toString).toSeq.sorted

  private def newTable(tag: String, ddl: String, props: String = ""): (String, String) = {
    GraftCatalog.install(spark)
    val base = graft.Scratch.dir(s"rw_$tag")
    val name = s"rw${tag}_${java.util.UUID.randomUUID().toString.take(8)}"
    spark.sql(s"CREATE TABLE graft.$name $ddl LOCATION '$base' TBLPROPERTIES " +
      s"('graft.delete.mode' = 'merge-on-read'$props)")
    (name, base)
  }

  /** The stage names of every job run under a fresh job group while
    * `body` runs. A marker job run afterwards under another group is
    * waited for, so every earlier listener event has been delivered. */
  private def jobsOf(body: => Unit): Seq[String] = {
    val group = s"rw_${java.util.UUID.randomUUID().toString.take(8)}"
    val marker = group + "_marker"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val markerDone = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      private def groupOf(p: java.util.Properties): String =
        Option(p).map(_.getProperty("spark.jobGroup.id")).orNull
      private val markerJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groupOf(e.properties) match {
          case `group` => seen.add(e.stageInfos.map(_.name).mkString(";"))
          case `marker` => markerJobs.add(e.jobId)
          case _ => ()
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (markerJobs.contains(e.jobId)) markerDone.countDown()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, "rewrite", false)
      try body finally spark.sparkContext.clearJobGroup()
      spark.sparkContext.setJobGroup(marker, "marker", false)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.clearJobGroup()
      assert(markerDone.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq
  }

  test("purge and compaction each run exactly one Spark job, and no schema inference") {
    val (name, base) = newTable("jobs", "(k BIGINT, s STRING)")
    (0 until 6).foreach { b =>
      spark.sql(s"INSERT INTO graft.$name SELECT id, CAST(id % 3 AS STRING) " +
        s"FROM range(${b * 100}, ${b * 100 + 100}, 1, 1)")
    }
    spark.sql(s"DELETE FROM graft.$name WHERE k % 7 = 0 AND k < 300")
    val expected = rows(name)
    val purgeJobs = jobsOf(Extras7.purgeDv(spark, base))
    assert(purgeJobs.size == 1 && purgeJobs.head.contains("GraftRewrite"),
      s"purge ran ${purgeJobs.size} jobs: ${purgeJobs.mkString(" | ")}")
    assert(GraftManifest.resolve(base).entries.forall(_.dv.isEmpty))
    assert(rows(name) == expected)
    val compactJobs = jobsOf(Extras8.compactSmallFiles(spark, base, 64L << 20))
    assert(compactJobs.size == 1 && compactJobs.head.contains("GraftRewrite"),
      s"compaction ran ${compactJobs.size} jobs: ${compactJobs.mkString(" | ")}")
    assert(GraftManifest.resolve(base).entries.size == 1)
    assert(rows(name) == expected)
  }

  test("purge and compaction keep an added column's values across ALTER TABLE ADD COLUMN") {
    val (name, base) = newTable("evolve", "(k BIGINT, s STRING)")
    spark.sql(s"INSERT INTO graft.$name SELECT id, 'a' FROM range(0, 50, 1, 1)")
    spark.sql(s"INSERT INTO graft.$name SELECT id, 'b' FROM range(50, 100, 1, 1)")
    spark.sql(s"ALTER TABLE graft.$name ADD COLUMN note STRING")
    spark.sql(s"INSERT INTO graft.$name SELECT id, 'c', CONCAT('n', id) FROM range(100, 150, 1, 1)")
    spark.sql(s"INSERT INTO graft.$name SELECT id, 'd', CONCAT('n', id) FROM range(150, 200, 1, 1)")
    // deletes in a pre-ALTER file and in a post-ALTER file
    spark.sql(s"DELETE FROM graft.$name WHERE k % 10 = 3 AND (k < 50 OR k >= 150)")
    val expected = rows(name)
    assert(expected.size == 190)
    assert(expected.count(!_.endsWith(",null]")) == 95, "post-ALTER rows carry their notes")

    assert(Extras7.purgeDv(spark, base).isDefined)
    assert(GraftManifest.resolve(base).entries.forall(_.dv.isEmpty))
    assert(rows(name) == expected, "purge must keep the added column's values")
    val notes = spark.sql(s"SELECT k, note FROM graft.$name").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(notes.forall { case (k, n) => n == (if (k >= 100) Some(s"n$k") else None) })

    assert(Extras8.compactSmallFiles(spark, base, 64L << 20).isDefined)
    assert(GraftManifest.resolve(base).entries.size == 1)
    assert(rows(name) == expected, "compaction must keep the added column's values")
  }

  test("purge on a partitioned table keeps every output inside one tuple, tuple on its entry") {
    GraftCatalog.install(spark)
    val base = graft.Scratch.dir("rw_parts")
    val name = s"rwparts_${java.util.UUID.randomUUID().toString.take(8)}"
    spark.sql(s"CREATE TABLE graft.$name (k BIGINT, s STRING, v BIGINT) " +
      s"PARTITIONED BY (s) LOCATION '$base' " +
      "TBLPROPERTIES ('graft.delete.mode' = 'merge-on-read')")
    (0 until 3).foreach { b =>
      spark.sql(s"INSERT INTO graft.$name SELECT id, CAST(id % 3 AS STRING), id * 2 " +
        s"FROM range(${b * 300}, ${b * 300 + 300})")
    }
    spark.sql(s"DELETE FROM graft.$name WHERE k % 5 = 0")
    val before = GraftManifest.resolve(base).entries
    assert(before.count(_.dv.isDefined) > 3, "deletes reach every tuple")
    val expected = rows(name)

    assert(Extras7.purgeDv(spark, base).isDefined)
    val after = GraftManifest.resolve(base).entries
    assert(after.forall(_.dv.isEmpty))
    val outputs = after.filterNot(e => before.exists(_.path == e.path))
    assert(outputs.nonEmpty)
    outputs.foreach { e =>
      assert(e.partValues.keySet == Set("s"), s"${e.path} lost its tuple")
      val inFile = spark.read.parquet(e.path).select("s").distinct()
        .collect().map(_.getString(0)).toSeq
      assert(inFile == Seq(e.partValues("s")),
        s"${e.path} holds tuples $inFile, entry says ${e.partValues}")
    }
    assert(rows(name) == expected)
    // the kept tuples still prune
    val probe = spark.sql(s"SELECT * FROM graft.$name WHERE s = '1'")
    assert(probe.count() == expected.count(_.contains(",1,")))
  }

  test("a multi-column stats table keeps every column's stats after purge") {
    val (name, base) = newTable("stats", "(k BIGINT, c BIGINT, s STRING)",
      ", 'graft.stats.columns' = 'k,c'")
    (0 until 3).foreach { b =>
      spark.sql(s"INSERT INTO graft.$name SELECT id, ${b * 1000} + id % 97, 'x' " +
        s"FROM range(${b * 200}, ${b * 200 + 200}, 1, 1)")
    }
    spark.sql(s"DELETE FROM graft.$name WHERE k % 4 = 1")
    assert(Extras7.purgeDv(spark, base).isDefined)
    val entries = GraftManifest.resolve(base).entries
    assert(entries.forall(_.dv.isEmpty))
    entries.foreach { e =>
      assert(e.colStats.keySet == Set("k", "c"), s"${e.path}: ${e.colStats}")
      val r = spark.read.parquet(e.path)
        .selectExpr("min(k)", "max(k)", "min(c)", "max(c)").head()
      assert(e.stats.contains((r.getLong(0), r.getLong(1))))
      assert(e.colStats("k") == ((r.getLong(0), r.getLong(1))))
      assert(e.colStats("c") == ((r.getLong(2), r.getLong(3))))
    }
    // the second column still prunes after the purge
    val probe = spark.sql(s"SELECT * FROM graft.$name WHERE c BETWEEN 1000 AND 1096")
    assert(GraftCatalog.scannedFileCount(probe).contains(1))
  }
}
