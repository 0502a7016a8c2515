package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tables}

object Files2 {
  def tree(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Seq.empty
    else { val s = Files.walk(p); try s.iterator.asScala.filter(Files.isRegularFile(_)).toList finally s.close() }
  }
  def bytes(dir: String): Long = tree(dir).map(Files.size).sum
  /** Deletes the files under `dir` (an absolute path; "" is a no-op). */
  def delete(dir: String): Unit =
    if (dir.nonEmpty) {
      require(dir.startsWith("/"), s"refusing to delete relative path '$dir'")
      tree(dir).foreach(Files.deleteIfExists) // leaves empty dirs; they cost nothing
    }

  /** Data files of a directory tree: no checksums, markers or manifests. */
  def dataFiles(dir: String): Seq[Path] = tree(dir).filter { p =>
    val n = p.getFileName.toString
    !n.startsWith(".") && !n.startsWith("_") && !p.toString.contains("/_")
  }

  /** The first `n` bytes of the data files under `dir`, in name order. */
  def head(dir: String, n: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    dataFiles(dir).sortBy(_.toString).iterator.takeWhile(_ => out.size < n)
      .foreach(f => out.write(Files.readAllBytes(f)))
    out.toByteArray.take(n)
  }
}

/** Runs a registry entry the way graft.Bench does (DataFrame build,
  * then a write to the `noop` sink), with a span around each layer. */
object Registry {
  def build(ctx: Ctx, name: String, dir: String): DataFrame =
    ctx.span("queries.build")(SparkEntry.queries(name)(ctx.spark, dir))
  def runNoop(ctx: Ctx, name: String, dir: String): Unit = {
    val df = build(ctx, name, dir)
    ctx.span("spark.execute")(df.write.format("noop").mode("overwrite").save())
  }
  /** Untimed: the entry's output as parquet, for the DuckDB comparison. */
  def dump(ctx: Ctx, name: String, dir: String, out: String): Unit =
    SparkEntry.queries(name)(ctx.spark, dir).write.mode("overwrite").parquet(out)

  val SampleBytes: Int = 4 << 20

  /** Plain CSV text of a table, for the direct codec probe. */
  def csvSample(ctx: Ctx, table: String, dir: String): Array[Byte] = {
    val df = Tables.load(ctx.spark, dir, table)
    val out = ctx.dir(s"sample-$table")
    df.limit(200000).coalesce(1).write.mode("overwrite").csv(out)
    Files2.head(out, SampleBytes)
  }
}

/** `.bro` and `.brf` writes and timed reads of a plain-text corpus built
  * from the sf0.01 tables (the size keeps one pass near a second on four
  * cores, so a run holds enough reads): codec work on real, unrepeated
  * bytes. */
final class BroCorpus(ctx: Ctx) extends Workload {
  import ctx.spark
  /** Read split size: a `.brf` file reads as several splits. */
  val SplitBytes: Long = 512L << 10
  /** `.brf` frame size: several frames per file, so splits have work. */
  val FrameBytes: Int = 1 << 20
  private var plain = ""
  private var plainBytes = 0L
  private var corpus: DataFrame = _
  private var lastOut = Seq.empty[String]

  /** Builds the corpus: every row of three tables as a text line, in
    * seeded random order, one partition per core, cached (so writes time
    * encoding, not the plain read) and written out as plain text (for
    * the output check and the direct codec probe). */
  def setup(rep: Int): Unit = {
    graft.codec.BroWriter.register(spark)
    spark.conf.set("spark.sql.files.maxPartitionBytes", SplitBytes)
    val seed = ctx.seed
    def rows(t: String) = Tables.load(spark, ctx.smallData, t)
    val li = rows("lineitem")
    val csv = li.select(concat_ws(",", li.columns.toIndexedSeq.map(c => col(c).cast("string")): _*))
    Option(corpus).foreach(_.unpersist(blocking = true))
    corpus = rows("documents").toJSON.toDF("value").union(rows("events").toJSON.toDF("value"))
      .union(csv.toDF("value"))
      .withColumn("k", rand(seed))
      .repartitionByRange(Session.cores, col("k")).sortWithinPartitions("k")
      .select("value")
      .cache()
    Files2.delete(plain)
    plain = ctx.dir(s"corpus-$rep")
    corpus.write.text(plain)
    plainBytes = Files2.dataFiles(plain).map(Files.size).sum
  }

  /** Untimed: one whole pass. */
  def warmup(): Map[String, Any] = {
    pass(-1).foreach(_.untimed())
    Map.empty
  }

  private def read(dir: String): Any = {
    val r = spark.read.text(dir)
      .selectExpr("count(*)", "sum(length(value))", "sum(crc32(value))").head()
    Seq(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Reads of each file set per pass: more timed work per written byte. */
  val ReadsPerWrite = 5

  /** A file-set write, then its reads. Only the reads are timed: graft's
    * encoder runs at one of several speeds for a JVM's whole life (see
    * the README), so the write is timed on its own, outside the clock,
    * and lands in the first read's result with the bytes it stored. */
  private def writeThenRead(name: String, dir: String, write: String => Unit): Seq[Op] = {
    var writeMs = 0.0
    def readOp(first: Boolean) = Op(s"read_$name", "read", plainBytes)(
      () => ctx.span("codec.read")(read(dir)),
      sums => if (!first) Map("sums" -> sums) else Map("sums" -> sums, "write_ms" -> writeMs,
        "stored_bytes" -> Files2.dataFiles(dir).map(Files.size).sum),
      () => if (first) writeMs = Host.time(ctx.span("codec.write")(write(dir)))._2 * 1e3)
    readOp(first = true) +: Seq.fill(ReadsPerWrite - 1)(readOp(first = false))
  }

  def pass(n: Int): Seq[Op] = {
    lastOut.foreach(Files2.delete)
    val bro = ctx.dir(s"out/bro-$n")
    val brf = ctx.dir(s"out/brf-$n")
    lastOut = Seq(bro, brf)
    writeThenRead("bro", bro, corpus.write.option("compression", CodecSwitch.broClass).text) ++
      writeThenRead("brf", brf, corpus.coalesce(1).write
        .option("compression", CodecSwitch.brfClass)
        .option(graft.codec.BroFramed.FrameSizeKey, FrameBytes).text)
  }

  def finish(): Map[String, Any] = Map("plain_dir" -> plain, "plain_bytes" -> plainBytes)

  def codecSample(): Array[Byte] = Files2.head(plain, Registry.SampleBytes)
}

/** The 12 registry queries of graft.Bench's headline on sf0.1 parquet,
 * each written to the `noop` sink, in a seeded order per pass. */
final class SqlAnalytics(ctx: Ctx) extends Workload {
  /** Nothing to build: the queries read the sf0.1 tables in place. */
  def setup(rep: Int): Unit = ()

  /** One untimed execution of every query on sf0.01: the JIT and codegen
    * warm-up (generated code is cached by plan, which does not depend on
    * the scale). */
  def warmup(): Map[String, Any] = {
    graft.Bench.headline.foreach(q => Registry.runNoop(ctx, q, ctx.smallData))
    Map.empty
  }

  def pass(n: Int): Seq[Op] =
    ctx.rnd(n).shuffle(graft.Bench.headline).map(q =>
      Op(q, "read")(() => Registry.runNoop(ctx, q, ctx.data)))

  /** After the clock: every query once more on the same sf0.1 tables, its
    * output dumped as parquet for run.py to compare with DuckDB. */
  def finish(): Map[String, Any] = {
    val out = ctx.dir("check")
    graft.Bench.headline.foreach(q => Registry.dump(ctx, q, ctx.data, s"$out/$q"))
    Map("check_dir" -> out, "tables_dir" -> ctx.data,
      "oracle" -> graft.Bench.headline.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap)
  }

  def codecSample(): Array[Byte] = Registry.csvSample(ctx, "lineitem", ctx.data)
}

/** One graft table built from `orders`, merge-on-read for delete, merge
  * and update, under a seeded stream of commits with reads between them.
  * Every commit and read is logged with its parameters so run.py can
  * replay the same DML on a DuckDB model. */
final class LakehouseCommits(ctx: Ctx) extends Workload {
  import ctx.spark
  private var table = ""
  private var base = ""
  private var versions = Vector.empty[Long]
  private var nextSlice = 0
  private val slices = ctx.rnd(-1).shuffle((0 until 150).toVector)
  /** Keys are 0..149999 in sf0.1 orders; a slice is 1000 consecutive keys. */
  private val SliceKeys = 1000L
  private var rowBytes = 0.0
  private val written = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
  /** Per traced commit: its pass, the data and manifest files under the
    * table location before and after it, and the live files after it. */
  private val fileCounts =
    scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int, Int, Int, Long)]
  private var curPass = 0
  private var storedRatio = 0.0
  private var scanFiles = 0L
  private val cols = "o_orderkey, o_custkey, o_orderstatus, o_orderpriority, o_totalprice"

  private def sql(q: String) = spark.sql(q)
  private def version(): Long =
    sql(s"SELECT max(version) FROM graft.$table.history").head().getLong(0)
  private def agg(where: String): Seq[Long] = {
    val r = sql(s"SELECT count(*), coalesce(sum(o_orderkey), 0), coalesce(sum(o_custkey), 0) " +
      s"FROM graft.$table $where").head()
    Seq(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  def setup(rep: Int): Unit = {
    table = s"orders_$rep"
    base = ctx.dir(s"lake/$table")
    Tables.load(spark, ctx.data, "orders").createOrReplaceTempView("src_orders")
    sql(s"CREATE TABLE graft.$table (o_orderkey BIGINT, o_custkey BIGINT, " +
      s"o_orderstatus STRING, o_orderpriority STRING, o_totalprice DOUBLE) " +
      s"LOCATION '$base' TBLPROPERTIES ('graft.stats.column' = 'o_orderkey', " +
      "'graft.delete.mode' = 'merge-on-read', 'graft.update.mode' = 'merge-on-read', " +
      "'graft.merge.mode' = 'merge-on-read')")
    sql(s"INSERT INTO graft.$table SELECT /*+ REPARTITION_BY_RANGE(8, o_orderkey) */ $cols " +
      "FROM src_orders WHERE o_orderkey % 4 <> 0")
    versions = Vector(version())
    nextSlice = 0
    rowBytes = Files2.bytes(base).toDouble / agg("").head
  }

  def warmup(): Map[String, Any] = {
    // the warm-up commits are part of the table's history: run.py
    // replays them too, from the "warmup" block of the run record
    val log = pass(-1).map(op => Map("name" -> op.name, "result" -> op.untimed()))
    Map("table" -> table, "initial_version" -> versions.head,
      "initial_where" -> "o_orderkey % 4 <> 0", "ops" -> log)
  }

  private def range(r: scala.util.Random, width: Long): (Long, Long) = {
    val lo = r.nextInt(150000 - width.toInt).toLong
    (lo, lo + width - 1)
  }

  def pass(n: Int): Seq[Op] = {
    curPass = n
    val r = ctx.rnd(n)
    // the order of commits is fixed (so the delete vectors optimize finds
    // do not depend on the seed); their key ranges are seeded
    val writes = Seq("insert", "stream_append", "delete", "merge", "update", "optimize").map {
      case "insert" =>
        val s = slices(nextSlice % slices.size); nextSlice += 1
        val (lo, hi) = (s * SliceKeys, s * SliceKeys + SliceKeys - 1)
        commitOp("insert", Map("lo" -> lo, "hi" -> hi),
          s"INSERT INTO graft.$table SELECT $cols FROM src_orders " +
            s"WHERE o_orderkey BETWEEN $lo AND $hi AND o_orderkey % 4 = 0",
          srcRows(s"WHERE o_orderkey BETWEEN $lo AND $hi AND o_orderkey % 4 = 0"))
      case "stream_append" =>
        val s = slices(nextSlice % slices.size); nextSlice += 1
        streamAppend(s * SliceKeys, s * SliceKeys + SliceKeys - 1)
      case "delete" =>
        val (lo, hi) = range(r, 3000)
        commitOp("delete", Map("lo" -> lo, "hi" -> hi),
          s"DELETE FROM graft.$table WHERE o_orderkey BETWEEN $lo AND $hi AND o_orderstatus = 'F'",
          tableRows(s"WHERE o_orderkey BETWEEN $lo AND $hi AND o_orderstatus = 'F'"))
      case "merge" =>
        val (lo, hi) = range(r, 2000)
        commitOp("merge", Map("lo" -> lo, "hi" -> hi),
          s"MERGE INTO graft.$table t USING (SELECT o_orderkey, o_custkey + 7 AS o_custkey, " +
            s"o_orderstatus, o_orderpriority, o_totalprice FROM src_orders " +
            s"WHERE o_orderkey BETWEEN $lo AND $hi) d ON t.o_orderkey = d.o_orderkey " +
            "WHEN MATCHED THEN UPDATE SET o_custkey = d.o_custkey " +
            "WHEN NOT MATCHED THEN INSERT *",
          srcRows(s"WHERE o_orderkey BETWEEN $lo AND $hi"))
      case "update" =>
        val (lo, hi) = range(r, 3000)
        commitOp("update", Map("lo" -> lo, "hi" -> hi),
          s"UPDATE graft.$table SET o_custkey = o_custkey + 1 WHERE o_orderkey BETWEEN $lo AND $hi",
          tableRows(s"WHERE o_orderkey BETWEEN $lo AND $hi"))
      case _ =>
        commitOp("optimize", Map.empty,
          s"CALL graft.system.optimize(table => '$table')", () => 0L)
    }
    // two reads after each commit, the three kinds in turn: four of each
    // kind per pass, enough reads in a run for a steady median
    val reads = Iterator.continually(Seq("read_current", "read_version", "read_range")).flatten
    writes.flatMap(w => Seq(w, readOp(reads.next(), r), readOp(reads.next(), r)))
  }

  private def srcRows(where: String): () => Long =
    () => sql(s"SELECT count(*) FROM src_orders $where").head().getLong(0)
  private def tableRows(where: String): () => Long = () => agg(where).head

  private def commitOp(name: String, params: Map[String, Any], stmt: String,
      changedRows: () => Long): Op =
    commitOp(name, params, () => sql(stmt).collect(), changedRows, () => ())

  private def manifests(): Int = Files2.tree(s"$base/_manifests").size
  private def liveFiles(): Long = sql(s"SELECT count(*) FROM graft.$table.files").head().getLong(0)

  /** A commit: the DML is timed; the new version (for the model replay)
    * and, in traced passes, the rows it changes and the bytes and files
    * it adds under the table location are gathered before and after the
    * clock. */
  private def commitOp(name: String, params: Map[String, Any], body: () => Any,
      changedRows: () => Long, prepare: () => Unit): Op = {
    val pass = curPass
    var before = -1L
    var changed = 0L
    var dataBefore = 0
    var manBefore = 0
    Op(name, "write")(() => ctx.span(s"sources.$name")(body()),
      _ => {
        val v = version()
        versions :+= v
        if (before >= 0) {
          written += ((name, Files2.bytes(base) - before, changed))
          fileCounts += ((pass, dataBefore, Files2.dataFiles(base).size, manBefore, manifests(),
            liveFiles()))
        }
        Map("params" -> params, "version" -> v)
      },
      () => {
        prepare()
        if (ctx.tracing) {
          changed = changedRows(); before = Files2.bytes(base)
          dataBefore = Files2.dataFiles(base).size; manBefore = manifests()
        }
      })
  }

  /** The same rows an INSERT slice adds, arriving as two parquet files
    * drained by graft's streaming sink (one micro-batch and one commit
    * per file). The feed is written before the clock starts. */
  private def streamAppend(lo: Long, hi: Long): Op = {
    val feed = ctx.dir(s"feed/$lo")
    val checkpoint = ctx.dir(s"checkpoint/$lo")
    var schema: org.apache.spark.sql.types.StructType = null
    commitOp("stream_append", Map("lo" -> lo, "hi" -> hi), () => {
      val q = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(feed)
        .writeStream.option("checkpointLocation", checkpoint)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable(s"graft.$table")
      try q.awaitTermination() finally q.stop()
    }, srcRows(s"WHERE o_orderkey BETWEEN $lo AND $hi AND o_orderkey % 4 = 0"), () => {
      val rows = sql(s"SELECT $cols FROM src_orders WHERE o_orderkey BETWEEN $lo AND $hi " +
        "AND o_orderkey % 4 = 0")
      rows.repartition(2).write.parquet(feed)
      schema = rows.schema
    })
  }

  private def readOp(kind: String, r: scala.util.Random): Op = kind match {
    case "read_current" =>
      Op(kind, "read")(() => ctx.span("sources.read")(agg("")),
        res => Map("version" -> versions.last, "agg" -> res))
    case "read_version" =>
      val v = versions(r.nextInt(versions.size))
      Op(kind, "read")(() => ctx.span("sources.read")(agg(s"VERSION AS OF $v")),
        res => Map("version" -> v, "agg" -> res))
    case _ =>
      val (lo, hi) = range(r, 1500)
      val where = s"WHERE o_orderkey BETWEEN $lo AND $hi"
      Op(kind, "read")(() => ctx.span("sources.read")(agg(where)), res => {
        if (ctx.tracing) scanFiles = scannedFiles(sql(s"SELECT * FROM graft.$table $where"))
        Map("version" -> versions.last, "lo" -> lo, "hi" -> hi, "agg" -> res)
      })
  }

  /** Files the graft scan keeps after pruning, as its EXPLAIN shows it
    * (`GraftScan(t, vN, files=K)`). */
  private def scannedFiles(df: DataFrame): Long =
    df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        "files=(\\d+)".r.findFirstMatchIn(r.scan.description()).map(_.group(1).toLong).getOrElse(0L)
    }.sum

  /** After the first pass (a fixed number of commits in every run), the
    * bytes under the table location per byte of its live rows written
    * once as plain parquet. */
  override def afterPass(n: Int): Unit =
    if (n == 0) {
      val plain = ctx.dir("plain-live")
      sql(s"SELECT * FROM graft.$table").write.mode("overwrite").parquet(plain)
      storedRatio = Files2.bytes(base).toDouble / Files2.dataFiles(plain).map(Files.size).sum
      Files2.delete(plain)
    }

  def finish(): Map[String, Any] = Map("table" -> table, "table_bytes" -> Files2.bytes(base),
    "versions" -> versions, "stored_bytes_ratio" -> storedRatio)

  def codecSample(): Array[Byte] = Registry.csvSample(ctx, "orders", ctx.data)

  override def layerMetrics: Map[String, Double] = {
    val dml = written.filter(_._3 > 0)
    // files added per traced pass (the sum over its commits), and live
    // files after a commit: medians, so they do not grow with the number
    // of passes a run fits in its time
    val perPass = fileCounts.groupBy(_._1).values.toSeq
    def median(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sorted.apply(xs.size / 2)
    Map(
      "sources.bytes_written_per_changed_byte" ->
        (if (dml.isEmpty) 0.0 else dml.map(_._2).sum / (dml.map(_._3).sum * rowBytes)),
      "sources.files_live" -> median(fileCounts.map(_._6.toDouble).toSeq),
      "sources.files_total" -> median(perPass.map(_.map(c => c._3 - c._2).sum.toDouble)),
      "sources.manifest_files" -> median(perPass.map(_.map(c => c._5 - c._4).sum.toDouble)),
      "sources.scan_files" -> scanFiles.toDouble)
  }
}
