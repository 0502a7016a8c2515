package graft.sources

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{StructField, StructType}

/** The file rewrite behind `optimize` purge and compact: bins of manifest
  * entries, each rewritten into one data file by one task of ONE Spark
  * job. A task reads its files through the table scan's own reader
  * (`GraftColumnarReader`; a DV'd file through `GraftDvRowReader`, which
  * skips its dead ordinals) under the snapshot's physical schema, so a
  * column a file predates reads as NULL exactly as the scan reads it.
  * It writes through `GraftDataWriter`, which tracks the table's stats
  * columns. Nothing is inferred, joined or listed: the caller commits
  * the returned entries through the manifest. */
private[graft] object GraftRewrite {

  /** The inputs of one output file, and the partition tuple it carries. */
  final case class Bin(inputs: Seq[GraftManifest.Entry],
      tuple: Map[String, String])

  /** What a task needs of one input file. */
  private final case class Input(path: String, length: Long, dv: Option[String])

  /** Entries grouped by partition tuple, in a stable tuple order: a bin
    * never spans two tuples. */
  private def byTuple(entries: Seq[GraftManifest.Entry])
      : Seq[(Map[String, String], Seq[GraftManifest.Entry])] =
    entries.groupBy(_.partValues).toSeq
      .sortBy(_._1.toSeq.sorted.mkString("\u0000"))

  /** Spark's own `FilePartition` packing, per tuple: files by descending
    * length, each counting `length + openCost`, a new bin whenever the
    * next file would overflow `maxSplit = min(maxPartitionBytes,
    * max(openCost, Σ(length + openCost) / minPartitionNum))`. The split
    * size comes from all of `entries`, as one parquet read of them would
    * compute it; unlike that read, a file is never split across bins. */
  def sparkBins(spark: SparkSession, entries: Seq[GraftManifest.Entry]): Seq[Bin] = {
    val conf = spark.sessionState.conf
    val lens = GraftFs.lengths(entries.map(_.path))
    val openCost = conf.filesOpenCostInBytes
    val minParts = conf.filesMinPartitionNum.getOrElse(
      conf.getConf(SQLConf.LEAF_NODE_DEFAULT_PARALLELISM)
        .getOrElse(spark.sparkContext.defaultParallelism))
    val total = entries.map(e => lens(e.path) + openCost).sum
    val maxSplit = math.min(conf.filesMaxPartitionBytes,
      math.max(openCost, total / minParts))
    byTuple(entries).flatMap { case (tuple, es) =>
      val bins = ArrayBuffer(ArrayBuffer.empty[GraftManifest.Entry])
      var size = 0L
      es.sortBy(e => -lens(e.path)).foreach { e =>
        if (size + lens(e.path) > maxSplit && bins.last.nonEmpty) {
          bins += ArrayBuffer.empty
          size = 0L
        }
        size += lens(e.path) + openCost
        bins.last += e
      }
      bins.map(b => Bin(b.toSeq, tuple))
    }
  }

  /** Compaction's packing, per tuple: files in path order, a new bin
    * whenever the next file would take the open one past `targetBytes`. */
  def targetBins(entries: Seq[GraftManifest.Entry], lens: Map[String, Long],
      targetBytes: Long): Seq[Bin] =
    byTuple(entries).flatMap { case (tuple, es) =>
      val bins = ArrayBuffer.empty[ArrayBuffer[GraftManifest.Entry]]
      var size = 0L
      es.sortBy(_.path).foreach { e =>
        val len = lens(e.path)
        if (bins.isEmpty || size + len > targetBytes) {
          bins += ArrayBuffer(e)
          size = len
        } else { bins.last += e; size += len }
      }
      bins.map(b => Bin(b.toSeq, tuple))
    }

  /** Rewrites each bin of `snap`'s entries into one file under `outDir`,
    * in one Spark job with one task per bin, and returns the outputs'
    * entries in bin order (a bin whose rows are all deleted yields none).
    * Stats are tracked for `keyColumn` (physical name; the key stats
    * field) and the table's stats columns. Each task checks its rows
    * written against Σ(footer rows − DV cardinality) of its inputs; when
    * any task fails, `outDir` is deleted and the failure rethrown, so
    * nothing reaches a commit. */
  def rewrite(spark: SparkSession, base: String, snap: GraftManifest.Snapshot,
      bins: Seq[Bin], outDir: String,
      keyColumn: Option[String] = None): Seq[GraftManifest.Entry] = {
    val table = new GraftTable(base, base, snap)
    val schema = StructType(table.schema.fields.map(f =>
      StructField(GraftCatalog.physicalName(f), f.dataType)))
    val statsCols = (keyColumn.toSeq ++ table.physicalStatsColumns).distinct
    val lens = GraftFs.lengths(bins.flatMap(_.inputs.map(_.path)))
    val tasks = bins.map(_.inputs.map(e => Input(e.path, lens(e.path), e.dv)))
    val commits =
      try spark.sparkContext.parallelize(tasks.zipWithIndex, tasks.size)
        .map { case (inputs, i) => writeBin(inputs, i, schema, outDir, statsCols) }
        .collect()
      catch {
        case e: Throwable =>
          GraftFs.deleteRecursively(outDir)
          throw e
      }
    bins.zip(commits).collect { case (bin, c) if c.rows > 0 =>
      GraftManifest.Entry(c.path,
        if (c.hasKey) Some((c.keyLo, c.keyHi)) else None,
        colStats = c.colStats, partValues = bin.tuple)
    }
  }

  /** One task: every input's live rows into one file. */
  private def writeBin(inputs: Seq[Input], bin: Int, schema: StructType,
      outDir: String, statsCols: Seq[String]): GraftSqlCommit = {
    val writer = new GraftDataWriter(schema, outDir, bin,
      TaskContext.get().taskAttemptId(), statsCols)
    try {
      var expected = 0L
      inputs.foreach { in =>
        val cols = new GraftColumnarReader(GraftParquetIO.GraftFileSplit(
          in.path, 0L, in.length), schema, schema)
        val rows: PartitionReader[InternalRow] = in.dv match {
          case Some(dv) => new GraftDvRowReader(cols, dv, 0L)
          case None => new GraftBatchRowReader(cols)
        }
        try {
          while (rows.next()) writer.write(rows.get())
          expected += cols.splitRows - in.dv.fold(0)(GraftDv.readCached(_).length)
        } finally rows.close()
      }
      val commit = writer.commit().asInstanceOf[GraftSqlCommit]
      if (commit.rows != expected) throw new IllegalStateException(
        s"rewrite of ${inputs.map(_.path).mkString(", ")} wrote ${commit.rows} " +
          s"rows, expected $expected (footer rows minus deleted positions)")
      commit
    } catch {
      case e: Throwable =>
        writer.abort()
        throw e
    }
  }
}
