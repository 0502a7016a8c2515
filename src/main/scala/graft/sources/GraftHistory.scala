package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Commit-history metadata table, addressed `graft.<t>.history` (the
  * Iceberg metadata-table convention; Delta's DESCRIBE HISTORY): one
  * row per still-resolvable manifest version with its `#ts` commit
  * timestamp, file/deletion-vector counts, restore provenance, and the
  * streaming sink's txn watermark. Everything comes from manifest
  * METADATA — O(#versions × #files) driver-side text, no data file is
  * ever opened, so the query is instant at any table size.
  */
private[sources] class GraftHistoryTable(tableName: String, base: String)
    extends Table with SupportsRead {

  override def name(): String = tableName

  override def schema(): StructType = GraftHistory.Schema

  override def partitioning(): Array[Transform] = Array.empty

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new GraftHistoryScan(base)
}

private[graft] object GraftHistory {
  val Schema: StructType = StructType(Seq(
    StructField("version", LongType, nullable = false),
    StructField("ts_millis", LongType, nullable = false),
    StructField("n_files", LongType, nullable = false),
    StructField("n_dv_files", LongType, nullable = false),
    StructField("restore_of", LongType, nullable = true),
    StructField("txn_app_id", StringType, nullable = true),
    StructField("txn_epoch", LongType, nullable = true)))

  /** One row per resolvable version, ascending. */
  def rows(base: String): Seq[InternalRow] = {
    GraftManifest.versions(base).map { v =>
      val snap = GraftManifest.read(base, v)
      val txn = snap.headers.get("txn").map(_.split("\t", 2))
      InternalRow(
        v.toLong,
        GraftManifest.commitTime(base, snap),
        snap.entries.size.toLong,
        snap.entries.count(_.dv.isDefined).toLong,
        snap.headers.get("restore").map(r => java.lang.Long.valueOf(r.toLong)).orNull,
        txn.map(t => UTF8String.fromString(t(0))).orNull,
        txn.flatMap(t => t.lift(1)).map(e =>
          java.lang.Long.valueOf(e.toLong)).orNull)
    }
  }
}

/** Driver-materialized scan: the history rows ride inside the single
  * input partition (#versions rows of metadata — trivially bounded). */
private[sources] class GraftHistoryScan(base: String) extends Scan with Batch {

  override def readSchema(): StructType = GraftHistory.Schema

  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    // serialize as plain values (InternalRow itself is not serializable
    // across the task boundary in all cases; UTF8String is)
    val vals = GraftHistory.rows(base).map(r =>
      (0 until GraftHistory.Schema.length).map(i =>
        if (r.isNullAt(i)) null
        else GraftHistory.Schema(i).dataType match {
          case LongType => r.getLong(i)
          case StringType => r.getUTF8String(i)
          case other => throw new IllegalStateException(s"unexpected $other")
        }))
    Array(HistoryPartition(vals))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    (partition: InputPartition) => {
      val it = partition.asInstanceOf[HistoryPartition].rows.iterator
      new PartitionReader[InternalRow] {
        private var cur: InternalRow = _
        override def next(): Boolean = {
          if (!it.hasNext) false
          else { cur = InternalRow.fromSeq(it.next()); true }
        }
        override def get(): InternalRow = cur
        override def close(): Unit = ()
      }
    }

  override def description(): String = s"GraftHistoryScan($base)"
}

/** Top-level (no outer reference — the partition ships to executors). */
private[sources] case class HistoryPartition(rows: Seq[Seq[Any]])
    extends InputPartition

/** Named-ref metadata table, addressed `graft.<t>.tags` (the r16
  * version-tag surface's SQL listing): one row per tag with its target
  * version and that version's commit timestamp — `_refs/` + manifest
  * header metadata only, no data file opened. */
private[sources] class GraftTagsTable(tableName: String, base: String)
    extends Table with SupportsRead {

  override def name(): String = tableName

  override def schema(): StructType = GraftTagsTable.Schema

  override def partitioning(): Array[Transform] = Array.empty

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new GraftTagsScan(base)
}

private[graft] object GraftTagsTable {
  val Schema: StructType = StructType(Seq(
    StructField("tag", StringType, nullable = false),
    StructField("version", LongType, nullable = false),
    StructField("ts_millis", LongType, nullable = false)))
}

/** Driver-materialized like the history scan: #tags rows of metadata. */
private[sources] class GraftTagsScan(base: String) extends Scan with Batch {

  override def readSchema(): StructType = GraftTagsTable.Schema

  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    val rows = graft.queries.Extras8.tags(base).toSeq.sortBy(_._1).map {
      case (name, v) => Seq[Any](UTF8String.fromString(name), v.toLong,
        GraftManifest.commitTime(base, v))
    }
    Array(HistoryPartition(rows))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    (partition: InputPartition) => {
      val it = partition.asInstanceOf[HistoryPartition].rows.iterator
      new PartitionReader[InternalRow] {
        private var cur: InternalRow = _
        override def next(): Boolean = {
          if (!it.hasNext) false
          else { cur = InternalRow.fromSeq(it.next()); true }
        }
        override def get(): InternalRow = cur
        override def close(): Unit = ()
      }
    }

  override def description(): String = s"GraftTagsScan($base)"
}

/** Live-files metadata table, addressed `graft.<t>.files` (Iceberg's
  * `files` metadata table): one row per CURRENT-snapshot manifest
  * entry with its size, key stats, per-column-stats count, deletion-
  * vector flag, and rendered partition tuple — manifest metadata plus
  * ONE batched listing per parent directory for sizes; no data file is
  * opened. The SQL window into layout decisions: what pruning sees,
  * what compaction would bin, which files still carry DVs. */
private[sources] class GraftFilesTable(tableName: String, base: String)
    extends Table with SupportsRead {

  override def name(): String = tableName

  override def schema(): StructType = GraftFilesTable.Schema

  override def partitioning(): Array[Transform] = Array.empty

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new GraftFilesScan(base)
}

private[graft] object GraftFilesTable {
  val Schema: StructType = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("size_bytes", LongType, nullable = false),
    StructField("key_lo", LongType, nullable = true),
    StructField("key_hi", LongType, nullable = true),
    StructField("n_col_stats", LongType, nullable = false),
    StructField("has_dv", BooleanType, nullable = false),
    StructField("partition", StringType, nullable = true)))
}

/** Driver-materialized like the history scan: #files rows of metadata. */
private[sources] class GraftFilesScan(base: String) extends Scan with Batch {

  override def readSchema(): StructType = GraftFilesTable.Schema

  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    val entries = GraftManifest.resolve(base).entries
    val sizes = GraftFs.lengths(entries.map(_.path))
    val rows = entries.sortBy(_.path).map { e =>
      val part =
        if (e.partValues.isEmpty) null
        else UTF8String.fromString(e.partValues.toSeq.sortBy(_._1)
          .map { case (k, v) => s"$k=${if (v == null) "null" else v}" }
          .mkString(";"))
      Seq[Any](UTF8String.fromString(e.path),
        sizes.getOrElse(e.path, 0L),
        e.stats.map(s => java.lang.Long.valueOf(s._1)).orNull,
        e.stats.map(s => java.lang.Long.valueOf(s._2)).orNull,
        e.colStats.size.toLong,
        java.lang.Boolean.valueOf(e.dv.isDefined),
        part)
    }
    Array(HistoryPartition(rows))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    (partition: InputPartition) => {
      val it = partition.asInstanceOf[HistoryPartition].rows.iterator
      new PartitionReader[InternalRow] {
        private var cur: InternalRow = _
        override def next(): Boolean = {
          if (!it.hasNext) false
          else { cur = InternalRow.fromSeq(it.next()); true }
        }
        override def get(): InternalRow = cur
        override def close(): Unit = ()
      }
    }

  override def description(): String = s"GraftFilesScan($base)"
}
