package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.PartitionReader

/** DELETION VECTORS for the graft manifest protocol (merge-on-read
  * DELETE): one sidecar per data file listing the ROW POSITIONS (0-based
  * ordinals within the file) that are logically deleted. The data file
  * is never touched — a delete commit writes the sidecar and republishes
  * the manifest with the entry's `dv` field set (an atomic manifest
  * swap, like every commit in the protocol). Readers subtract the
  * positions at scan time; OPTIMIZE-style maintenance (purge) rewrites
  * the file without the dead rows and drops the sidecar.
  *
  * This is the Delta deletion-vector / Iceberg positional-delete shape:
  * a DELETE's write cost is O(matched rows) regardless of how many
  * 128 MB files the rows are scattered across — at 100 TB, deleting one
  * row per file via copy-on-write would rewrite the whole table; via
  * DVs it writes kilobytes.
  *
  * Sidecar format: magic "GDV1", int32 count, count big-endian int64
  * positions in ascending order. Positions are bounded by the file's
  * row count (a 128 MB parquet file holds ~1-5 M rows → a worst-case
  * DV is a few MB; typical DVs are tiny). A production variant would
  * use a roaring bitmap — the protocol (sidecar + manifest field +
  * read-time subtraction) is the load-bearing part.
  */
private[graft] object GraftDv {

  private val Magic = Array[Byte]('G', 'D', 'V', '1')

  /** Writes `positions` (must be ascending) as a DV sidecar — via
    * GraftFs, so sidecars land wherever the table lives (runs
    * executor-side from MOR writer tasks). */
  def write(path: String, positions: Array[Long]): Unit = {
    val buf = java.nio.ByteBuffer.allocate(8 + 8 * positions.length)
    buf.put(Magic)
    buf.putInt(positions.length)
    positions.foreach(buf.putLong)
    GraftFs.writeBytes(path, buf.array())
  }

  /** Reads a DV sidecar back as the ascending position array. */
  def read(path: String): Array[Long] = {
    val bytes = GraftFs.readBytes(path)
    val buf = java.nio.ByteBuffer.wrap(bytes)
    val magic = new Array[Byte](4)
    buf.get(magic)
    require(magic.sameElements(Magic), s"not a graft DV file: $path")
    val n = buf.getInt
    val out = new Array[Long](n)
    var i = 0
    while (i < n) { out(i) = buf.getLong; i += 1 }
    out
  }

  /** Row-group layout (startingPos, compressedSize, rowCount) of a
    * file, from its footer. Split planning reads it only for a file
    * that fans out into several splits; a whole-file split starts at
    * row 0 without it. */
  def rowGroups(path: String): Seq[(Long, Long, Long)] = {
    import scala.jdk.CollectionConverters._
    GraftParquet.footer(path).getBlocks.asScala.toSeq
      .map(b => (b.getStartingPos, b.getCompressedSize, b.getRowCount))
  }

  /** First row index of the row groups a byte-range split covers —
    * parquet-mr's MIDPOINT rule (a row group belongs to the split
    * containing startingPos + compressedSize/2), so adjacent splits
    * partition the file's rows exactly. Pure function over a footer's
    * `rowGroups`; positions within a split are firstRowIndex + read
    * ordinal, valid because the DV read path never row-group-filters.
    * A split that owns no row group reads no rows; it gets 0. */
  def splitFirstRow(groups: Seq[(Long, Long, Long)], start: Long,
      length: Long): Long = {
    var rowsBefore = 0L
    val it = groups.iterator
    while (it.hasNext) {
      val (pos, size, rows) = it.next()
      val mid = pos + size / 2
      if (mid >= start && mid < start + length) return rowsBefore
      rowsBefore += rows
    }
    0L
  }

  /** Executor-side sidecar cache: DV files are immutable once written
    * (every merge/commit writes a FRESH UUID path), so splits of the
    * same file share one parse instead of each re-reading the sidecar.
    * Bounded: cleared wholesale past 64 entries (sidecars are small;
    * this is a working-set cache, not a store). */
  private val dvCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Long]]()

  def readCached(path: String): Array[Long] = {
    if (dvCache.size > 64) dvCache.clear()
    dvCache.computeIfAbsent(path, read(_))
  }
}

/** Row reader over one split of a DV'd file: the same vectorized
  * columnar decode underneath (projection pushed, batches reused), with
  * deleted ordinals skipped during the batch→row walk. Positions merge
  * against the ascending DV with a single advancing pointer — O(1)
  * amortized per row, no per-row hashing. Spark plans this split
  * row-based (`supportColumnarReads` = false for DV splits); files
  * without DVs keep the fully columnar path, and purge restores it. */
private[sources] class GraftDvRowReader(
    inner: GraftColumnarReader, dvPath: String,
    firstRowIndex: Long) extends PartitionReader[InternalRow] {

  private val dv: Array[Long] = GraftDv.readCached(dvPath)
  // advance past positions that precede this split
  private var dvPtr = {
    var i = 0
    while (i < dv.length && dv(i) < firstRowIndex) i += 1
    i
  }
  private var pos = firstRowIndex
  private var batch: org.apache.spark.sql.vectorized.ColumnarBatch = _
  private var idx = 0
  private var cur: InternalRow = _

  override def next(): Boolean = {
    while (true) {
      if (batch == null || idx >= batch.numRows()) {
        if (!inner.next()) return false
        batch = inner.get()
        idx = 0
      }
      while (idx < batch.numRows()) {
        val p = pos
        pos += 1
        val i = idx
        idx += 1
        while (dvPtr < dv.length && dv(dvPtr) < p) dvPtr += 1
        if (dvPtr < dv.length && dv(dvPtr) == p) dvPtr += 1 // deleted
        else { cur = batch.getRow(i); return true }
      }
    }
    false // unreachable
  }

  override def get(): InternalRow = cur

  override def close(): Unit = inner.close()
}
