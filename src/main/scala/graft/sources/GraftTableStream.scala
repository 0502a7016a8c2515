package graft.sources

import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.StructType

/** Offset of a streaming table read: manifest version `v`, plus —
  * under `maxFilesPerTrigger` admission control — how many of commit
  * `v`'s ADDED files (path-sorted, deterministic against the immutable
  * manifest) have been served. `served = -1` means the commit is fully
  * drained; its json form is the bare version number, so checkpoints
  * written before within-commit admission existed resume unchanged. */
private[graft] case class GraftTableOffset(v: Int, served: Int = -1)
    extends Offset {
  override def json(): String = if (served < 0) v.toString else s"$v:$served"
}

private[graft] object GraftTableOffset {
  def parse(json: String): GraftTableOffset = json.split(":") match {
    case Array(v) => GraftTableOffset(v.toInt)
    case Array(v, s) => GraftTableOffset(v.toInt, s.toInt)
    case _ => throw new IllegalArgumentException(s"bad table offset: $json")
  }
}

/** STREAMING READS FROM A GRAFT TABLE — `spark.readStream.table
  * ("graft.t")`, the Delta streaming-source shape: offsets ARE manifest
  * versions (the engine's checkpoint is the resume protocol, exactly
  * like the change feed), and each micro-batch serves the files a
  * commit ADDED — INSERT INTO appends, the streaming sink's epochs, a
  * MOR merge's delta files. Admission control is one commit per
  * micro-batch, and — r17, the Delta maxFilesPerTrigger shape — at
  * most `maxFilesPerTrigger` of a commit's files per batch: a giant
  * backfill commit drains across BOUNDED batches instead of becoming
  * one giant batch, resuming mid-commit from the (version, files
  * served) offset with no re-emission. Trigger.AvailableNow pins its
  * version ceiling at query start.
  *
  * An append-only stream cannot represent a commit that REMOVES or
  * rewrites rows (COW DELETE/UPDATE/MERGE, INSERT OVERWRITE, purge,
  * compaction, a deletion-vector republish, RESTORE): by default such
  * a commit FAILS the stream with a pointer at the change feed
  * (`graft.<t>.changes` serves the full pre/post picture) — Delta's
  * "data update detected" contract; with `skipChangeCommits=true` the
  * ENTIRE commit is skipped (its appends too — skipping half a commit
  * would be a torn read) and the stream continues with later appends.
  *
  * `startingVersion` is EXCLUSIVE like the change feed's (default 0:
  * the first batch serves v1 — a new subscriber replays the table's
  * whole history as appends, then follows).
  *
  * At 100 TB: a batch's cost ∝ the commit's appended bytes (bounded
  * further by maxFilesPerTrigger), never table size; planning is
  * O(#files) manifest metadata per transition; the leaf I/O is the
  * same vectorized columnar path as snapshot reads.
  */
private[graft] class GraftTableStream(base: String, schema: StructType,
    startingVersion: Int, skipChangeCommits: Boolean,
    physicalOf: Map[String, String],
    maxFilesPerTrigger: Option[Int] = None) extends MicroBatchStream
    with SupportsTriggerAvailableNow {

  @volatile private var plannedAnyDv = false
  @volatile private var availableNowCap: Option[Int] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(GraftManifest.latest(base))

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  /** Commit `v`'s ADDED entries (path-sorted), empty for a skipped
    * change commit, throwing the data-update error otherwise. */
  private def addedEntries(v: Int): Seq[GraftManifest.Entry] = {
    val pre = if (v <= 1) Seq.empty[GraftManifest.Entry]
      else GraftChangeFeed.resolveOrRetentionError(base, v - 1)
    val post = GraftChangeFeed.resolveOrRetentionError(base, v)
    val prePaths = pre.map(_.path).toSet
    val postByPath = post.map(en => en.path -> en).toMap
    val removed = pre.filterNot(en => postByPath.contains(en.path))
    val preByPath = pre.map(en => en.path -> en).toMap
    // a re-DV'd file keeps its path but changes rows — a data change
    val redv = post.filter(en =>
      preByPath.get(en.path).exists(_.identity != en.identity))
    if (removed.nonEmpty || redv.nonEmpty) {
      if (!skipChangeCommits) throw new UnsupportedOperationException(
        s"streaming table read of $base found a non-append commit at " +
          s"v$v (${removed.size} file(s) removed/rewritten, " +
          s"${redv.size} re-DV'd): a table stream serves appends only. " +
          "Read updates/deletes through the change feed " +
          "(graft.<table>.changes), or set skipChangeCommits=true to " +
          "skip changed commits entirely")
      Seq.empty // skip the WHOLE commit — half a commit is a torn read
    } else post.filterNot(en => prePaths(en.path)).sortBy(_.path)
  }

  /** Admission control: at most one commit — and under
    * maxFilesPerTrigger at most that many of its files — per batch. A
    * restart resumes at the checkpointed (version, served) boundary,
    * never re-emitting. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val st = start.asInstanceOf[GraftTableOffset]
    val ceiling = availableNowCap.getOrElse(GraftManifest.latest(base))
    if (st.served >= 0) {
      // mid-commit: serve the next window (or the remainder)
      val n = addedEntries(st.v).size
      val next = maxFilesPerTrigger match {
        case Some(mf) => math.min(st.served + math.max(mf, 1), n)
        case None => n
      }
      if (next >= n) GraftTableOffset(st.v) else GraftTableOffset(st.v, next)
    } else if (st.v >= ceiling) st
    else {
      maxFilesPerTrigger match {
        case Some(mf) =>
          // bounded mode coalesces EMPTY commits (CREATE, ALTER,
          // skipped change commits) so a trigger always makes progress
          // into real files
          var v2 = st.v + 1
          var n = addedEntries(v2).size
          while (n == 0 && v2 < ceiling) { v2 += 1; n = addedEntries(v2).size }
          if (n <= math.max(mf, 1)) GraftTableOffset(v2)
          else GraftTableOffset(v2, math.max(mf, 1))
        case None => GraftTableOffset(st.v + 1)
      }
    }
  }

  override def initialOffset(): Offset = GraftTableOffset(startingVersion)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is the admission-control form")

  override def deserializeOffset(json: String): Offset =
    GraftTableOffset.parse(json)

  override def commit(end: Offset): Unit = () // manifests are immutable

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftTableOffset]
    val e = end.asInstanceOf[GraftTableOffset]
    def slice(v: Int, from: Int, until: Option[Int]): Seq[InputPartition] = {
      val added = addedEntries(v)
      val window = added.slice(from, until.getOrElse(added.size))
      val dvByPath = window.collect {
        case en if en.dv.isDefined => en.path -> en.dv.get
      }.toMap
      GraftParquetIO.planSplits(window.map(_.path),
        f => Map("_file" -> f), dvByPath.get)
    }
    val planned =
      if (s.v == e.v) {
        // same commit: serve (s.served, e.served] of its added list
        val from = math.max(s.served, 0)
        val until = if (e.served < 0) None else Some(e.served)
        if (s.served < 0) Seq.empty // both complete: nothing to serve
        else slice(e.v, from, until)
      } else {
        val head = if (s.served >= 0) slice(s.v, s.served, None)
          else Seq.empty
        val full = (s.v + 1 until e.v).flatMap(v => slice(v, 0, None))
        val tail = slice(e.v, 0,
          if (e.served < 0) None else Some(e.served))
        head ++ full ++ tail
      }
    plannedAnyDv = planned.exists {
      case g: GraftParquetIO.GraftFileSplit => g.dv.isDefined
      case _ => false
    }
    planned.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftVectorizedReaderFactory(schema, Set("_file"),
      anyDv = plannedAnyDv, physicalOf = physicalOf)

  override def stop(): Unit = ()
}
