package graft.sources

import java.util.OptionalLong

import scala.collection.JavaConverters._

import org.apache.avro.{LogicalTypes, Schema => ASchema}
import org.apache.avro.file.{CodecFactory, DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.mapred.FsInput
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns, SupportsReportStatistics, Statistics}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsAdmissionControl}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** Avro object-container source/sink as a native DataSource V2 connector.
  *
  * This environment ships Avro core (`avro-1.12.1.jar`) but NOT the
  * `spark-avro` module, so the mainstream Avro landing format is wired
  * up the way any missing format would be on a real cluster: a
  * `TableProvider` built on the public connector API. The design mirrors
  * what the built-in file sources do where it matters at 100 TB:
  *
  *  - **Splittable reads.** Avro container files are block-structured
  *    with 16-byte sync markers; a reader can start at any byte offset
  *    via `DataFileReader.sync(start)` and stop at the first block past
  *    `end` via `pastSync(end)` — the same contract Hadoop's
  *    `AvroInputFormat` relies on. Planning slices every file at
  *    `spark.sql.files.maxPartitionBytes`, so one 10 GB file becomes
  *    ~80 parallel partitions instead of one straggler task.
  *  - **Column pruning.** `SupportsPushDownRequiredColumns` lands the
  *    pruned schema in the reader, which passes it to Avro as the
  *    READER schema: the resolving decoder SKIP-decodes fields absent
  *    from it (no string/bytes materialization for unused columns),
  *    so pruning saves decode CPU on wide rows, not just conversion.
  *  - **Overwrite via truncate.** The write builder implements
  *    `SupportsTruncate`, so `.mode("overwrite")` plans as
  *    OverwriteByExpression(true); the actual sweep is deferred to job
  *    commit so a failed overwrite never destroys the prior generation.
  *  - **Two-phase commit hygiene.** Tasks write
  *    `part-<split>-<task>.avro` into a hidden `.staging-<uuid>`
  *    directory (readers skip `_`/`.`-prefixed names at every level);
  *    the driver's job commit renames winners into place, stamps
  *    `_SUCCESS`, and drops staging. Task abort deletes the task file,
  *    job abort deletes the staging dir — a dead job leaves no readable
  *    partial output.
  *
  * Type surface (both directions, nullable via `union(null, T)`):
  * boolean/int/long/float/double/string/binary, date (int/`date`),
  * timestamp (long/`timestamp-micros`), timestamp_ntz
  * (long/`local-timestamp-micros` — what Spark 4 reads for parquet
  * `isAdjustedToUTC=0` columns like the corpus' `o_orderdate`; both are
  * Spark's own micros encoding so values pass through untouched), and
  * arrays of any supported type. That covers every column in the test
  * corpus and the common lake schemas; unsupported types fail loudly at
  * planning time.
  *
  * Usage: `spark.read.format("gavro").load(dir)` /
  * `df.write.format("gavro").option("compression","snappy").save(dir)`
  * (registered via META-INF/services; the class name works too).
  */
class AvroDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "gavro"

  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val files = AvroIo.listFiles(AvroIo.paths(options), conf)
    require(files.nonEmpty, s"gavro: no .avro files under ${AvroIo.paths(options).mkString(",")}")
    val in = new FsInput(files.head.getPath, conf)
    val rd = new DataFileReader[GenericRecord](in, new GenericDatumReader[GenericRecord]())
    try AvroIo.toCatalyst(rd.getSchema) finally rd.close()
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new AvroTable(schema, new CaseInsensitiveStringMap(properties))

  private def spark = SparkSession.active
}

private[sources] class AvroTable(schema: StructType,
    options: CaseInsensitiveStringMap)
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"gavro(${AvroIo.paths(options).mkString(",")})"
  override def schema(): StructType = schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)

  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new AvroScanBuilder(schema, opts)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new AvroWriteBuilder(info.schema(), options, truncate = false)
}

private[sources] class AvroScanBuilder(full: StructType,
    options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = full
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = new AvroScan(full, required, options)
}

private[sources] class AvroScan(full: StructType, required: StructType,
    options: CaseInsensitiveStringMap) extends Scan with Batch
    with SupportsReportStatistics {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"gavro ReadSchema: ${required.map(_.name).mkString(",")}"

  private def spark = SparkSession.active
  private lazy val files = AvroIo.listFiles(AvroIo.paths(options),
    spark.sessionState.newHadoopConf())

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): OptionalLong =
      OptionalLong.of(files.map(_.getLen).sum)
    override def numRows(): OptionalLong = OptionalLong.empty()
  }

  override def planInputPartitions(): Array[InputPartition] = {
    // same slicing rule as FilePartition.maxSplitBytes, minus the
    // openCost refinement: cap at maxPartitionBytes so a huge file
    // parallelizes and a directory of small files stays 1 task each
    val maxSplit = spark.sessionState.conf.filesMaxPartitionBytes
    files.flatMap { st =>
      val len = st.getLen
      (0L until len by maxSplit).map { start =>
        AvroInputPartition(st.getPath.toString, start,
          math.min(maxSplit, len - start))
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val conf = new SerializableConfiguration(spark.sessionState.newHadoopConf())
    new AvroReaderFactory(required, conf)
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new AvroMicroBatchStream(required, options)
}

/** Streaming (micro-batch) read over a growing `.avro` directory — the
  * landing-zone ingest path, making `gavro` a full batch+streaming
  * source. Offsets index into the file listing ordered by
  * (modification time, path): append-only arrival (the file-source
  * contract — writers land NEW files, never rewrite old ones, which the
  * sink side of this connector guarantees via its staging commit) means
  * the order of already-seen files never changes, so an offset is a
  * stable high-water mark and each file is read EXACTLY once.
  * Admission control honors `maxFilesPerTrigger`; each batch's files
  * are sync-marker split exactly like the batch scan, so one huge
  * landed file still parallelizes inside its micro-batch. */
private[sources] class AvroMicroBatchStream(required: StructType,
    options: CaseInsensitiveStringMap)
    extends MicroBatchStream with SupportsAdmissionControl {

  private def spark = SparkSession.active
  private val maxFilesPerTrigger: Option[Int] =
    Option(options.get("maxfilespertrigger")).map(_.toInt)

  private def listing(): Seq[org.apache.hadoop.fs.FileStatus] =
    AvroIo.listFiles(AvroIo.paths(options), spark.sessionState.newHadoopConf())
      .sortBy(st => (st.getModificationTime, st.getPath.toString))

  override def initialOffset(): Offset = AvroStreamOffset(0)

  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.map(ReadLimit.maxFiles).getOrElse(ReadLimit.allAvailable())

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is the admission-control entry point")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val total = listing().size.toLong
    val from = start.asInstanceOf[AvroStreamOffset].idx
    limit match {
      case mf: ReadMaxFiles => AvroStreamOffset(math.min(total, from + mf.maxFiles()))
      case _ => AvroStreamOffset(total)
    }
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[AvroStreamOffset].idx.toInt
    val to = end.asInstanceOf[AvroStreamOffset].idx.toInt
    val maxSplit = spark.sessionState.conf.filesMaxPartitionBytes
    listing().slice(from, to).flatMap { st =>
      val len = st.getLen
      (0L until len by maxSplit).map { s =>
        AvroInputPartition(st.getPath.toString, s, math.min(maxSplit, len - s))
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new AvroReaderFactory(required,
      new SerializableConfiguration(spark.sessionState.newHadoopConf()))

  override def deserializeOffset(json: String): Offset =
    AvroStreamOffset("""-?\d+""".r.findFirstIn(json).get.toLong)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

private[sources] case class AvroStreamOffset(idx: Long) extends Offset {
  override def json(): String = s"""{"idx":$idx}"""
}

private[sources] case class AvroInputPartition(path: String, start: Long,
    length: Long) extends InputPartition

private[sources] class AvroReaderFactory(required: StructType,
    conf: SerializableConfiguration) extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[AvroInputPartition]
    new AvroPartitionReader(part, required, conf.value)
  }
}

/** Reads records in `[first sync ≥ start, first sync ≥ start+length)` —
  * the standard split contract: every record belongs to exactly one
  * split because both edges snap to the same sync-marker grid. */
private[sources] class AvroPartitionReader(part: AvroInputPartition,
    required: StructType, conf: Configuration)
    extends PartitionReader[InternalRow] {
  private val in = new FsInput(new Path(part.path), conf)
  // open once to learn the writer schema, then re-open with a PRUNED
  // reader schema: Avro's resolving decoder SKIP-decodes fields absent
  // from the reader schema, so column pruning saves decode CPU, not
  // just conversion — the wide-table win the stock formats get from
  // their reader schemas
  private val prunedSchema = {
    val probe = new DataFileReader[GenericRecord](
      new FsInput(new Path(part.path), conf), new GenericDatumReader[GenericRecord]())
    val writer = try probe.getSchema finally probe.close()
    AvroIo.pruneSchema(writer, required)
  }
  private val reader = new DataFileReader[GenericRecord](in,
    new GenericDatumReader[GenericRecord](null, prunedSchema))
  reader.sync(part.start)
  private val conv = new AvroToRow(prunedSchema, required)
  private var record: GenericRecord = _
  private var row: InternalRow = _

  override def next(): Boolean = {
    if (reader.hasNext && !reader.pastSync(part.start + part.length)) {
      record = reader.next(record)
      row = conv.convert(record)
      true
    } else false
  }
  override def get(): InternalRow = row
  override def close(): Unit = reader.close()
}

// ---------------------------------------------------------------------------
// write path
// ---------------------------------------------------------------------------

private[sources] class AvroWriteBuilder(schema: StructType,
    options: CaseInsensitiveStringMap, truncate: Boolean)
    extends WriteBuilder with SupportsTruncate {
  override def truncate(): WriteBuilder =
    new AvroWriteBuilder(schema, options, truncate = true)
  override def build(): Write = new Write {
    override def toBatch: BatchWrite = new AvroBatchWrite(schema, options, truncate)
  }
}

private[sources] case class AvroCommit(path: String) extends WriterCommitMessage

/** Two-phase job commit: tasks write into a hidden per-job staging
  * directory (`.staging-<uuid>` — invisible to `AvroIo.listFiles`); the
  * driver's `commit` applies truncate, renames the winners into the
  * final directory, stamps `_SUCCESS`, and removes staging. A job that
  * dies mid-flight therefore leaves the previous contents readable and
  * untouched — `abort` just drops the staging dir. */
private[sources] class AvroBatchWrite(schema: StructType,
    options: CaseInsensitiveStringMap, truncate: Boolean) extends BatchWrite {
  private val dir = AvroIo.paths(options).head
  private val compression = Option(options.get("compression")).getOrElse("snappy")
  private val stagingName = s".staging-${java.util.UUID.randomUUID()}"

  private def fsAndPaths() = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val p = new Path(dir)
    (p.getFileSystem(conf), p, new Path(p, stagingName))
  }

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val spark = SparkSession.active
    val conf = spark.sessionState.newHadoopConf()
    val (fs, _, staging) = fsAndPaths()
    fs.mkdirs(staging)
    // fail on unsupported schema at PLAN time, on the driver
    AvroIo.toAvro(schema)
    new AvroWriterFactory(schema, staging.toString, compression,
      new SerializableConfiguration(conf))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val (fs, root, staging) = fsAndPaths()
    if (truncate) {
      // truncate is deferred to COMMIT so a failed overwrite job can't
      // destroy the previous generation. The sweep skips EVERY
      // `.staging-*` name, not just this job's: a concurrent writer's
      // in-flight staging dir must survive or its commit renames fail.
      // (Two concurrent truncate-writers still race on the FINAL files
      // — last commit wins, same as Hadoop FileOutputCommitter v2 — but
      // neither can strand the other mid-commit.)
      fs.listStatus(root)
        .filterNot(_.getPath.getName.startsWith(".staging-"))
        .foreach(st => fs.delete(st.getPath, true))
    }
    messages.foreach { case AvroCommit(path) =>
      val src = new Path(path)
      fs.rename(src, new Path(root, src.getName))
    }
    fs.delete(staging, true)
    // Reclaim staging dirs orphaned by CRASHED jobs: anything
    // `.staging-*` older than the TTL cannot belong to a live writer
    // (a healthy commit deletes its own dir above within the job's
    // lifetime), so sweep it here — otherwise orphans accumulate in
    // the table root forever. The TTL bounds the assumption "no job
    // runs longer than a day"; a concurrent writer younger than that
    // is untouched, same as before.
    val ttlMs = 24L * 3600 * 1000
    val cutoff = System.currentTimeMillis() - ttlMs
    fs.listStatus(root)
      .filter(st => st.getPath.getName.startsWith(".staging-") &&
        st.getModificationTime < cutoff)
      .foreach(st => fs.delete(st.getPath, true))
    val out = fs.create(new Path(root, "_SUCCESS"), true); out.close()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val (fs, _, staging) = fsAndPaths()
    fs.delete(staging, true); ()
  }
}

private[sources] class AvroWriterFactory(schema: StructType, dir: String,
    compression: String, conf: SerializableConfiguration)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new AvroDataWriter(schema, dir, compression, conf.value, partitionId, taskId)
}

private[sources] class AvroDataWriter(schema: StructType, dir: String,
    compression: String, conf: Configuration, partitionId: Int, taskId: Long)
    extends DataWriter[InternalRow] {
  private val avroSchema = AvroIo.toAvro(schema)
  private val path = new Path(dir, f"part-$partitionId%05d-$taskId.avro")
  private val fs = path.getFileSystem(conf)
  private val writer = {
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](avroSchema))
    w.setCodec(compression match {
      case "snappy" => CodecFactory.snappyCodec()
      case "deflate" => CodecFactory.deflateCodec(6)
      case "null" | "none" | "uncompressed" => CodecFactory.nullCodec()
      case other => throw new IllegalArgumentException(
        s"gavro: unsupported compression '$other'")
    })
    w.create(avroSchema, fs.create(path, true))
  }
  private val conv = new RowToAvro(schema, avroSchema)

  override def write(row: InternalRow): Unit = writer.append(conv.convert(row))
  override def commit(): WriterCommitMessage = { writer.close(); AvroCommit(path.toString) }
  override def abort(): Unit = {
    try writer.close() catch { case _: Throwable => () }
    fs.delete(path, false); ()
  }
  override def close(): Unit = ()
}

// ---------------------------------------------------------------------------
// schema + value conversion
// ---------------------------------------------------------------------------

/** Catalyst ⇄ Avro schema mapping and shared path/listing helpers. */
private[sources] object AvroIo {

  def paths(options: CaseInsensitiveStringMap): Seq[String] = {
    val multi = Option(options.get("paths")).map { js =>
      // DataFrameReader.load(paths: _*) passes a JSON array
      "\"((?:[^\"\\\\]|\\\\.)*)\"".r.findAllMatchIn(js).map(_.group(1)).toSeq
    }.getOrElse(Nil)
    val single = Option(options.get("path")).toSeq
    val all = (single ++ multi).distinct
    require(all.nonEmpty, "gavro: no path specified")
    all
  }

  def listFiles(paths: Seq[String], conf: Configuration)
      : Seq[org.apache.hadoop.fs.FileStatus] =
    paths.flatMap { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      if (!fs.exists(path)) Nil
      else if (fs.getFileStatus(path).isFile) Seq(fs.getFileStatus(path))
      else walk(fs, path)
    }.sortBy(_.getPath.toString)

  /** Recursive listing with the standard Hadoop hygiene rule: names
    * starting with `_` or `.` (metadata, in-flight staging dirs) are
    * invisible to readers at every level. */
  private def walk(fs: org.apache.hadoop.fs.FileSystem, dir: Path)
      : Seq[org.apache.hadoop.fs.FileStatus] =
    fs.listStatus(dir).toSeq
      .filterNot { st =>
        val n = st.getPath.getName
        n.startsWith("_") || n.startsWith(".")
      }
      .flatMap { st =>
        if (st.isDirectory) walk(fs, st.getPath)
        else if (st.getPath.getName.endsWith(".avro")) Seq(st)
        else Nil
      }

  /** Writer schema pruned to the fields the scan needs (writer order,
    * matched by name — Avro resolves reader fields by name). Used as
    * the READER schema so the resolving decoder skip-decodes everything
    * else; a required field the writer lacks (schema evolution) is
    * simply absent here and reads as null in [[AvroToRow]]. */
  def pruneSchema(writer: ASchema, required: StructType): ASchema = {
    val want = required.fieldNames.toSet
    val fields = writer.getFields.asScala.toSeq
      .filter(f => want.contains(f.name))
      .map(f => new ASchema.Field(f.name, f.schema, f.doc, f.defaultVal))
    ASchema.createRecord(writer.getName, writer.getDoc, writer.getNamespace,
      false, java.util.Arrays.asList(fields: _*))
  }

  /** Avro container (writer) schema → Catalyst. Unions other than
    * `[null, T]` and nested records are out of surface — fail loudly. */
  def toCatalyst(s: ASchema): StructType = {
    require(s.getType == ASchema.Type.RECORD, s"gavro: top-level must be record, got ${s.getType}")
    StructType(s.getFields.asScala.toSeq.map { f =>
      val (dt, nullable) = fieldType(f.schema())
      StructField(f.name(), dt, nullable)
    })
  }

  private def fieldType(s: ASchema): (DataType, Boolean) = s.getType match {
    case ASchema.Type.UNION =>
      val branches = s.getTypes.asScala.toSeq
      val nonNull = branches.filter(_.getType != ASchema.Type.NULL)
      require(nonNull.size == 1, s"gavro: unsupported union $s")
      (fieldType(nonNull.head)._1, branches.size > nonNull.size)
    case ASchema.Type.BOOLEAN => (BooleanType, false)
    case ASchema.Type.INT =>
      if (s.getLogicalType.isInstanceOf[LogicalTypes.Date]) (DateType, false)
      else (IntegerType, false)
    case ASchema.Type.LONG =>
      if (s.getLogicalType.isInstanceOf[LogicalTypes.TimestampMicros]) (TimestampType, false)
      else if (s.getLogicalType.isInstanceOf[LogicalTypes.LocalTimestampMicros]) (TimestampNTZType, false)
      else (LongType, false)
    case ASchema.Type.FLOAT => (FloatType, false)
    case ASchema.Type.DOUBLE => (DoubleType, false)
    case ASchema.Type.STRING => (StringType, false)
    case ASchema.Type.BYTES => (BinaryType, false)
    case ASchema.Type.ARRAY =>
      val (et, en) = fieldType(s.getElementType)
      (ArrayType(et, en), false)
    case other => throw new IllegalArgumentException(s"gavro: unsupported avro type $other")
  }

  /** Catalyst → Avro writer schema (nullable → `union(null, T)`). */
  def toAvro(schema: StructType): ASchema = {
    val fields = schema.fields.map { f =>
      val base = avroType(f.dataType)
      val t = if (f.nullable)
        ASchema.createUnion(ASchema.create(ASchema.Type.NULL), base)
      else base
      new ASchema.Field(f.name, t, null, if (f.nullable) ASchema.Field.NULL_DEFAULT_VALUE else null)
    }
    ASchema.createRecord("graft_avro", null, "graft", false, java.util.Arrays.asList(fields: _*))
  }

  private def avroType(dt: DataType): ASchema = dt match {
    case BooleanType => ASchema.create(ASchema.Type.BOOLEAN)
    case IntegerType => ASchema.create(ASchema.Type.INT)
    case LongType => ASchema.create(ASchema.Type.LONG)
    case FloatType => ASchema.create(ASchema.Type.FLOAT)
    case DoubleType => ASchema.create(ASchema.Type.DOUBLE)
    case StringType => ASchema.create(ASchema.Type.STRING)
    case BinaryType => ASchema.create(ASchema.Type.BYTES)
    case DateType =>
      LogicalTypes.date().addToSchema(ASchema.create(ASchema.Type.INT))
    case TimestampType =>
      // Spark's InternalRow already stores micros-since-epoch longs, so
      // timestamp-micros round-trips without arithmetic
      LogicalTypes.timestampMicros().addToSchema(ASchema.create(ASchema.Type.LONG))
    case TimestampNTZType =>
      // parquet isAdjustedToUTC=0 columns (e.g. the corpus' o_orderdate)
      // surface as NTZ in Spark 4; Avro's local-timestamp-micros is the
      // matching zone-less logical type — same micros-long passthrough
      LogicalTypes.localTimestampMicros().addToSchema(ASchema.create(ASchema.Type.LONG))
    case ArrayType(et, containsNull) =>
      val elem = if (containsNull)
        ASchema.createUnion(ASchema.create(ASchema.Type.NULL), avroType(et))
      else avroType(et)
      ASchema.createArray(elem)
    case other => throw new IllegalArgumentException(s"gavro: unsupported spark type $other")
  }
}

/** GenericRecord → InternalRow for the PRUNED schema: fields resolve by
  * name against the writer schema; a field absent from the file (schema
  * evolution) reads as null. */
private[sources] class AvroToRow(writer: ASchema, required: StructType) {
  private val getters: Array[GenericRecord => Any] =
    required.fields.map { f =>
      val wf = writer.getField(f.name)
      if (wf == null) { (_: GenericRecord) => null }
      else {
        val pos = wf.pos()
        val conv = AvroToRow.converter(f.dataType)
        (r: GenericRecord) => conv(r.get(pos))
      }
    }

  def convert(r: GenericRecord): InternalRow = {
    val vals = new Array[Any](getters.length)
    var i = 0
    while (i < vals.length) { vals(i) = getters(i)(r); i += 1 }
    InternalRow.fromSeq(scala.collection.immutable.ArraySeq.unsafeWrapArray(vals))
  }
}

private[sources] object AvroToRow {
  def converter(dt: DataType): Any => Any = dt match {
    case StringType => v => if (v == null) null else UTF8String.fromString(v.toString)
    case BinaryType => v => if (v == null) null else {
      val bb = v.asInstanceOf[java.nio.ByteBuffer]
      val out = new Array[Byte](bb.remaining()); bb.duplicate().get(out); out
    }
    case ArrayType(et, _) =>
      val elem = converter(et)
      v => if (v == null) null else {
        val arr = v.asInstanceOf[java.util.Collection[Any]].asScala.toArray
        new GenericArrayData(arr.map(elem))
      }
    // boolean/int/long/float/double, date-int and timestamp-micros-long:
    // avro hands back the boxed primitive InternalRow wants
    case _ => identity[Any]
  }
}

/** InternalRow → GenericRecord (full write schema, positional). */
private[sources] class RowToAvro(schema: StructType, avro: ASchema) {
  private val setters: Array[(InternalRow, Int) => Any] =
    schema.fields.map(f => RowToAvro.accessor(f.dataType))

  def convert(row: InternalRow): GenericRecord = {
    val rec = new GenericData.Record(avro)
    var i = 0
    while (i < setters.length) {
      rec.put(i, if (row.isNullAt(i)) null else setters(i)(row, i))
      i += 1
    }
    rec
  }
}

private[sources] object RowToAvro {
  def accessor(dt: DataType): (InternalRow, Int) => Any = dt match {
    case BooleanType => (r, i) => java.lang.Boolean.valueOf(r.getBoolean(i))
    case IntegerType | DateType => (r, i) => java.lang.Integer.valueOf(r.getInt(i))
    case LongType | TimestampType | TimestampNTZType => (r, i) => java.lang.Long.valueOf(r.getLong(i))
    case FloatType => (r, i) => java.lang.Float.valueOf(r.getFloat(i))
    case DoubleType => (r, i) => java.lang.Double.valueOf(r.getDouble(i))
    case StringType => (r, i) => r.getUTF8String(i).toString
    case BinaryType => (r, i) => java.nio.ByteBuffer.wrap(r.getBinary(i))
    case ArrayType(et, _) =>
      val elem = elemAccessor(et)
      (r, i) => {
        val a = r.getArray(i)
        val out = new java.util.ArrayList[Any](a.numElements())
        var j = 0
        while (j < a.numElements()) {
          out.add(if (a.isNullAt(j)) null else elem(a, j)); j += 1
        }
        out
      }
    case other => throw new IllegalArgumentException(s"gavro: unsupported spark type $other")
  }

  private def elemAccessor(dt: DataType)
      : (org.apache.spark.sql.catalyst.util.ArrayData, Int) => Any = dt match {
    case BooleanType => (a, j) => java.lang.Boolean.valueOf(a.getBoolean(j))
    case IntegerType | DateType => (a, j) => java.lang.Integer.valueOf(a.getInt(j))
    case LongType | TimestampType | TimestampNTZType => (a, j) => java.lang.Long.valueOf(a.getLong(j))
    case FloatType => (a, j) => java.lang.Float.valueOf(a.getFloat(j))
    case DoubleType => (a, j) => java.lang.Double.valueOf(a.getDouble(j))
    case StringType => (a, j) => a.getUTF8String(j).toString
    case BinaryType => (a, j) => java.nio.ByteBuffer.wrap(a.getBinary(j))
    case other => throw new IllegalArgumentException(s"gavro: unsupported array element $other")
  }
}
