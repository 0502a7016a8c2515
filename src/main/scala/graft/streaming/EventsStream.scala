package graft.streaming

import scala.collection.immutable.ListMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Structured Streaming over the events table: the same tumbling-window
  * aggregation as the batch `q19`, executed through the streaming engine
  * (file source → watermark → windowed agg → memory sink), drained
  * synchronously so the result is a deterministic DataFrame the oracle
  * can check.
  *
  * At scale this is the production shape: `readStream` over an arriving
  * directory, event-time watermark bounding state, windowed aggregation
  * state in the state store partitioned by (window, key).
  */
object EventsStream {

  private val counter = new AtomicLong(0)

  /** The harness's file-source stream over the events table with `ts`
    * normalized to TimestampType by the same schema sniff as the batch
    * loader (graft.Tables.normalizeEventsTs — one shared helper so batch
    * and streaming can't drift when the testdata layout changes).
    * The streaming file source wants a directory: stream the sf dir
    * with a glob filter selecting just the events file. Transform logic
    * itself lives in [[StreamOps]] — the sink-agnostic API a library
    * user wires to their own sources/sinks. */
  private def eventsSource(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val rawSchema = spark.read.parquet(s"$dir/events.parquet").schema
    graft.Tables.normalizeEventsTs(
      spark.readStream.schema(rawSchema)
        .option("pathGlobFilter", "events.parquet").parquet(dir))
  }

  /** Drain a streaming DF through a memory sink synchronously and
    * return the settled table (the oracle-gate scaffolding).
    *
    * `adaptiveBytes >= 0` turns on SCALE-ADAPTIVE STATE PARTITIONING
    * (r18, guide §2: derive partitioning from input size, never from a
    * constant tuned for one deployment): stateful streaming operators
    * pin `spark.sql.shuffle.partitions` at query start as their
    * state-store partition count — AQE never coalesces a stateful
    * stage — so the session default (= core count, the cluster-shaped
    * value) costs one task + one state-store commit per partition per
    * micro-batch even when the whole input is a few MB (a stream-stream
    * join pays FOUR stores per partition). partitions =
    * clamp(ceil(bytes / target), 1, defaultParallelism): saturates to
    * every core at scale, collapses to a handful of stores on small
    * inputs. target = spark.graft.stream.targetPartitionBytes
    * (default 32 MiB). Emitted rows are partition-count-invariant
    * (watermarks are global, per-key state never straddles partitions,
    * and every emission here is a per-key aggregate or key projection)
    * — the oracle gates pin that. */
  private def drain(df: DataFrame, mode: String,
      adaptiveBytes: Long): DataFrame = {
    val spark = df.sparkSession
    val name = s"st_out_${counter.incrementAndGet()}"
    def run(): Unit = {
      val q = df.writeStream.outputMode(mode).format("memory")
        .queryName(name).start()
      try q.processAllAvailable() finally q.stop()
    }
    if (adaptiveBytes < 0L) run()
    else withAdaptivePartitions(spark, adaptiveBytes)(run())
    spark.table(name)
  }

  /** Run `f` with `spark.sql.shuffle.partitions` derived from `bytes`
    * (restored afterwards) — the adaptive scope `drain` uses, exposed
    * so custom drains (st22's foreachBatch change-feed classifier) get
    * the same scale-adaptive partitioning. Scope mechanics (set/restore
    * serialization — r18 verdict item 2) live in [[graft.ops.Adaptive]];
    * `bytes <= 0` means the filesystem reported no size, and the scope
    * keeps the session default rather than collapsing to 1 partition
    * (the r18 advice item). */
  private def withAdaptivePartitions[A](spark: SparkSession,
      bytes: Long)(f: => A): A = {
    val target = spark.conf
      .getOption("spark.graft.stream.targetPartitionBytes")
      .flatMap(_.toLongOption).getOrElse(32L << 20)
    val n = if (bytes <= 0L) 0
      else adaptiveStatePartitions(bytes,
        spark.sparkContext.defaultParallelism, target)
    graft.ops.Adaptive.withShufflePartitions(spark, n)(f)
  }

  /** clamp(ceil(bytes / targetBytes), 1, parallelism) — the state
    * partition count for a stream whose input is `bytes` on disk. */
  private[streaming] def adaptiveStatePartitions(bytes: Long,
      parallelism: Int, targetBytes: Long): Int =
    graft.ops.Adaptive.partitionsFor(bytes, parallelism, targetBytes)

  /** Total on-disk bytes under `paths` (files or directories,
    * recursive) — the drain's scale signal, sized through the Hadoop
    * `FileSystem` seam so it works on HDFS/object stores, not just
    * `java.io.File` (the r18 verdict's top item). */
  private[streaming] def inputBytes(paths: String*): Long =
    paths.map(graft.sources.GraftFs.sizeOf).sum

  private def eventsBytes(dir: String): Long =
    inputBytes(s"$dir/events.parquet")

  def st01(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    drain(StreamOps.hourlyCounts(eventsSource(spark, dir)), "complete",
      eventsBytes(dir))
      .select(date_format($"window.start", "yyyy-MM-dd HH:00:00").as("hour_bucket"),
        $"event_type", $"n_events")
      .orderBy($"hour_bucket", $"event_type")
  }

  private val st01Sql =
    """SELECT strftime(ts, '%Y-%m-%d %H:00:00') AS hour_bucket, event_type,
      |  COUNT(*) AS n_events
      |FROM events
      |GROUP BY hour_bucket, event_type
      |ORDER BY hour_bucket, event_type""".stripMargin

  /** Stateful streaming sessionization: 30-minute-gap session windows
    * per user through the streaming engine's session-window state store.
    * Append mode + watermark means only watermark-closed sessions emit —
    * the correct unbounded-stream semantics. The emitted set is itself
    * deterministic (final watermark = max(ts) − 30 min delay; a session
    * emits iff last_event + 30 min gap ≤ watermark), so it IS
    * oracle-checked: batch sessionization filtered by that predicate. */
  def st02(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    drain(StreamOps.sessionCounts(eventsSource(spark, dir)), "append",
      eventsBytes(dir))
      .select(date_format($"session_window.start", "yyyy-MM-dd HH:mm:ss").as("session_start"),
        $"user_id", $"n_events")
      .orderBy($"user_id", $"session_start")
  }

  /** Input row for the custom-state op (ts as epoch micros — keeps the
    * encoder simple and precision explicit). */
  case class Ev(user_id: Long, event_type: String, value: Double, ts_us: Long)
  /** Explicit per-user state carried across micro-batches. */
  case class UserState(n: Long, minTs: Long, maxTs: Long,
      minVal: Double, maxVal: Double)
  case class UserAgg(user_id: Long, n_events: Long, first_ts: String,
      last_ts: String, min_value: Double, max_value: Double)

  /** Custom stateful streaming via flatMapGroupsWithState: a per-user
    * profile maintained in explicit state, emitted in Update mode. With
    * the testdata's single input file this runs as one micro-batch, so
    * the result is deterministic and oracle-checked; on an unbounded
    * stream the same code emits refreshed profiles per batch.
    *
    * Scale: state is O(users) × a few fixed fields, partitioned by key in
    * the state store — the shape that survives any event volume. */
  def st03(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val evs = eventsSource(spark, dir)
      .select($"user_id", $"event_type", $"value",
        unix_micros($"ts").as("ts_us"))
      .as[Ev]
    drain(StreamOps.userProfiles(evs).toDF(), "update", eventsBytes(dir))
      .orderBy("user_id")
  }

  private val st03Sql =
    """SELECT user_id, COUNT(*) AS n_events,
      |  strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS first_ts,
      |  strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS last_ts,
      |  MIN(value) AS min_value,
      |  MAX(value) AS max_value
      |FROM events
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** Sliding-window streaming aggregation: 1-hour windows sliding every
    * 30 minutes, so each event lands in two overlapping windows. Complete
    * mode over the memory sink (bounded: |windows|·|event_types| rows).
    * At scale the state store holds one row per (window, type) — the
    * overlap factor (window/slide) multiplies state, not input. */
  def st04(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    drain(StreamOps.slidingCounts(eventsSource(spark, dir)), "complete",
      eventsBytes(dir))
      .select(date_format($"window.start", "yyyy-MM-dd HH:mm:ss").as("window_start"),
        $"event_type", $"n_events")
      .orderBy($"window_start", $"event_type")
  }

  // Each event belongs to windows starting at bucket30(ts) and
  // bucket30(ts) − 30 min (window 1 h, slide 30 min) — the UNION arms
  // reconstruct Spark's epoch-aligned window assignment exactly.
  private val st04Sql =
    """WITH b AS (
      |  SELECT event_type, time_bucket(INTERVAL '30 minutes', ts) AS b0 FROM events),
      |arms AS (
      |  SELECT event_type, b0 AS wstart FROM b
      |  UNION ALL
      |  SELECT event_type, b0 - INTERVAL '30 minutes' AS wstart FROM b)
      |SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS window_start,
      |  event_type, COUNT(*) AS n_events
      |FROM arms
      |GROUP BY window_start, event_type
      |ORDER BY window_start, event_type""".stripMargin

  /** Stream-static join: the event stream enriched against a static
    * (batch) per-user profile via broadcast hash join — no state store
    * involvement, the static side is re-broadcast per micro-batch. The
    * production shape for dimension enrichment at any stream volume. */
  def st05(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val profile = graft.Tables.load(spark, dir, "events")
      .groupBy($"user_id").agg(count(lit(1)).as("user_total"))
    val stream = StreamOps.enrichedTypeCounts(
      eventsSource(spark, dir).select($"event_id", $"user_id", $"event_type"),
      profile)
    drain(stream, "complete", eventsBytes(dir))
      .select($"event_type", $"n_events", $"sum_user_total")
      .orderBy($"event_type")
  }

  private val st05Sql =
    """WITH ut AS (SELECT user_id, COUNT(*) AS user_total FROM events GROUP BY 1)
      |SELECT event_type, COUNT(*) AS n_events,
      |  CAST(SUM(user_total) AS BIGINT) AS sum_user_total
      |FROM events JOIN ut USING (user_id)
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** Streaming ingestion THROUGH the codec: events are first written as
    * `.bro`-compressed JSON-lines (our encoder), then the streaming file
    * source reads that directory — decompression is transparent inside
    * the stream reader, exactly the reference's transparent-codec
    * contract, now under Structured Streaming. At scale this is the
    * `.bro` landing-zone pattern: text files arrive compressed, the
    * stream inhales them with per-file (non-splittable) parallelism. */
  def st06(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types._
    graft.codec.BroWriter.register(spark)
    val tmp = graft.Scratch.dir("stream_events_json")
    graft.Tables.load(spark, dir, "events")
      .select($"event_id", $"user_id", $"event_type", $"value")
      .repartition(4) // several .bro files → several stream input files
      .write.option("compression", graft.codec.BroWriter.CodecClass).json(tmp)
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType)))
    // (no countDistinct here: distinct aggregation is unsupported on
    // streaming DataFrames — use approx_count_distinct in production)
    val stream = StreamOps.typeStats(spark.readStream.schema(schema).json(tmp))
    drain(stream, "complete", inputBytes(tmp))
      .select($"event_type", $"n_events", $"user_id_sum", $"min_value", $"max_value")
      .orderBy($"event_type")
  }

  private val st06Sql =
    """SELECT event_type, COUNT(*) AS n_events,
      |  CAST(SUM(user_id) AS BIGINT) AS user_id_sum,
      |  MIN(value) AS min_value,
      |  MAX(value) AS max_value
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** st07: stream-STREAM inner join — purchases joined to the same
    * user's clicks from the preceding hour, both sides event-time
    * streams. This is the missing piece of the streaming-join surface
    * (st05 covers stream-static): watermarks on both inputs plus the
    * time-range join condition bound the state store (a click can be
    * dropped once the purchase watermark passes its ts + 1 hour — the
    * standard Structured Streaming state-cleanup contract). Inner-join
    * append emits exactly the matched pairs, so the drained result is
    * deterministic and oracle-checked against the equivalent batch join. */
  def st07(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val joined = StreamOps.purchaseClickJoin(
      eventsSource(spark, dir).filter($"event_type" === "purchase"),
      eventsSource(spark, dir).filter($"event_type" === "click"))
    drain(joined, "append", 2 * eventsBytes(dir))
      .select($"p_id".as("purchase_id"), $"c_id".as("click_id"))
      .orderBy($"purchase_id", $"click_id")
  }

  /** st13: stream-stream LEFT OUTER interval join — the hardest join
    * emission semantics in Structured Streaming: matched pairs stream
    * out like st07's inner join, and an unmatched purchase emits its
    * null-click row only when the watermark PROVES no future click can
    * match. The proof horizon is the oracle's subtlety: the global
    * watermark is min over both filtered inputs of (side max event time
    * − 1 h), so unmatched purchases with `p_ts <` that horizon emit and
    * later ones stay in state forever (the cutoff was measured exact at
    * both SFs: 195/195 and 1944/1944 null rows). The batch oracle
    * replicates matched pairs ∪ horizon-cut unmatched rows. */
  def st13(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val joined = StreamOps.purchaseClickLeftJoin(
      eventsSource(spark, dir).filter($"event_type" === "purchase"),
      eventsSource(spark, dir).filter($"event_type" === "click"))
    drain(joined, "append", 2 * eventsBytes(dir))
      .select($"p_id".as("purchase_id"), $"c_id".as("click_id"))
      .orderBy($"purchase_id", $"click_id") // Spark asc = NULLS FIRST
  }

  private val st13Sql =
    """WITH p AS (
      |  SELECT event_id AS purchase_id, user_id, ts FROM events
      |  WHERE event_type = 'purchase'),
      |c AS (
      |  SELECT event_id AS click_id, user_id, ts FROM events
      |  WHERE event_type = 'click'),
      |wmk AS (
      |  SELECT least((SELECT MAX(ts) FROM p), (SELECT MAX(ts) FROM c))
      |    - INTERVAL 1 HOUR AS w),
      |matched AS (
      |  SELECT p.purchase_id, c.click_id
      |  FROM p JOIN c ON p.user_id = c.user_id
      |    AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts < p.ts),
      |unmatched AS (
      |  SELECT p.purchase_id, CAST(NULL AS BIGINT) AS click_id
      |  FROM p
      |  ANTI JOIN (SELECT DISTINCT purchase_id FROM matched) m
      |    USING (purchase_id)
      |  WHERE p.ts < (SELECT w FROM wmk))
      |SELECT purchase_id, click_id FROM matched
      |UNION ALL
      |SELECT purchase_id, click_id FROM unmatched
      |ORDER BY purchase_id, click_id NULLS FIRST""".stripMargin

  /** st20: stream-stream FULL OUTER interval join — completes the
    * streaming join family (st07 inner, st13 left outer): BOTH sides
    * emit null-completed rows when the watermark proves no future
    * partner can match. The two proof horizons are ASYMMETRIC, which is
    * the semantics this entry exists to pin: a purchase's click window
    * is [p_ts − 1h, p_ts) — strictly BACKWARD — so an unmatched
    * purchase emits once the global watermark (min over both inputs of
    * side-max − 1h) passes p_ts; a click can match purchases up to 1 h
    * LATER, so an unmatched click waits a full extra interval width
    * (c_ts + 1h < watermark). The oracle replays matched pairs plus
    * both horizon-cut unmatched sides. */
  def st20(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val joined = StreamOps.purchaseClickFullJoin(
      eventsSource(spark, dir).filter($"event_type" === "purchase"),
      eventsSource(spark, dir).filter($"event_type" === "click"))
    drain(joined, "append", 2 * eventsBytes(dir))
      .select($"p_id".as("purchase_id"), $"c_id".as("click_id"))
      .orderBy($"purchase_id", $"click_id")
  }

  private val st20Sql =
    """WITH p AS (
      |  SELECT event_id AS purchase_id, user_id, ts FROM events
      |  WHERE event_type = 'purchase'),
      |c AS (
      |  SELECT event_id AS click_id, user_id, ts FROM events
      |  WHERE event_type = 'click'),
      |wmk AS (
      |  SELECT least((SELECT MAX(ts) FROM p), (SELECT MAX(ts) FROM c))
      |    - INTERVAL 1 HOUR AS w),
      |matched AS (
      |  SELECT p.purchase_id, c.click_id
      |  FROM p JOIN c ON p.user_id = c.user_id
      |    AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts < p.ts),
      |un_p AS (
      |  SELECT p.purchase_id, CAST(NULL AS BIGINT) AS click_id
      |  FROM p
      |  ANTI JOIN (SELECT DISTINCT purchase_id FROM matched) m
      |    USING (purchase_id)
      |  WHERE p.ts < (SELECT w FROM wmk)),
      |un_c AS (
      |  SELECT CAST(NULL AS BIGINT) AS purchase_id, c.click_id
      |  FROM c
      |  ANTI JOIN (SELECT DISTINCT click_id FROM matched) m
      |    USING (click_id)
      |  WHERE c.ts + INTERVAL 1 HOUR < (SELECT w FROM wmk))
      |SELECT purchase_id, click_id FROM matched
      |UNION ALL SELECT purchase_id, click_id FROM un_p
      |UNION ALL SELECT purchase_id, click_id FROM un_c
      |ORDER BY purchase_id NULLS FIRST, click_id NULLS FIRST""".stripMargin

  /** Input/output rows for the transformWithState op (st14). */
  case class TypedEv(user_id: Long, event_type: String)
  case class ModalRow(user_id: Long, n_events: Long, n_types: Long,
      top_type: String, top_type_n: Long)

  private val ProviderConf = "spark.sql.streaming.stateStore.providerClass"
  private val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** st14's drained (pre-settle) frame — the raw Update-mode emission
    * stream, one refreshed profile per (user, batch-they-appear-in).
    * Shared with the spec, which asserts the run was genuinely
    * multi-batch (some user emits more than once). */
  private[graft] def st14Raw(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val src = graft.Scratch.dir("st14_src")
    graft.Tables.load(spark, dir, "events")
      .select($"user_id", $"event_type").repartition(4)
      .write.parquet(src)
    val schema = spark.read.parquet(src).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
      .as[TypedEv]
    // transformWithState requires the RocksDB state store provider;
    // scope the conf to this query and restore afterwards.
    val prev = spark.conf.getOption(ProviderConf)
    spark.conf.set(ProviderConf, RocksDbProvider)
    try drain(StreamOps.modalTypeProfiles(stream).toDF(), "update",
      inputBytes(src))
    finally prev match {
      case Some(v) => spark.conf.set(ProviderConf, v)
      case None => spark.conf.unset(ProviderConf)
    }
  }

  /** st14: per-user modal event type via `transformWithState` — the
    * Spark 4 arbitrary-state API (StatefulProcessor, MapState +
    * ValueState, RocksDB state store), the successor surface to st03's
    * flatMapGroupsWithState. The source is split across 4 files
    * streamed one per trigger, so the map state demonstrably
    * accumulates across micro-batches; each batch re-emits a touched
    * user's profile with a strictly larger n_events, so the settled
    * state is the per-user row with max n_events — deterministic, and
    * oracle-checked against the batch modal-type aggregation. */
  def st14(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    st14Raw(spark, dir)
      .withColumn("rn", row_number().over(
        Window.partitionBy($"user_id").orderBy($"n_events".desc)))
      .filter($"rn" === 1).drop("rn")
      .orderBy($"user_id")
  }

  private val st14Sql =
    """WITH c AS (
      |  SELECT user_id, event_type, COUNT(*) AS n FROM events GROUP BY 1, 2),
      |tot AS (
      |  SELECT user_id, CAST(SUM(n) AS BIGINT) AS n_events,
      |    COUNT(*) AS n_types FROM c GROUP BY 1),
      |top AS (
      |  SELECT user_id, event_type AS top_type, n AS top_type_n,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY n DESC, event_type) AS rn
      |  FROM c)
      |SELECT tot.user_id AS user_id, n_events, n_types, top_type, top_type_n
      |FROM tot JOIN top ON tot.user_id = top.user_id AND rn = 1
      |ORDER BY tot.user_id""".stripMargin

  /** Input/output rows for the event-time-timer op (st15). */
  case class TimedEv(user_id: Long, ts_ms: Long)
  case class EpisodeRow(user_id: Long, n_events: Long, last_ms: Long)

  /** st15: EVENT-TIME TIMERS via transformWithState — the
    * finalize-on-inactivity pattern: per-user profiles emit ONLY when a
    * watermark-fired timer proves the user has been quiet for 30 min
    * (handleExpiredTimer; nothing emits on input). With the single-file
    * source the run is one data batch (profiles built, timers
    * registered at last_ts + 30 min) plus the engine's no-data batch
    * after the watermark advances to max ts − 1 h, which fires exactly
    * the timers at or below it — so the emitted set is deterministic:
    * users whose last event is ≥ 90 min before the corpus max. The
    * batch oracle replicates that cutoff. */
  def st15(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val evs = eventsSource(spark, dir)
      .withWatermark("ts", "1 hour")
      .select($"user_id", unix_millis($"ts").as("ts_ms"))
      .as[TimedEv]
    val prev = spark.conf.getOption(ProviderConf)
    spark.conf.set(ProviderConf, RocksDbProvider)
    val drained =
      try drain(StreamOps.inactivityProfiles(evs).toDF(), "append",
        eventsBytes(dir))
      finally prev match {
        case Some(v) => spark.conf.set(ProviderConf, v)
        case None => spark.conf.unset(ProviderConf)
      }
    drained
      .select($"user_id", $"n_events",
        date_format(timestamp_millis($"last_ms"), "yyyy-MM-dd HH:mm:ss")
          .as("last_ts"))
      .orderBy($"user_id")
  }

  private val st15Sql =
    """WITH m AS (SELECT MAX(ts) AS mx FROM events),
      |agg AS (
      |  SELECT user_id, COUNT(*) AS n_events, MAX(ts) AS last_ts
      |  FROM events GROUP BY user_id)
      |SELECT user_id, n_events,
      |  strftime(last_ts, '%Y-%m-%d %H:%M:%S') AS last_ts
      |FROM agg, m
      |WHERE last_ts + INTERVAL 30 MINUTE <= mx - INTERVAL 1 HOUR
      |ORDER BY user_id""".stripMargin

  /** st16: transformWithState with INITIAL STATE — the production
    * handover from batch to streaming: the state store is warm-started
    * (`handleInitialState`) from a batch-computed snapshot (per-user
    * type-count maps over the even-event_id half of the corpus), then
    * the odd half arrives as the stream. A streamed user's emitted
    * profile therefore reflects the FULL corpus even though the stream
    * never saw the even half — which is exactly what the oracle
    * checks: full-corpus modal stats, restricted to users with at
    * least one streamed event (users living only in the snapshot never
    * emit in Update mode). */
  def st16(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.Tables.load(spark, dir, "events")
    val init = ev.filter($"event_id" % 2 === 0)
      .groupBy($"user_id", $"event_type").agg(count(lit(1)).as("n"))
      .groupBy($"user_id")
      .agg(map_from_entries(collect_list(struct($"event_type", $"n")))
        .as("types"))
      .as[(Long, Map[String, Long])]
      .groupByKey(_._1).mapValues(_._2)
    val src = graft.Scratch.dir("st16_src")
    ev.filter($"event_id" % 2 === 1).select($"user_id", $"event_type")
      .coalesce(1).write.parquet(src)
    val schema = spark.read.parquet(src).schema
    val stream = spark.readStream.schema(schema).parquet(src).as[TypedEv]
    val prev = spark.conf.getOption(ProviderConf)
    spark.conf.set(ProviderConf, RocksDbProvider)
    val drained =
      try {
        import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
        drain(stream.groupByKey(_.user_id)
          .transformWithState(new ModalTypeWarmStartProcessor,
            TimeMode.None(), OutputMode.Update(), init).toDF(), "update",
          inputBytes(src))
      } finally prev match {
        case Some(v) => spark.conf.set(ProviderConf, v)
        case None => spark.conf.unset(ProviderConf)
      }
    drained.orderBy($"user_id")
  }

  private val st16Sql =
    """WITH c AS (
      |  SELECT user_id, event_type, COUNT(*) AS n FROM events GROUP BY 1, 2),
      |tot AS (
      |  SELECT user_id, CAST(SUM(n) AS BIGINT) AS n_events,
      |    COUNT(*) AS n_types FROM c GROUP BY 1),
      |top AS (
      |  SELECT user_id, event_type AS top_type, n AS top_type_n,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY n DESC, event_type) AS rn
      |  FROM c),
      |streamed AS (
      |  SELECT DISTINCT user_id FROM events WHERE event_id % 2 = 1)
      |SELECT tot.user_id AS user_id, n_events, n_types, top_type, top_type_n
      |FROM tot JOIN top ON tot.user_id = top.user_id AND rn = 1
      |JOIN streamed s ON tot.user_id = s.user_id
      |ORDER BY tot.user_id""".stripMargin

  private val st07Sql =
    """SELECT p.event_id AS purchase_id, c.event_id AS click_id
      |FROM events p
      |JOIN events c ON p.user_id = c.user_id
      |  AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts < p.ts
      |WHERE p.event_type = 'purchase' AND c.event_type = 'click'
      |ORDER BY purchase_id, click_id""".stripMargin

  /** st08: the append-mode production path of st01 — tumbling hourly
    * counts where a window emits only once the watermark (max ts − 1 h)
    * closes it. This is the sink shape an unbounded deployment uses
    * (each window row written exactly once, state evicted on close;
    * `StreamEvictionSpec` asserts the bounded-state property directly).
    * The emitted set is deterministic — window.end ≤ final watermark —
    * so it is oracle-checked like st02. */
  def st08(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    drain(StreamOps.hourlyCounts(eventsSource(spark, dir)), "append",
      eventsBytes(dir))
      .select(date_format($"window.start", "yyyy-MM-dd HH:00:00").as("hour_bucket"),
        $"event_type", $"n_events")
      .orderBy($"hour_bucket", $"event_type")
  }

  private val st08Sql =
    """WITH m AS (SELECT MAX(ts) AS mx FROM events),
      |b AS (
      |  SELECT time_bucket(INTERVAL '1 hour', ts) AS w, event_type
      |  FROM events, m
      |  WHERE time_bucket(INTERVAL '1 hour', ts) + INTERVAL 1 HOUR
      |          <= mx - INTERVAL 1 HOUR)
      |SELECT strftime(w, '%Y-%m-%d %H:00:00') AS hour_bucket, event_type,
      |  COUNT(*) AS n_events
      |FROM b
      |GROUP BY hour_bucket, event_type
      |ORDER BY hour_bucket, event_type""".stripMargin

  /** st09: append-mode st04 — sliding 1 h / 30 min counts emitted on
    * watermark close (window.end ≤ max ts − 1 h). Same epoch-aligned
    * two-arm window reconstruction as st04's oracle, filtered by the
    * close predicate. */
  def st09(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    drain(StreamOps.slidingCounts(eventsSource(spark, dir)), "append",
      eventsBytes(dir))
      .select(date_format($"window.start", "yyyy-MM-dd HH:mm:ss").as("window_start"),
        $"event_type", $"n_events")
      .orderBy($"window_start", $"event_type")
  }

  private val st09Sql =
    """WITH m AS (SELECT MAX(ts) AS mx FROM events),
      |b AS (
      |  SELECT event_type, time_bucket(INTERVAL '30 minutes', ts) AS b0 FROM events),
      |arms AS (
      |  SELECT event_type, b0 AS wstart FROM b
      |  UNION ALL
      |  SELECT event_type, b0 - INTERVAL '30 minutes' AS wstart FROM b)
      |SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS window_start,
      |  event_type, COUNT(*) AS n_events
      |FROM arms, m
      |WHERE wstart + INTERVAL 1 HOUR <= mx - INTERVAL 1 HOUR
      |GROUP BY window_start, event_type
      |ORDER BY window_start, event_type""".stripMargin

  /** st10: streaming exact dedup (StreamOps.dedupKeys) — every distinct
    * (hour, user, type) key emits exactly once, on first arrival, in
    * append mode. Unlike the windowed aggs there is no close predicate:
    * first-occurrence rows are final the moment they emit, so the
    * settled output equals batch DISTINCT exactly and the oracle needs
    * no watermark filter. */
  def st10(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    drain(StreamOps.dedupKeys(eventsSource(spark, dir)), "append",
      eventsBytes(dir))
      .select(date_format($"ts_hour", "yyyy-MM-dd HH:00:00").as("hour_bucket"),
        $"user_id", $"event_type")
      .orderBy($"hour_bucket", $"user_id", $"event_type")
  }

  private val st10Sql =
    """SELECT DISTINCT
      |  strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:00:00')
      |    AS hour_bucket,
      |  user_id, event_type
      |FROM events
      |ORDER BY hour_bucket, user_id, event_type""".stripMargin

  /** st11: incremental UPSERT sink via foreachBatch — the production
    * "streaming materialized table" path: each micro-batch is partially
    * aggregated per key and merged (full-outer, associative combine —
    * [[StreamOps.upsertMerge]]) into a standing versioned table. The
    * source is the events table split across 4 files streamed with
    * maxFilesPerTrigger=1, so the merge demonstrably runs across
    * MULTIPLE micro-batches (spec-asserted ≥ 2), and because the
    * combine is associative+commutative the settled table equals the
    * one-shot batch aggregate exactly — which is what the oracle
    * checks. Each version is materialized to parquet before the next
    * merge: finite plans (no across-batch lineage growth), and the
    * version swap is the local stand-in for a Delta/Iceberg MERGE
    * commit on a real cluster. */
  private[graft] def st11Run(spark: SparkSession, dir: String): (DataFrame, Long) = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val src = graft.Scratch.dir("st11_src")
    graft.Tables.load(spark, dir, "events").repartition(4)
      .write.parquet(src)
    val schema = spark.read.parquet(src).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    val stateRef = new java.util.concurrent.atomic.AtomicReference[DataFrame](null)
    val nBatches = new AtomicLong(0)
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        nBatches.incrementAndGet()
        val delta = StreamOps.batchUserAgg(batch)
        val merged = Option(stateRef.get())
          .map(StreamOps.upsertMerge(_, delta)).getOrElse(delta)
        val version = graft.Scratch.dir("st11_state")
        merged.write.parquet(version)
        stateRef.set(spark.read.parquet(version))
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    val out = stateRef.get()
      .select($"user_id", $"n_events",
        $"sum_value".cast("double").as("sum_value"),
        date_format($"first_ts", "yyyy-MM-dd HH:mm:ss").as("first_ts"),
        date_format($"last_ts", "yyyy-MM-dd HH:mm:ss").as("last_ts"))
      .orderBy($"user_id")
    (out, nBatches.get())
  }

  def st11(spark: SparkSession, dir: String): DataFrame =
    st11Run(spark, dir)._1

  private val st11Sql =
    """SELECT user_id, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
      |  strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS first_ts,
      |  strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS last_ts
      |FROM events
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** st12: streaming `.bro` SINK — the write side of the codec under
    * Structured Streaming (st06 is the read side): each micro-batch
    * lands as `.bro`-compressed JSON-lines via foreachBatch, the
    * archival/landing-zone pattern for compressed streaming output. The
    * events source streams with maxFilesPerTrigger semantics of the
    * file source (whole file, exactly-once per batch), so the compressed
    * directory holds every event exactly once; the read-back — batch
    * JSON scan with transparent `.bro` decode — aggregates to the same
    * per-type stats the oracle computes straight off the table. At
    * scale each executor compresses its own partition's files; the
    * non-splittable-file sizing rule (BroWriter) applies per batch. */
  def st12(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types._
    graft.codec.BroWriter.register(spark)
    val out = graft.Scratch.dir("st12_bro_sink")
    val q = eventsSource(spark, dir)
      .select($"event_id", $"user_id", $"event_type", $"value")
      .writeStream.outputMode("append")
      .option("checkpointLocation", graft.Scratch.dir("st12_ckpt"))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("append")
          .option("compression", graft.codec.BroWriter.CodecClass)
          .json(out)
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType)))
    spark.read.schema(schema).json(out)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        countDistinct($"user_id").as("n_users"),
        min($"value").as("min_value"),
        max($"value").as("max_value"))
      .orderBy($"event_type")
  }

  private val st12Sql =
    """SELECT event_type, COUNT(*) AS n_events,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
      |  MIN(value) AS min_value,
      |  MAX(value) AS max_value
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** st19: STREAMING READ THROUGH THE FIRST-PARTY AVRO CONNECTOR — the
    * `gavro` DSv2 source's MICRO_BATCH_READ capability end-to-end: the
    * events table lands in an Avro directory in three commits (the
    * landing-zone shape the connector's staging sink produces), a
    * `readStream.format("gavro")` consumes it through
    * `AvroMicroBatchStream` (offset = high-water mark over the
    * (mtime, path)-ordered listing; admission control honors
    * maxFilesPerTrigger; each batch's files sync-split like the batch
    * scan), and a complete-mode aggregation settles to the batch truth.
    * `AvroStreamSpec` drives the multi-batch and exactly-once claims;
    * this registry entry pins the settled result against the oracle. */
  def st19(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.Tables.load(spark, dir, "events")
      .select($"event_id", $"user_id", $"event_type", $"ts")
    val lz = graft.Scratch.dir("st19_avro")
    (0 to 2).foreach { i =>
      ev.filter($"event_id" % 3 === i)
        .write.format("graft.sources.AvroDataSource").mode("append").save(lz)
    }
    val stream = spark.readStream.format("graft.sources.AvroDataSource").load(lz)
    drain(stream.groupBy($"event_type")
        .agg(count(lit(1)).as("n_events"),
          sum($"user_id").as("sum_uid")), "complete", inputBytes(lz))
      .orderBy($"event_type")
  }

  private val st19Sql =
    """SELECT event_type, COUNT(*) AS n_events,
      |  CAST(SUM(user_id) AS BIGINT) AS sum_uid
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** st18: DYNAMIC-GAP session windows — `session_window` with a
    * per-event gap EXPRESSION (errors extend their session 10 minutes,
    * everything else 30): session horizons depend on event content, the
    * state-hygiene dial fixed-gap sessions lack. Emission semantics as
    * st02 (append mode; a session emits once the watermark passes its
    * end, where the end is the MAX member end — each event spans
    * [ts, ts + its own gap) and overlapping spans merge). The oracle
    * rebuilds the merge with a running-max-end island detection (new
    * session iff ts ≥ max of all previous member ends) and applies the
    * same close predicate (end ≤ max ts − 30 min). */
  def st18(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    drain(StreamOps.dynamicSessionCounts(eventsSource(spark, dir)), "append",
      eventsBytes(dir))
      .select(
        date_format($"session_window.start", "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format($"session_window.end", "yyyy-MM-dd HH:mm:ss").as("session_end"),
        $"user_id", $"n_events")
      .orderBy($"user_id", $"session_start")
  }

  private val st18Sql =
    """WITH spans AS (
      |  SELECT user_id, ts, event_id,
      |    ts + CASE WHEN event_type = 'error' THEN INTERVAL 10 MINUTE
      |              ELSE INTERVAL 30 MINUTE END AS span_end
      |  FROM events),
      |flagged AS (
      |  SELECT user_id, ts, span_end,
      |    CASE WHEN ts >= MAX(span_end) OVER (PARTITION BY user_id
      |        ORDER BY ts, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |      OR MAX(span_end) OVER (PARTITION BY user_id
      |        ORDER BY ts, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
      |    THEN 1 ELSE 0 END AS new_s
      |  FROM spans),
      |sess AS (
      |  SELECT user_id, ts, span_end,
      |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, span_end
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM flagged),
      |agg AS (
      |  SELECT user_id, sid, MIN(ts) AS session_start,
      |    MAX(span_end) AS session_end, COUNT(*) AS n_events
      |  FROM sess GROUP BY user_id, sid),
      |m AS (SELECT MAX(ts) AS mx FROM events)
      |SELECT strftime(session_start, '%Y-%m-%d %H:%M:%S') AS session_start,
      |  strftime(session_end, '%Y-%m-%d %H:%M:%S') AS session_end,
      |  user_id, n_events
      |FROM agg, m
      |WHERE session_end <= mx - INTERVAL 30 MINUTE
      |ORDER BY user_id, session_start""".stripMargin

  /** st17: `dropDuplicatesWithinWatermark` — the BOUNDED-STATE dedup
    * variant (Spark 3.5+/4 API). st10's `dropDuplicates` holds a state
    * row per distinct key forever unless the key embeds an event-time
    * bucket; this operator instead evicts a key once the watermark
    * passes `first_ts + delay`, trading exactness for state bounded by
    * the delay window — a duplicate arriving after eviction re-emits.
    *
    * The engine's exact mechanics — established EMPIRICALLY here by
    * running candidate schedules against the operator, because three
    * plausible models disagree and only one matches: (1) the state
    * entry stores the FIRST arrival's event time + delay and duplicate
    * arrivals do NOT renew it; (2) suppression is presence-based — an
    * entry past its expiry still suppresses until cleanup removes it;
    * (3) cleanup runs at the END of each micro-batch using the
    * OPERATIVE watermark (computed from prior batches — it lags one
    * batch). An eviction is therefore only observable two batches
    * after the arrivals that caused it.
    *
    * The schedule makes every transition deterministic and
    * oracle-exact: three event-time slices (cut at Jan 11 / Jan 21,
    * delay = 1 day) streamed as three micro-batches in pinned mtime
    * order — and each batch carries one REPRESENTATIVE row per key
    * (the key's min-ts within the slice) so the stored event time is
    * deterministic regardless of intra-batch processing order (raw
    * slices would leave it to whichever duplicate a partition happens
    * to process first). Batch 1's rows are emitted in duplicate to
    * exercise in-batch dedup (two arrivals, one emission). Batch 1
    * (wm 0): every key emits once. Batch 2 (wm = mx1 − 1d): keys in
    * state are suppressed — including ones past expiry (presence
    * rule); its end-of-batch cleanup evicts exactly the non-renewed
    * keys with ts1 < mx1 − 2d. Batch 3: an evicted key re-emits
    * (n_emits = 2 via the eviction path) while a retained key stays
    * suppressed (n_emits counts only its earlier emissions). Both
    * populations exist at every SF (713 evicted / 15 retained at
    * sf0.01; 7228/118 at sf0.1). The oracle replays the three-batch
    * state machine in SQL on the batch table. */
  def st17(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.Tables.load(spark, dir, "events")
      .select($"user_id", $"event_type", $"ts")
    val src = graft.Scratch.dir("st17_src")
    // three single-file event-time slices in one source dir; explicit
    // mtimes pin the file-source processing order (earliest slice =
    // batch 1). Three batches, not two: state eviction runs at the END
    // of a batch, so an eviction driven by batch 2's watermark is only
    // observable through batch 3's arrivals.
    val cuts = Seq("2024-01-11 00:00:00", "2024-01-21 00:00:00")
      .map(s => lit(s).cast("timestamp"))
    // one representative row per key per slice (min ts) so the stored
    // state timestamp is deterministic; slice 1 doubled (copy explode)
    // to exercise in-batch dedup. r19 (guide §1.2): ONE events
    // aggregation + ONE partitioned write replace three sequential
    // per-slice scan+groupBy+write jobs — repartition(3, slice) puts a
    // whole slice in one task, so partitionBy still emits exactly one
    // file per slice, which then moves into the flat source dir with
    // the same pinned mtimes. Batch contents are byte-identical (the
    // per-slice representative sets are unchanged; in-file row order is
    // irrelevant to the dedup operator — one representative per key).
    ev.withColumn("slice",
        when($"ts" < cuts(0), 0).when($"ts" < cuts(1), 1).otherwise(2))
      .groupBy($"slice", $"user_id", $"event_type").agg(min($"ts").as("ts"))
      .withColumn("copy",
        explode(when($"slice" === 0, array(lit(0), lit(1)))
          .otherwise(array(lit(0)))))
      .drop("copy")
      .repartition(3, $"slice")
      .write.partitionBy("slice").parquet(src)
    (0 to 2).foreach { i =>
      val d = new java.io.File(s"$src/slice=$i")
      val parts = Option(d.listFiles()).toSeq.flatten
        .filter(_.getName.startsWith("part-"))
      require(parts.size <= 1,
        s"st17: slice=$i holds ${parts.size} part files; repartition(3, slice) " +
          "must put each slice in one task, so one file per slice")
      parts.foreach { part =>
        val dst = java.nio.file.Paths.get(s"$src/slice_$i.parquet")
        java.nio.file.Files.move(part.toPath, dst)
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis((i + 1) * 1000000L))
      }
      // drop the partition dir (and stale .crc sidecars) so the file
      // source sees the same flat single-file-per-slice layout as before
      Option(d.listFiles()).toSeq.flatten
        .foreach(f => java.nio.file.Files.deleteIfExists(f.toPath))
      java.nio.file.Files.deleteIfExists(d.toPath)
    }
    val schema = spark.read.parquet(src).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    drain(StreamOps.dedupWithinWatermark(stream), "append",
      inputBytes(src))
      .groupBy($"user_id", $"event_type")
      .agg(count(lit(1)).as("n_emits"))
      .orderBy($"user_id", $"event_type")
  }

  private val st17Sql =
    """WITH r1 AS (
      |  SELECT user_id, event_type, MIN(ts) AS ts1 FROM events
      |  WHERE ts < TIMESTAMP '2024-01-11' GROUP BY user_id, event_type),
      |r2 AS (
      |  SELECT DISTINCT user_id, event_type FROM events
      |  WHERE ts >= TIMESTAMP '2024-01-11' AND ts < TIMESTAMP '2024-01-21'),
      |r3 AS (
      |  SELECT DISTINCT user_id, event_type FROM events
      |  WHERE ts >= TIMESTAMP '2024-01-21'),
      |m1 AS (SELECT MAX(ts1) AS mx FROM r1),
      |em AS (
      |  -- batch 1: every key emits once (its doubled row dedups in-batch)
      |  SELECT user_id, event_type FROM r1
      |  UNION ALL
      |  -- batch 2: only keys with no state entry emit
      |  SELECT user_id, event_type FROM r2
      |  WHERE NOT EXISTS (SELECT 1 FROM r1
      |    WHERE r1.user_id = r2.user_id AND r1.event_type = r2.event_type)
      |  UNION ALL
      |  -- batch 3: never-seen keys, plus keys whose batch-1 entry was
      |  -- evicted by batch 2's end-of-batch cleanup (operative
      |  -- watermark mx1 - 1d; entry expiry ts1 + 1d; no renewal)
      |  SELECT r3.user_id, r3.event_type
      |  FROM r3 LEFT JOIN r1 USING (user_id, event_type), m1
      |  WHERE (r1.ts1 IS NULL AND NOT EXISTS (SELECT 1 FROM r2
      |          WHERE r2.user_id = r3.user_id AND r2.event_type = r3.event_type))
      |     OR r1.ts1 < m1.mx - INTERVAL 2 DAY)
      |SELECT user_id, event_type, COUNT(*) AS n_emits
      |FROM em GROUP BY user_id, event_type
      |ORDER BY user_id, event_type""".stripMargin

  // ---------------------------------------------------------------------
  // st21: STREAMING CDC APPLY — the change-data-capture loop every
  // lakehouse runs: a change feed (upserts + deletes) applied to the
  // q78-manifest versioned table as one COPY-ON-WRITE merge COMMIT per
  // micro-batch (foreachBatch → Extras6.cowMergeCommitOcc, the
  // optimistic CAS + rebase loop — so the stream survives RACING
  // writers: a compaction (q89), a VACUUM-adjacent commit, or another
  // CDC apply landing between a batch's snapshot read and its commit
  // rebases or re-runs instead of throwing; StreamCdcSpec interleaves
  // a competing commit mid-stream and both deltas land). Composes the
  // round's two write paths: q88's merge machinery under p03's
  // streaming drain. Exactly-once at the table level comes from the
  // commit protocol, not the stream: each batch's merge lands as an
  // atomic manifest swap, so a concurrent reader sees version N or N+1,
  // never a half-applied batch, and a replayed batch would re-derive
  // the same version content (keys are unique in the feed — upserts
  // and deletes commute across batches, which StreamCdcSpec pins by
  // comparing against a ONE-SHOT batch merge of the whole feed).
  // Feed rule (deterministic, oracle-replayable): orders keys ≡ 0,1
  // (mod 7); op = DELETE where o_orderstatus = 'F', else UPSERT at
  // price + 50. Result reads v1 and the final version side by side
  // (both deterministic — intermediate versions depend on file-to-batch
  // assignment, the final state does not) plus the commit count.
  // At 100 TB: merge cost per batch ∝ the batch's file footprint
  // (file-pruned, broadcast-joined), state NONE (the table IS the
  // state), old versions retained for time travel until expired.
  // ---------------------------------------------------------------------
  private[graft] def st21Run(spark: SparkSession, dir: String,
      raceHook: (String, Int) => Unit = (_, _) => ()): (String, Long, Long) = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types.DecimalType
    val base = graft.queries.Extras6.cdcBase(spark, dir)
    val src = graft.Scratch.dir("st21_feed")
    graft.Tables.load(spark, dir, "orders")
      .filter($"o_orderkey" % 7 <= 1)
      .select($"o_orderkey".as("d_key"),
        when($"o_orderstatus" === "F", "D").otherwise("U").as("d_op"),
        $"o_orderstatus".as("d_status"),
        ($"o_totalprice".cast(DecimalType(18, 2)) + 50)
          .cast(DecimalType(18, 2)).as("d_price"))
      .repartition(4)
      .write.parquet(src)
    val schema = spark.read.parquet(src).schema
    val commits = new AtomicLong(0)
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // multi-writer-safe commit: the CAS+rebase loop absorbs any
        // writer that lands between this batch's snapshot and its
        // commit (the version is re-discovered inside the loop, never
        // assumed from a local counter)
        graft.queries.Extras6.cowMergeCommitOcc(spark, base, batch,
          raceHook = from => raceHook(base, from))
        commits.incrementAndGet()
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    val feedFiles = new java.io.File(src).listFiles()
      .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    (base, commits.get(), feedFiles.toLong)
  }

  def st21(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (base, nCommits, feedFiles) = st21Run(spark, dir)
    val v1 = graft.sources.GraftManifest.read(base, 1).paths
    val fin = graft.sources.GraftManifest.read(base, (1 + nCommits).toInt).paths
    graft.queries.Extras6.snapshotAgg(spark, v1, "1_base")
      .unionByName(graft.queries.Extras6.snapshotAgg(spark, fin, "2_final"))
      // one commit per feed file, derived from the ACTUAL feed listing
      // rather than a hard-coded 4: the boolean still gates the
      // one-batch-per-file contract (maxFilesPerTrigger=1 under
      // AvailableNow, no trailing empty batch) but a drift in engine
      // micro-batching or in repartition(4)'s file count now reads as
      // an explicit false, not a confusing count mismatch.
      .withColumn("commits_match_feed", lit(nCommits == feedFiles))
      .select($"snapshot", $"n_rows", $"n_f_status", $"sum_price",
        $"commits_match_feed")
      .orderBy($"snapshot")
  }

  private val st21Sql =
    """WITH v1 AS (
      |  SELECT o_orderkey, o_orderstatus,
      |    CAST(o_totalprice AS DECIMAL(18,2)) AS p
      |  FROM orders WHERE o_orderkey % 3 = 0),
      |fin AS (
      |  -- untouched base rows (not in the feed)
      |  SELECT o_orderstatus, p FROM v1 WHERE o_orderkey % 7 > 1
      |  UNION ALL
      |  -- one arm covers matched updates AND unmatched inserts: every
      |  -- non-'F' feed row upserts to price + 50; 'F' feed rows delete
      |  -- (matched) or no-op (unmatched)
      |  SELECT o_orderstatus, CAST(o_totalprice AS DECIMAL(18,2)) + 50
      |  FROM orders
      |  WHERE o_orderkey % 7 <= 1 AND o_orderstatus <> 'F'),
      |snaps AS (
      |  SELECT '1_base' AS snapshot, o_orderstatus, p FROM v1
      |  UNION ALL SELECT '2_final', o_orderstatus, p FROM fin)
      |SELECT snapshot, COUNT(*) AS n_rows,
      |  COUNT(*) FILTER (o_orderstatus = 'F') AS n_f_status,
      |  CAST(SUM(p) AS DOUBLE) AS sum_price,
      |  TRUE AS commits_match_feed
      |FROM snaps GROUP BY snapshot ORDER BY snapshot""".stripMargin

  // ---------------------------------------------------------------------
  // st22: STREAMING CHANGE DATA FEED — q92's pruned snapshot diff
  // served INCREMENTALLY by sources/GraftChangeFeed: a DSv2
  // MicroBatchStream addressed as `graft.<t>.changes` whose offsets are
  // manifest versions, so the engine's own checkpointing is the resume
  // protocol (restart continues from the first uncommitted transition,
  // never re-emitting a commit — StreamChangeFeedSpec pins that and the
  // per-transition file pruning). The table under test is q92's
  // (v1 load → v2 COW delete → v3 insert → v4 update), the feed drains
  // under AvailableNow, and each batch classifies its transitions with
  // one per-(version, key) aggregation — insert / delete / update,
  // rewritten-file collateral filtered out exactly like q92. The
  // settled result is q92's batch truth, so it shares q92's oracle.
  // At 100 TB: batch cost ∝ the commits' rewrite footprint; shared
  // files are never opened; the driver holds O(#files) metadata.
  // ---------------------------------------------------------------------
  def st22(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val base = graft.queries.Extras6.q92Build(spark, dir)
    graft.sources.GraftCatalog.install(spark)
    val name = s"cdf_${counter.incrementAndGet()}_${System.nanoTime()}"
    graft.sources.GraftCatalog.register(name, base)
    val acc = new java.util.concurrent.ConcurrentLinkedQueue[
      (String, String, Long, Double, Double)]()
    // r18 (guide §2): each micro-batch classifies one transition's
    // pruned diff — a few MB here — but the foreachBatch aggregation
    // inherits the session's cluster-shaped shuffle.partitions (2
    // shuffles × that many tasks per micro-batch). Scope the same
    // adaptive partition count the stateful drains use to the whole
    // AvailableNow drain, sized from the table's on-disk footprint
    // (an upper bound on any transition's diff).
    withAdaptivePartitions(spark, inputBytes(base)) {
      val q = spark.readStream.table(s"graft.$name.changes")
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          StreamOps.classifyChanges(batch)
            .collect() // bounded: ≤ 3 change types per transition
            .foreach(r => acc.add((r.getString(0), r.getString(1),
              r.getLong(2), r.getDouble(3), r.getDouble(4))))
          ()
        }
        .option("checkpointLocation", graft.Scratch.dir("st22_ckpt"))
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
    }
    import scala.jdk.CollectionConverters._
    acc.asScala.toSeq
      .toDF("transition", "change_type", "n_rows", "sum_pre_price",
        "sum_post_price")
      .orderBy($"transition", $"change_type")
  }

  // ---------------------------------------------------------------------
  // st23: NATIVE STREAMING SINK INTO A GRAFT TABLE —
  // `writeStream.toTable("graft.<t>")` lands every micro-batch as one
  // optimistic append commit on the manifest protocol (no foreachBatch
  // glue: the catalog table IS the sink, via DSv2 STREAMING_WRITE).
  // Exactly-once comes from the commit itself: each epoch's manifest
  // carries a `txn appId\tepoch` watermark header, so the post-crash
  // replay of the last in-flight micro-batch (same epoch id) is
  // detected at commit time and dropped — the Delta txnAppId/txnVersion
  // idempotent-write shape, pinned mechanically here by re-offering a
  // committed epoch and checking the version did not advance
  // (GraftStreamSinkSpec pins the file-level contract: per-epoch
  // staging dirs, stats on every committed file, watermark scan).
  // At 100 TB: a micro-batch commit is O(#files) metadata + the batch's
  // own data files; concurrent batch writers (backfills, compactions)
  // interleave through the same CAS the SQL paths use.
  // ---------------------------------------------------------------------
  def st23(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val D2 = DecimalType(18, 2)
    graft.sources.GraftCatalog.install(spark)
    val name = s"sink_${counter.incrementAndGet()}_${System.nanoTime()}"
    val base = graft.Scratch.dir("st23_table")
    spark.sql(s"CREATE TABLE graft.$name (o_orderkey BIGINT, " +
      s"o_orderstatus STRING, price DECIMAL(18,2)) LOCATION '$base'")
    val src = graft.Scratch.dir("st23_feed")
    graft.Tables.load(spark, dir, "orders")
      .filter($"o_orderkey" % 11 === 0)
      .select($"o_orderkey", $"o_orderstatus",
        $"o_totalprice".cast(D2).as("price"))
      .repartition(4)
      .write.parquet(src)
    val schema = spark.read.parquet(src).schema
    val appId = s"st23_$name"
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
      .writeStream
      .option("txnAppId", appId)
      .option("checkpointLocation", graft.Scratch.dir("st23_ckpt"))
      .trigger(Trigger.AvailableNow())
      .toTable(s"graft.$name")
    try q.awaitTermination() finally q.stop()
    val feedFiles = new java.io.File(src).listFiles()
      .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    val latest = graft.sources.GraftManifest.latest(base)
    // one commit per feed file on top of CREATE's empty v1
    val versionsOk = latest == 1 + feedFiles
    // mechanical replay: re-offer an already-committed epoch — the
    // watermark must reject it and the version must not advance
    val replayNoop =
      !graft.sources.GraftStreamingCommit.commitEpoch(base, appId, 0L,
        Seq(graft.sources.GraftManifest.Entry("replayed-file.parquet"))) &&
        graft.sources.GraftManifest.latest(base) == latest
    spark.sql(s"SELECT * FROM graft.$name")
      .agg(count(lit(1)).as("n_rows"),
        count(when($"o_orderstatus" === "F", 1)).as("n_f_status"),
        sum($"price").cast(DoubleType).as("sum_price"))
      .withColumn("versions_ok", lit(versionsOk))
      .withColumn("replay_noop", lit(replayNoop))
      .select($"n_rows", $"n_f_status", $"sum_price",
        $"versions_ok", $"replay_noop")
  }

  private val st23Sql =
    """SELECT COUNT(*) AS n_rows,
      |  COUNT(*) FILTER (o_orderstatus = 'F') AS n_f_status,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |  TRUE AS versions_ok, TRUE AS replay_noop
      |FROM orders WHERE o_orderkey % 11 = 0""".stripMargin

  /** st24 — STREAMING READS FROM A CATALOG TABLE (r16): the table
    * itself as a streaming SOURCE (`spark.readStream.table("graft.t")`
    * — Delta's streaming-source shape; the r14 change feed serves
    * diffs, this serves the table's appends): offsets are manifest
    * versions, one commit per micro-batch, a fresh subscriber replays
    * history-as-appends then follows. The fixture lands three INSERT
    * commits on a CREATEd table and drains with Trigger.AvailableNow,
    * accumulating PER-BATCH aggregates (exact decimal sums, so the
    * result is independent of batch boundaries); the hash pins the
    * drained stream ≡ the table's batch content. Non-append commits
    * fail the stream (or are skipped wholesale under
    * skipChangeCommits) — StreamTableReadSpec pins that contract plus
    * resume-without-re-emission. */
  def st24(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val D2 = DecimalType(18, 2)
    graft.sources.GraftCatalog.install(spark)
    val name = s"tread_${counter.incrementAndGet()}_${System.nanoTime()}"
    val base = graft.Scratch.dir("st24_table")
    spark.sql(s"CREATE TABLE graft.$name (o_orderkey BIGINT, " +
      s"o_orderstatus STRING, price DECIMAL(18,2)) LOCATION '$base'")
    val orders = graft.Tables.load(spark, dir, "orders")
    (0 to 2).foreach { m =>
      orders.filter($"o_orderkey" % 3 === m)
        .select($"o_orderkey", $"o_orderstatus",
          $"o_totalprice".cast(D2).as("price"))
        .createOrReplaceTempView(s"st24_src_${m}_$name")
      spark.sql(s"INSERT INTO graft.$name SELECT * FROM st24_src_${m}_$name")
    }
    val acc = new java.util.concurrent.ConcurrentLinkedQueue[
      (Long, Long, java.math.BigDecimal)]()
    val q = spark.readStream.table(s"graft.$name")
      .writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        val r = b.agg(count(lit(1)), count(when($"o_orderstatus" === "F", 1)),
          sum($"price")).head()
        if (r.getLong(0) > 0)
          acc.add((r.getLong(0), r.getLong(1), r.getDecimal(2)))
        ()
      }
      .option("checkpointLocation", graft.Scratch.dir("st24_ckpt"))
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    import scala.jdk.CollectionConverters._
    val batches = acc.asScala.toSeq
    // one non-empty batch per INSERT commit (the admission contract)
    val batchesOk = batches.size == 3
    spark.createDataset(batches).toDF("n", "f", "p")
      .agg(sum($"n").as("n_rows"), sum($"f").as("n_f_status"),
        sum($"p".cast(D2)).cast(DoubleType).as("sum_price"))
      .withColumn("one_batch_per_commit", lit(batchesOk))
      .select($"n_rows", $"n_f_status", $"sum_price",
        $"one_batch_per_commit")
  }

  private val st24Sql =
    """SELECT COUNT(*) AS n_rows,
      |  COUNT(*) FILTER (o_orderstatus = 'F') AS n_f_status,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |  TRUE AS one_batch_per_commit
      |FROM orders""".stripMargin

  val queries: ListMap[String, (SparkSession, String) => DataFrame] = ListMap(
    "st01_stream_hourly" -> (st01 _),
    "st02_stream_sessionize" -> (st02 _),
    "st03_stream_state" -> (st03 _),
    "st04_stream_sliding" -> (st04 _),
    "st05_stream_static_join" -> (st05 _),
    "st06_stream_bro_ingest" -> (st06 _),
    "st07_stream_stream_join" -> (st07 _),
    "st08_stream_append_hourly" -> (st08 _),
    "st09_stream_append_sliding" -> (st09 _),
    "st10_stream_dedup" -> (st10 _),
    "st11_stream_upsert" -> (st11 _),
    "st12_stream_bro_sink" -> (st12 _),
    "st13_stream_outer_join" -> (st13 _),
    "st14_transform_with_state" -> (st14 _),
    "st15_event_time_timers" -> (st15 _),
    "st16_warm_start_state" -> (st16 _),
    "st17_dedup_within_watermark" -> (st17 _),
    "st18_dynamic_gap_sessions" -> (st18 _),
    "st19_avro_stream_read" -> (st19 _),
    "st20_stream_full_outer_join" -> (st20 _),
    "st21_stream_cdc_merge" -> (st21 _),
    "st22_stream_change_feed" -> (st22 _),
    "st23_stream_sink_table" -> (st23 _),
    "st24_stream_table_read" -> (st24 _))

  private val st02Sql =
    """WITH flagged AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |              > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
      |  FROM events),
      |sess AS (
      |  SELECT user_id, ts,
      |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM flagged),
      |agg AS (
      |  SELECT user_id, sid, MIN(ts) AS session_start, MAX(ts) AS last_ev,
      |    COUNT(*) AS n_events
      |  FROM sess GROUP BY user_id, sid),
      |m AS (SELECT MAX(ts) AS mx FROM events)
      |SELECT strftime(session_start, '%Y-%m-%d %H:%M:%S') AS session_start,
      |  user_id, n_events
      |FROM agg, m
      |WHERE last_ev + INTERVAL 30 MINUTE <= mx - INTERVAL 30 MINUTE
      |ORDER BY user_id, session_start""".stripMargin

  val oracle: ListMap[String, String] = ListMap(
    "st01_stream_hourly" -> st01Sql,
    "st02_stream_sessionize" -> st02Sql,
    "st03_stream_state" -> st03Sql,
    "st04_stream_sliding" -> st04Sql,
    "st05_stream_static_join" -> st05Sql,
    "st06_stream_bro_ingest" -> st06Sql,
    "st07_stream_stream_join" -> st07Sql,
    "st08_stream_append_hourly" -> st08Sql,
    "st09_stream_append_sliding" -> st09Sql,
    "st10_stream_dedup" -> st10Sql,
    "st11_stream_upsert" -> st11Sql,
    "st12_stream_bro_sink" -> st12Sql,
    "st13_stream_outer_join" -> st13Sql,
    "st14_transform_with_state" -> st14Sql,
    "st15_event_time_timers" -> st15Sql,
    "st16_warm_start_state" -> st16Sql,
    "st17_dedup_within_watermark" -> st17Sql,
    "st18_dynamic_gap_sessions" -> st18Sql,
    "st19_avro_stream_read" -> st19Sql,
    "st20_stream_full_outer_join" -> st20Sql,
    "st21_stream_cdc_merge" -> st21Sql,
    "st22_stream_change_feed" -> graft.queries.Extras6.q92Sql,
    "st23_stream_sink_table" -> st23Sql,
    "st24_stream_table_read" -> st24Sql)
}
