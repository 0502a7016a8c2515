package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** The library's streaming API: sink-agnostic transforms over streaming
  * DataFrames. Each takes the caller's stream (any source — file
  * landing zone, Kafka, rate) and returns the transformed streaming
  * DataFrame for the caller to wire into their own sink/trigger/output
  * mode. `EventsStream` (the correctness harness) drives these same
  * transforms through memory sinks for the oracle gate — the transforms
  * are the product; the memory sink is test scaffolding.
  *
  * Every transform documents its state-store shape — the thing that
  * decides whether it survives an unbounded stream.
  */
object StreamOps {

  /** Tumbling 1-hour counts by event type. State: one row per
    * (window, type), evicted once the watermark passes window end. */
  def hourlyCounts(events: DataFrame, tsCol: String = "ts"): DataFrame =
    events
      .withWatermark(tsCol, "1 hour")
      .groupBy(window(col(tsCol), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))

  /** 30-minute-gap session windows per user. Append mode + watermark:
    * only watermark-closed sessions emit — correct unbounded-stream
    * semantics. State: open sessions only. */
  def sessionCounts(events: DataFrame, tsCol: String = "ts"): DataFrame =
    events
      .withWatermark(tsCol, "30 minutes")
      .groupBy(session_window(col(tsCol), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))

  /** DYNAMIC-gap session windows: the gap is a per-EVENT expression —
    * an 'error' extends its session only 10 minutes, anything else 30 —
    * so a session's horizon depends on what its last events were (the
    * production use: cheap events shouldn't hold state open as long as
    * engaged ones). Each event spans [ts, ts + its gap); overlapping
    * spans merge, and the session window's end is the max member end.
    * Same append + watermark close semantics as [[sessionCounts]]. */
  def dynamicSessionCounts(events: DataFrame, tsCol: String = "ts"): DataFrame =
    events
      .withWatermark(tsCol, "30 minutes")
      .groupBy(session_window(col(tsCol),
        when(col("event_type") === "error", "10 minutes")
          .otherwise("30 minutes")), col("user_id"))
      .agg(count(lit(1)).as("n_events"))

  /** Sliding 1-hour/30-minute counts by event type. State: one row per
    * (window, type) × overlap factor (window/slide = 2). */
  def slidingCounts(events: DataFrame, tsCol: String = "ts"): DataFrame =
    events
      .withWatermark(tsCol, "1 hour")
      .groupBy(window(col(tsCol), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))

  /** Streaming exact deduplication — the ingest-side twin of the batch
    * d01: the FIRST occurrence of each (user_id, event_type, hour) key
    * emits immediately (append mode), later duplicates are dropped
    * against the state store. The dedup key includes the event-time
    * hour and the watermark is on that column, so state holds only keys
    * newer than the watermark horizon — bounded by disorder, not by
    * stream length. At 100 TB/day this is the standard exactly-once
    * ingest gate in front of the batch dedup family. */
  def dedupKeys(events: DataFrame, tsCol: String = "ts"): DataFrame =
    events
      .withColumn("ts_hour", date_trunc("hour", col(tsCol)))
      .withWatermark("ts_hour", "1 hour")
      .dropDuplicates("user_id", "event_type", "ts_hour")
      .select(col("ts_hour"), col("user_id"), col("event_type"))

  /** Bounded-state streaming dedup via `dropDuplicatesWithinWatermark`:
    * a key's state is EVICTED once the watermark passes its FIRST
    * arrival's event time + delay — duplicate arrivals are suppressed
    * by the state's presence but do NOT renew the expiry (verified
    * empirically against the engine in st17's oracle and pinned by
    * DedupWithinWatermarkSpec; eviction happens at end-of-batch under
    * the one-batch-lagging operative watermark, so it is observable two
    * batches later), and a duplicate arriving after eviction re-emits.
    * That re-emission is the price of bounded state:
    * `dropDuplicates` (st10 / dedupKeys) keeps exact semantics by
    * keying state on the event-time bucket, while this variant bounds
    * state purely by the delay dial — the right tool when the key has
    * no natural time component and the downstream sink is idempotent
    * anyway (e.g. p03's dedup ledger). At 100 TB/day state size is
    * O(keys active per delay window), independent of stream lifetime. */
  def dedupWithinWatermark(events: DataFrame, tsCol: String = "ts",
      delay: String = "1 day"): DataFrame =
    events
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark("user_id", "event_type")

  /** Stream enriched against a static dimension (broadcast per
    * micro-batch — no state store), then aggregated by type. */
  def enrichedTypeCounts(events: DataFrame, profile: DataFrame): DataFrame =
    events
      .join(broadcast(profile), Seq("user_id"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("user_total")).as("sum_user_total"))

  /** Running per-type stats (complete/update mode; state: one row per
    * type). The shape st06 runs over a `.bro` landing zone. */
  def typeStats(events: DataFrame): DataFrame =
    events
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("user_id")).as("user_id_sum"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))

  /** Stream-stream interval join: purchases × same-user clicks from the
    * preceding hour. Dual watermarks + the time-range condition bound
    * both state stores (a click is evictable once the purchase
    * watermark passes click_ts + 1 hour). Inner join → append mode. */
  def purchaseClickJoin(purchases: DataFrame, clicks: DataFrame): DataFrame = {
    val p = purchases
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val c = clicks
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    p.join(c,
      col("p_user") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("c_ts") < col("p_ts"))
  }

  /** Stream-stream LEFT OUTER interval join — st07's join with the
    * hardest emission semantics in Structured Streaming: matched pairs
    * emit like the inner join, and an UNMATCHED purchase emits its
    * null-click row only once the watermark proves no future click can
    * match it (state eviction = correctness here, not just memory).
    * Same dual watermarks + time-range bound; purchases whose
    * no-match proof the final watermark never reaches stay in state and
    * never emit — the oracle must replicate that cutoff exactly. */
  def purchaseClickLeftJoin(purchases: DataFrame, clicks: DataFrame): DataFrame = {
    val p = purchases
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val c = clicks
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    p.join(c,
      col("p_user") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("c_ts") < col("p_ts"),
      "left_outer")
  }

  /** FULL OUTER stream-stream interval join: both sides emit
    * null-completed rows once the watermark proves no future partner
    * can arrive — the purchase side when the watermark passes its event
    * time (its click window looks only BACKWARD), the click side when
    * the watermark passes its event time + the interval width (a click
    * can match purchases up to 1 h LATER). Same condition as
    * [[purchaseClickLeftJoin]]; st20's oracle replays both horizons. */
  def purchaseClickFullJoin(purchases: DataFrame, clicks: DataFrame): DataFrame = {
    val p = purchases
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val c = clicks
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    p.join(c,
      col("p_user") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("c_ts") < col("p_ts"),
      "full_outer")
  }

  /** Per-key partial aggregates of one micro-batch — the delta a
    * foreachBatch upsert merges into the standing table. Sums go
    * through a FIXED decimal type so the merged schema (and the exact
    * result) is independent of how the stream was micro-batched. */
  def batchUserAgg(batch: DataFrame): DataFrame =
    batch.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(MoneyType)).cast(MergeDecimal).as("sum_value"),
        min(col("ts")).as("first_ts"),
        max(col("ts")).as("last_ts"))

  /** One upsert round: FULL OUTER join of the standing table with the
    * batch delta on the key, combining with associative+commutative
    * merges (count add, exact decimal add, min/max) — so ANY split of
    * the input into micro-batches converges to the same table, and a
    * replayed batch only needs source-side dedup (st10) to stay
    * exactly-once. This is MERGE INTO's execution shape; on a real
    * cluster the write side is Delta/Iceberg MERGE or an overwrite of
    * the (partitioned) table — the join below is the engine work. */
  /** Classify one change-feed batch (st22) into per-transition change
    * aggregates. Input rows are `graft.<t>.changes` rows: (side =
    * pre|post, commit_version, o_orderkey, o_orderstatus, price) over
    * the symmetric-difference files of each transition. Keys are unique
    * per side within a transition, so one per-(version, key)
    * conditional aggregation reconstructs the full-outer join: pre
    * absent → insert, post absent → delete, values differ → update,
    * identical → rewritten-file collateral (dropped — not a change),
    * exactly q92's classification. Transitions never straddle batches
    * (the source plans whole transitions), so this is complete per
    * batch. */
  def classifyChanges(batch: DataFrame): DataFrame = {
    val perKey = batch.groupBy(col("commit_version"), col("o_orderkey"))
      .agg(
        max(when(col("side") === "pre", col("o_orderstatus"))).as("pre_status"),
        max(when(col("side") === "pre", col("price"))).as("pre_price"),
        max(when(col("side") === "post", col("o_orderstatus"))).as("post_status"),
        max(when(col("side") === "post", col("price"))).as("post_price"),
        count(when(col("side") === "pre", 1)).as("n_pre"),
        count(when(col("side") === "post", 1)).as("n_post"))
    val d2 = org.apache.spark.sql.types.DecimalType(18, 2)
    perKey
      .select(
        concat(lit("v"), col("commit_version") - 1, lit("_to_v"),
          col("commit_version")).as("transition"),
        when(col("n_pre") === 0, "insert")
          .when(col("n_post") === 0, "delete")
          .when(col("pre_status") =!= col("post_status") ||
            col("pre_price") =!= col("post_price"), "update")
          .otherwise("carried").as("change_type"),
        coalesce(col("pre_price"), lit(0).cast(d2)).as("pre_price"),
        coalesce(col("post_price"), lit(0).cast(d2)).as("post_price"))
      .filter(col("change_type") =!= "carried")
      .groupBy(col("transition"), col("change_type"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("pre_price")).cast("double").as("sum_pre_price"),
        sum(col("post_price")).cast("double").as("sum_post_price"))
  }

  def upsertMerge(state: DataFrame, delta: DataFrame): DataFrame = {
    val s = state.columns.foldLeft(state)((d, c) => d.withColumnRenamed(c, s"s_$c"))
    s.join(delta, col("s_user_id") === col("user_id"), "full_outer")
      .select(
        coalesce(col("user_id"), col("s_user_id")).as("user_id"),
        (coalesce(col("s_n_events"), lit(0L)) +
          coalesce(col("n_events"), lit(0L))).as("n_events"),
        (coalesce(col("s_sum_value"), lit(0).cast(MergeDecimal)) +
          coalesce(col("sum_value"), lit(0).cast(MergeDecimal)))
          .cast(MergeDecimal).as("sum_value"),
        least(col("s_first_ts"), col("first_ts")).as("first_ts"),
        greatest(col("s_last_ts"), col("last_ts")).as("last_ts"))
  }

  /** One merge round of a streaming DEDUP LEDGER (p03): the standing
    * per-fingerprint winners merged with a batch's per-fingerprint
    * partials, keeping the row with the MINIMUM doc_id per fp. The
    * combine is associative, commutative, AND idempotent — any
    * micro-batching of the input converges to the batch dedup truth,
    * and a replayed batch is a no-op (min(x, x) = x), so the ledger is
    * exactly-once without source-side dedup. Schema on both sides:
    * (fp, doc_id, source, n_tokens). */
  def dedupLedgerMerge(state: DataFrame, delta: DataFrame): DataFrame = {
    val s = state.select(col("fp"), col("doc_id").as("s_doc_id"),
      col("source").as("s_source"), col("n_tokens").as("s_n_tokens"))
    val takeState = col("doc_id").isNull ||
      (col("s_doc_id").isNotNull && col("s_doc_id") <= col("doc_id"))
    s.join(delta, Seq("fp"), "full_outer")
      .select(col("fp"),
        when(takeState, col("s_doc_id")).otherwise(col("doc_id")).as("doc_id"),
        when(takeState, col("s_source")).otherwise(col("source")).as("source"),
        when(takeState, col("s_n_tokens")).otherwise(col("n_tokens"))
          .as("n_tokens"))
  }

  private val MoneyType = org.apache.spark.sql.types.DecimalType(18, 2)
  private val MergeDecimal = org.apache.spark.sql.types.DecimalType(28, 2)

  /** Per-user modal-event-type profiles via `transformWithState` —
    * Spark 4's arbitrary-state API (StatefulProcessor + typed state
    * variables over the RocksDB state store; the caller must set
    * `spark.sql.streaming.stateStore.providerClass` to the RocksDB
    * provider before starting the query). Contrast with
    * [[userProfiles]]: flatMapGroupsWithState carries ONE opaque blob
    * per key, while here the per-type counts live in a
    * `MapState[String, Long]` whose entries are individually
    * addressable state-store keys — a batch touching one type reads
    * and writes one map entry, not the whole profile, which is the
    * access granularity that scales to wide per-key maps. State per
    * user is O(distinct types) + one total, independent of event
    * volume. Update mode: every batch a user appears in re-emits
    * their refreshed profile with a strictly larger `n_events`. */
  def modalTypeProfiles(
      evs: Dataset[EventsStream.TypedEv]): Dataset[EventsStream.ModalRow] = {
    import org.apache.spark.sql.streaming.TimeMode
    import evs.sparkSession.implicits._
    evs.groupByKey(_.user_id)
      .transformWithState(new ModalTypeProcessor, TimeMode.None(),
        OutputMode.Update())
  }

  /** Per-user inactivity-finalized profiles via `transformWithState`
    * EVENT-TIME TIMERS (st15): each user's running profile lives in
    * ValueState and a timer is (re-)registered at last_event + 30 min;
    * nothing emits from `handleInputRows` — the profile emits ONLY from
    * `handleExpiredTimer`, when the advancing watermark proves the
    * user has been quiet for the gap, and the state clears. This is
    * the timer-driven finalize-on-inactivity pattern (session logout
    * detection, abandoned-cart emission) that neither windowed aggs
    * nor flatMapGroupsWithState timeouts express this directly:
    * emission time is a per-key event-time fact, not a window close.
    * State: one profile + one registered timer per active user. */
  def inactivityProfiles(
      evs: Dataset[EventsStream.TimedEv]): Dataset[EventsStream.EpisodeRow] = {
    import org.apache.spark.sql.streaming.TimeMode
    import evs.sparkSession.implicits._
    evs.groupByKey(_.user_id)
      .transformWithState(new InactivityProcessor, TimeMode.EventTime(),
        OutputMode.Append())
  }

  /** Custom-state per-user profiles via flatMapGroupsWithState (state:
    * one `UserState` per user, independent of event volume). Defined
    * over the typed Ev/UserAgg rows in [[EventsStream]]. */
  def userProfiles(evs: Dataset[EventsStream.Ev]): Dataset[EventsStream.UserAgg] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    import evs.sparkSession.implicits._
    evs.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (user: Long, rows: Iterator[EventsStream.Ev],
            state: GroupState[EventsStream.UserState]) => {
          var s = state.getOption.getOrElse(
            EventsStream.UserState(0L, Long.MaxValue, Long.MinValue,
              Double.MaxValue, Double.MinValue))
          rows.foreach { e =>
            s = EventsStream.UserState(s.n + 1, math.min(s.minTs, e.ts_us),
              math.max(s.maxTs, e.ts_us), math.min(s.minVal, e.value),
              math.max(s.maxVal, e.value))
          }
          state.update(s)
          val fmt = java.time.format.DateTimeFormatter
            .ofPattern("yyyy-MM-dd HH:mm:ss").withZone(java.time.ZoneOffset.UTC)
          Iterator(EventsStream.UserAgg(user, s.n,
            fmt.format(java.time.Instant.ofEpochSecond(s.minTs / 1000000)),
            fmt.format(java.time.Instant.ofEpochSecond(s.maxTs / 1000000)),
            s.minVal, s.maxVal))
        })
  }
}

/** st15's StatefulProcessor: running (n, last_ts) profile in ValueState,
  * an event-time timer re-registered at last_ts + 30 min on every
  * batch the user appears in. Emission happens exclusively in
  * handleExpiredTimer — when the watermark passes the inactivity
  * deadline — after which the state clears, so a returning user starts
  * a fresh episode. */
class InactivityProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[
    Long, EventsStream.TimedEv, EventsStream.EpisodeRow] {
  import org.apache.spark.sql.Encoders
  import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode,
    TTLConfig, TimeMode, TimerValues, ValueState}

  private val GapMs = 30L * 60 * 1000

  @transient private var profile: ValueState[(Long, Long)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    profile = getHandle.getValueState[(Long, Long)]("profile",
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong), TTLConfig.NONE)

  override def handleInputRows(user: Long,
      rows: Iterator[EventsStream.TimedEv],
      timerValues: TimerValues): Iterator[EventsStream.EpisodeRow] = {
    val (n0, last0) =
      if (profile.exists()) profile.get() else (0L, Long.MinValue)
    var n = n0
    var last = last0
    rows.foreach { e => n += 1L; last = math.max(last, e.ts_ms) }
    if (last != last0 && last0 != Long.MinValue)
      getHandle.deleteTimer(last0 + GapMs)
    profile.update((n, last))
    if (last != last0) getHandle.registerTimer(last + GapMs)
    Iterator.empty
  }

  override def handleExpiredTimer(user: Long, timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[EventsStream.EpisodeRow] = {
    val out =
      if (!profile.exists()) Iterator.empty
      else {
        val (n, last) = profile.get()
        Iterator.single(EventsStream.EpisodeRow(user, n, last))
      }
    profile.clear()
    out
  }
}

/** st16's StatefulProcessor: st14's modal-type logic plus
  * `handleInitialState` — the state store is WARM-STARTED from a batch
  * snapshot (per-user type-count maps) before the first micro-batch,
  * the production bootstrap path when a streaming job takes over from
  * a batch-built table. Same state variables and emission as
  * [[ModalTypeProcessor]] (single inheritance forces the small
  * duplication: this class must extend StatefulProcessorWithInitialState). */
class ModalTypeWarmStartProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[
      Long, EventsStream.TypedEv, EventsStream.ModalRow,
      Map[String, Long]] {
  import org.apache.spark.sql.Encoders
  import org.apache.spark.sql.streaming.{MapState, OutputMode, TTLConfig,
    TimeMode, TimerValues, ValueState}

  @transient private var counts: MapState[String, Long] = _
  @transient private var total: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    counts = getHandle.getMapState[String, Long]("type_counts",
      Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
    total = getHandle.getValueState[Long]("total", Encoders.scalaLong,
      TTLConfig.NONE)
  }

  override def handleInitialState(user: Long, snap: Map[String, Long],
      timerValues: TimerValues): Unit = {
    var n = 0L
    snap.foreach { case (t, c) => counts.updateValue(t, c); n += c }
    total.update(n)
  }

  override def handleInputRows(user: Long,
      rows: Iterator[EventsStream.TypedEv],
      timerValues: TimerValues): Iterator[EventsStream.ModalRow] = {
    var n = if (total.exists()) total.get() else 0L
    rows.foreach { e =>
      val c = if (counts.containsKey(e.event_type)) counts.getValue(e.event_type)
        else 0L
      counts.updateValue(e.event_type, c + 1L)
      n += 1L
    }
    total.update(n)
    var topType: String = null
    var topN = 0L
    var nTypes = 0L
    counts.iterator().foreach { case (t, c) =>
      nTypes += 1
      if (c > topN || (c == topN && t < topType)) { topType = t; topN = c }
    }
    Iterator.single(EventsStream.ModalRow(user, n, nTypes, topType, topN))
  }
}

/** st14's StatefulProcessor: per-user type counts in MapState, running
  * total in ValueState. Emits the user's refreshed profile — total,
  * number of distinct types, and the modal type (count-max, ties broken
  * alphabetically) found by scanning the map — once per batch the user
  * appears in. */
class ModalTypeProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[
    Long, EventsStream.TypedEv, EventsStream.ModalRow] {
  import org.apache.spark.sql.Encoders
  import org.apache.spark.sql.streaming.{MapState, OutputMode, TTLConfig,
    TimeMode, TimerValues, ValueState}

  @transient private var counts: MapState[String, Long] = _
  @transient private var total: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    counts = getHandle.getMapState[String, Long]("type_counts",
      Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
    total = getHandle.getValueState[Long]("total", Encoders.scalaLong,
      TTLConfig.NONE)
  }

  override def handleInputRows(user: Long,
      rows: Iterator[EventsStream.TypedEv],
      timerValues: TimerValues): Iterator[EventsStream.ModalRow] = {
    var n = if (total.exists()) total.get() else 0L
    rows.foreach { e =>
      val c = if (counts.containsKey(e.event_type)) counts.getValue(e.event_type)
        else 0L
      counts.updateValue(e.event_type, c + 1L)
      n += 1L
    }
    total.update(n)
    var topType: String = null
    var topN = 0L
    var nTypes = 0L
    counts.iterator().foreach { case (t, c) =>
      nTypes += 1
      if (c > topN || (c == topN && t < topType)) { topType = t; topN = c }
    }
    Iterator.single(EventsStream.ModalRow(user, n, nTypes, topType, topN))
  }
}
