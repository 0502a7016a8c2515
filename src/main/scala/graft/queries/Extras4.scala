package graft.queries

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** Behavioral / product-analytics batch: the event-sequence queries an
  * analytics engine is asked for daily — funnel conversion and cohort
  * retention. Both reduce to keyed aggregates and co-partitioned
  * self-joins on `user_id` (one hash shuffle onto the user key, then
  * narrow), so they scale the same way the relational inventory does.
  * Exactness rules as everywhere: counts are exact longs; the only
  * floating-point is a single two-operand division (IEEE-rounded
  * identically by both engines).
  */
object Extras4 {

  // ---------------------------------------------------------------------
  // q59: FUNNEL analysis — ordered-sequence conversion: of the users
  // who ever viewed, how many later clicked, and of those, how many
  // later purchased. "Later" is strict event-time order per user, not
  // mere set membership: each stage keeps the FIRST qualifying time
  // and the next stage only counts events strictly after it. Shape:
  // per-stage min-aggregates chained by co-partitioned user_id joins —
  // every join key is user_id, so after one shuffle the chain is
  // narrow; stage tables only shrink. The final 4-row summary ranks
  // with a lag window for the step conversion rate.
  // ---------------------------------------------------------------------
  private val FunnelStages = Seq("view", "click", "purchase")

  def q59(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.load(spark, dir, "events")
      .select($"user_id", $"event_type", $"ts")
    // chain: users[k] = users who hit stage k strictly after stage k-1,
    // carrying the first qualifying timestamp forward
    val s1 = ev.filter($"event_type" === FunnelStages.head)
      .groupBy($"user_id").agg(min($"ts").as("ts_prev"))
    val reached = FunnelStages.tail.scanLeft(s1) { (prev, stage) =>
      ev.filter($"event_type" === stage)
        .join(prev, "user_id")
        .filter($"ts" > $"ts_prev")
        .groupBy($"user_id").agg(min($"ts").as("ts_prev"))
    }
    val all = ev.agg(countDistinct($"user_id").as("n_users"))
      .withColumn("stage", lit("0_all"))
    val counts = FunnelStages.zip(reached).map { case (stage, df) =>
      val rank = FunnelStages.indexOf(stage) + 1
      df.agg(count(lit(1)).as("n_users"))
        .withColumn("stage", lit(s"${rank}_$stage"))
    }
    // the summary is ≤ 4 rows by construction (one per funnel stage):
    // collect it (bounded, documented) and compute the step conversion
    // driver-side — the lag here needed a partition-less window, which
    // plans as single-partition WindowExec and WARNs on every run (and
    // the partitionBy(lit(0)) escape hatch constant-folds away, r6/r7)
    val rows = counts.foldLeft(all)(_ unionByName _)
      .orderBy($"stage").collect()
    rows.zipWithIndex.map { case (r, i) =>
      val n = r.getAs[Long]("n_users")
      val conv: Option[Double] =
        if (i == 0) None
        else Some(n.toDouble / rows(i - 1).getAs[Long]("n_users").toDouble)
      (r.getAs[String]("stage"), n, conv)
    }.toSeq.toDF("stage", "n_users", "conv_rate")
      .orderBy($"stage")
  }

  private val q59Sql =
    """WITH s1 AS (
      |  SELECT user_id, MIN(ts) AS ts_prev FROM events
      |  WHERE event_type = 'view' GROUP BY user_id),
      |s2 AS (
      |  SELECT e.user_id, MIN(e.ts) AS ts_prev
      |  FROM events e JOIN s1 USING (user_id)
      |  WHERE e.event_type = 'click' AND e.ts > s1.ts_prev
      |  GROUP BY e.user_id),
      |s3 AS (
      |  SELECT e.user_id, MIN(e.ts) AS ts_prev
      |  FROM events e JOIN s2 USING (user_id)
      |  WHERE e.event_type = 'purchase' AND e.ts > s2.ts_prev
      |  GROUP BY e.user_id),
      |counts AS (
      |  SELECT '0_all' AS stage, COUNT(DISTINCT user_id) AS n_users FROM events
      |  UNION ALL SELECT '1_view', COUNT(*) FROM s1
      |  UNION ALL SELECT '2_click', COUNT(*) FROM s2
      |  UNION ALL SELECT '3_purchase', COUNT(*) FROM s3)
      |SELECT stage, n_users,
      |  CAST(n_users AS DOUBLE) /
      |    CAST(LAG(n_users, 1) OVER (ORDER BY stage) AS DOUBLE) AS conv_rate
      |FROM counts
      |ORDER BY stage""".stripMargin

  // ---------------------------------------------------------------------
  // q60: COHORT retention — the week-over-week activity matrix: users
  // grouped by their first-seen week (the cohort), counted as active in
  // each subsequent week. Shape: first-seen per user (one keyed agg),
  // joined back to the event stream on user_id (co-partitioned — at
  // scale the join inherits the agg's partitioning, no extra shuffle),
  // then an exact distinct-user count per (cohort, offset) cell. Weeks
  // via date_trunc to Monday boundaries in both engines; the offset is
  // whole days divided by 7 in integer arithmetic — no timezone or
  // fractional-day semantics involved.
  // ---------------------------------------------------------------------
  def q60(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.load(spark, dir, "events").select($"user_id", $"ts")
    val first = ev.groupBy($"user_id")
      .agg(date_trunc("week", min($"ts")).as("cohort_w"))
    ev.join(first, "user_id")
      .select($"user_id", $"cohort_w",
        expr("datediff(date_trunc('week', ts), cohort_w) div 7")
          .cast(LongType).as("week_offset"))
      .distinct()
      .groupBy($"cohort_w", $"week_offset")
      .agg(count(lit(1)).as("n_active"))
      .select(date_format($"cohort_w", "yyyy-MM-dd").as("cohort_week"),
        $"week_offset", $"n_active")
      .orderBy($"cohort_week", $"week_offset")
  }

  private val q60Sql =
    """WITH first_seen AS (
      |  SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_w
      |  FROM events GROUP BY user_id),
      |active AS (
      |  SELECT DISTINCT e.user_id, f.cohort_w,
      |    CAST(date_diff('day', f.cohort_w, date_trunc('week', e.ts)) // 7
      |      AS BIGINT) AS week_offset
      |  FROM events e JOIN first_seen f USING (user_id))
      |SELECT strftime(cohort_w, '%Y-%m-%d') AS cohort_week, week_offset,
      |  COUNT(*) AS n_active
      |FROM active
      |GROUP BY cohort_w, week_offset
      |ORDER BY cohort_week, week_offset""".stripMargin

  // ---------------------------------------------------------------------
  // q69: VARIANT semi-structured processing — Spark 4's open-encoded
  // binary JSON type: documents are parsed ONCE (`parse_json`) into
  // Variant's self-describing binary form, then multiple paths are
  // extracted with typed `variant_get` against that one parse. q15's
  // `get_json_object` re-tokenizes the JSON TEXT per extraction call —
  // at 100 TB with several extracted paths, Variant's
  // parse-once/extract-many is the difference between one scan's worth
  // of parsing and one per path (and Variant is the columnar
  // shredding-ready representation for parquet). The document here is
  // nested (object + array) and built from event fields, so both
  // engines construct logically identical JSON and the typed
  // extraction results — not the raw encoding — are what the oracle
  // hashes.
  // ---------------------------------------------------------------------
  def q69(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val doc = to_json(struct(
      struct($"event_type".as("type"), $"user_id".as("uid")).as("meta"),
      array($"event_id" % 7, $"user_id" % 13).as("vals")))
    val parsed = Tables.load(spark, dir, "events")
      .select(parse_json(doc).as("v"))
    parsed
      .select(
        variant_get($"v", "$.meta.type", "string").as("vtype"),
        variant_get($"v", "$.meta.uid", "long").as("uid"),
        variant_get($"v", "$.vals[0]", "long").as("v0"),
        try_variant_get($"v", "$.vals[1]", "long").as("v1"),
        // a path that does not exist: try_variant_get yields NULL
        try_variant_get($"v", "$.missing", "long").as("vm"))
      .groupBy($"vtype")
      .agg(count(lit(1)).as("n"),
        sum($"uid").as("sum_uid"),
        sum($"v0").as("sum_v0"),
        max($"v1").as("max_v1"),
        count($"vm").as("n_missing"))
      .orderBy($"vtype")
  }

  private val q69Sql =
    """WITH src AS (
      |  SELECT json_object('meta',
      |      json_object('type', event_type, 'uid', user_id),
      |      'vals', json_array(event_id % 7, user_id % 13)) AS j
      |  FROM events),
      |ext AS (
      |  SELECT json_extract_string(j, '$.meta.type') AS vtype,
      |    CAST(json_extract(j, '$.meta.uid') AS BIGINT) AS uid,
      |    CAST(json_extract(j, '$."vals"[0]') AS BIGINT) AS v0,
      |    CAST(json_extract(j, '$."vals"[1]') AS BIGINT) AS v1,
      |    CAST(json_extract(j, '$.missing') AS BIGINT) AS vm
      |  FROM src)
      |SELECT vtype, COUNT(*) AS n,
      |  CAST(SUM(uid) AS BIGINT) AS sum_uid,
      |  CAST(SUM(v0) AS BIGINT) AS sum_v0,
      |  MAX(v1) AS max_v1,
      |  COUNT(vm) AS n_missing
      |FROM ext
      |GROUP BY vtype
      |ORDER BY vtype""".stripMargin

  // ---------------------------------------------------------------------
  // q70: SQL-DEFINED FUNCTIONS (Spark 4): a scalar SQL UDF
  // (`CREATE FUNCTION ... RETURNS DOUBLE RETURN expr`) and a SQL table
  // function (`RETURNS TABLE ... RETURN SELECT`) — reusable
  // query-language abstractions that Catalyst INLINES into the calling
  // plan (no black-box JVM lambda: the revenue expression below still
  // folds, pushes down, and codegens exactly as if written in place —
  // the opposite of a Scala udf(), which is an optimization fence).
  // The table function parameterizes a per-flag revenue summary; the
  // scalar function is the discount formula shared by both.
  // Exactness: the function does its arithmetic IN DECIMAL (operands
  // cast to DECIMAL(18,2), product kept at DECIMAL(18,4) — q01's
  // portability recipe), so both engines fold the same exact decimals;
  // a double product rounded per row diverges by a penny at sf0.001.
  // ---------------------------------------------------------------------
  def q70(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "lineitem").createOrReplaceTempView("lineitem")
    spark.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION graft_discounted(
        |  price DOUBLE, disc DOUBLE) RETURNS DECIMAL(18,4)
        |RETURN CAST(CAST(price AS DECIMAL(18,2))
        |  * (CAST(1 AS DECIMAL(18,2)) - CAST(disc AS DECIMAL(18,2)))
        |  AS DECIMAL(18,4))""".stripMargin)
    spark.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION graft_flag_revenue(flag STRING)
        |RETURNS TABLE(l_linestatus STRING, revenue DOUBLE, n_items BIGINT)
        |RETURN SELECT l_linestatus,
        |  CAST(SUM(graft_discounted(l_extendedprice, l_discount))
        |    AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem WHERE l_returnflag = flag
        |GROUP BY l_linestatus""".stripMargin)
    spark.sql(
      """SELECT 'A' AS l_returnflag, * FROM graft_flag_revenue('A')
        |UNION ALL
        |SELECT 'N' AS l_returnflag, * FROM graft_flag_revenue('N')
        |UNION ALL
        |SELECT 'R' AS l_returnflag, * FROM graft_flag_revenue('R')
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)
  }

  private val q70Sql =
    """WITH rev AS (
      |  SELECT l_returnflag, l_linestatus,
      |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
      |      * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
      |      AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
      |    COUNT(*) AS n_items
      |  FROM lineitem
      |  WHERE l_returnflag IN ('A', 'N', 'R')
      |  GROUP BY l_returnflag, l_linestatus)
      |SELECT l_returnflag, l_linestatus, revenue, n_items
      |FROM rev
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  val queries: ListMap[String, (SparkSession, String) => DataFrame] = ListMap(
    "q59_funnel" -> (q59 _),
    "q60_cohort_retention" -> (q60 _),
    "q69_variant_json" -> (q69 _),
    "q70_sql_udf" -> (q70 _))

  val oracle: ListMap[String, String] = ListMap(
    "q59_funnel" -> q59Sql,
    "q60_cohort_retention" -> q60Sql,
    "q69_variant_json" -> q69Sql,
    "q70_sql_udf" -> q70Sql)
}
