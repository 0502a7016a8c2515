package graft.queries

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** Second relational batch (round 2): the operator families SURVEY.md
  * §2.B lists that the round-1 inventory didn't yet exercise — outer
  * joins, correlated subqueries, exact percentiles, unpivot, the full
  * ranking-window suite, FILTER-style conditional aggregation, and the
  * multiset set-ops. Same exactness rules as Relational.scala: decimal
  * casts for money sums, one identical IEEE division for ratios, total
  * ORDER BY everywhere.
  */
object Extras2 {

  private val D2 = DecimalType(18, 2)

  // ---------------------------------------------------------------------
  // q31: FULL OUTER join of two filtered aggregates. The filters make
  // each side miss some nations, so both null-sides are exercised.
  // Scale: both inputs are already aggregated to ≤|nation| rows before
  // the join — the outer join itself moves only group rows, and at 100 TB
  // the partial aggregation bounds the shuffle no matter the fact size.
  // ---------------------------------------------------------------------
  def q31(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val negCust = Tables.load(spark, dir, "customer")
      .filter($"c_acctbal" < 0)
      .groupBy($"c_nationkey".as("nationkey"))
      .agg(count(lit(1)).as("n_neg_cust"),
        sum($"c_acctbal".cast(D2)).cast(DoubleType).as("cust_debt"))
    val negSupp = Tables.load(spark, dir, "supplier")
      .filter($"s_acctbal" < 0)
      .groupBy($"s_nationkey".as("nationkey"))
      .agg(count(lit(1)).as("n_neg_supp"))
    negCust.join(negSupp, Seq("nationkey"), "full_outer")
      .select($"nationkey",
        coalesce($"n_neg_cust", lit(0L)).as("n_neg_cust"),
        coalesce($"cust_debt", lit(0.0)).as("cust_debt"),
        coalesce($"n_neg_supp", lit(0L)).as("n_neg_supp"))
      .orderBy($"nationkey")
  }

  private val q31Sql =
    """WITH nc AS (
      |  SELECT c_nationkey AS nationkey, COUNT(*) AS n_neg_cust,
      |    CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS cust_debt
      |  FROM customer WHERE c_acctbal < 0 GROUP BY 1),
      |ns AS (
      |  SELECT s_nationkey AS nationkey, COUNT(*) AS n_neg_supp
      |  FROM supplier WHERE s_acctbal < 0 GROUP BY 1)
      |SELECT COALESCE(nc.nationkey, ns.nationkey) AS nationkey,
      |  COALESCE(n_neg_cust, 0) AS n_neg_cust,
      |  COALESCE(cust_debt, 0.0) AS cust_debt,
      |  COALESCE(n_neg_supp, 0) AS n_neg_supp
      |FROM nc FULL OUTER JOIN ns ON nc.nationkey = ns.nationkey
      |ORDER BY nationkey""".stripMargin

  // ---------------------------------------------------------------------
  // q32: correlated EXISTS / NOT EXISTS subqueries through the SQL
  // front-end. Catalyst rewrites both into left-semi/anti joins — the
  // plan is the same join the DataFrame API would produce, which is why
  // this scales: no per-row re-execution of the subquery, one shuffle on
  // the correlation key.
  // ---------------------------------------------------------------------
  def q32(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "customer").createOrReplaceTempView("customer")
    Tables.load(spark, dir, "orders").createOrReplaceTempView("orders")
    spark.sql(
      """SELECT c.c_custkey, c.c_mktsegment
        |FROM customer c
        |WHERE EXISTS (
        |    SELECT 1 FROM orders o
        |    WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM orders o
        |    WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
        |      AND o.o_totalprice < 50000)
        |ORDER BY c.c_custkey""".stripMargin)
  }

  private val q32Sql =
    """SELECT c.c_custkey, c.c_mktsegment
      |FROM customer c
      |WHERE EXISTS (
      |    SELECT 1 FROM orders o
      |    WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
      |  AND NOT EXISTS (
      |    SELECT 1 FROM orders o
      |    WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
      |      AND o.o_totalprice < 50000)
      |ORDER BY c.c_custkey""".stripMargin

  // ---------------------------------------------------------------------
  // q33: exact interpolated percentiles (percentile_cont) per group.
  // l_quantity carries small integral doubles, so lower + (upper-lower)*g
  // is the same IEEE arithmetic on both engines. Scale: exact percentiles
  // need the group's values sorted — Spark runs this as a sort-based
  // aggregate within partitions after a shuffle on the group key; for
  // heavy groups at 100 TB you'd switch to approx_percentile (sketch,
  // mergeable, bounded memory) — q24 covers the sketch path.
  // ---------------------------------------------------------------------
  def q33(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "lineitem").createOrReplaceTempView("lineitem")
    spark.sql(
      """SELECT l_returnflag,
        |  percentile_cont(0.25) WITHIN GROUP (ORDER BY l_quantity) AS p25,
        |  percentile_cont(0.5)  WITHIN GROUP (ORDER BY l_quantity) AS p50,
        |  percentile_cont(0.75) WITHIN GROUP (ORDER BY l_quantity) AS p75,
        |  percentile_cont(0.9)  WITHIN GROUP (ORDER BY l_quantity) AS p90,
        |  COUNT(*) AS n
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)
  }

  private val q33Sql =
    """SELECT l_returnflag,
      |  quantile_cont(l_quantity, 0.25) AS p25,
      |  quantile_cont(l_quantity, 0.5)  AS p50,
      |  quantile_cont(l_quantity, 0.75) AS p75,
      |  quantile_cont(l_quantity, 0.9)  AS p90,
      |  COUNT(*) AS n
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------------
  // q34: unpivot (wide → long) then per-attribute profile. Spark's
  // Dataset.unpivot is a narrow transform (each row expands in place, no
  // shuffle until the aggregate); the oracle expresses the same thing as
  // UNION ALL arms, the portable relational definition of unpivot.
  // ---------------------------------------------------------------------
  def q34(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "part")
      .select($"p_partkey", $"p_size".cast(DoubleType).as("p_size"),
        $"p_retailprice")
      .unpivot(Array($"p_partkey"), Array($"p_size", $"p_retailprice"),
        "attr", "val")
      .groupBy($"attr")
      .agg(count(lit(1)).as("n"),
        min($"val").as("min_val"),
        max($"val").as("max_val"),
        sum($"val".cast(D2)).cast(DoubleType).as("sum_val"))
      .orderBy($"attr")
  }

  private val q34Sql =
    """WITH long_form AS (
      |  SELECT p_partkey, 'p_size' AS attr, CAST(p_size AS DOUBLE) AS val FROM part
      |  UNION ALL
      |  SELECT p_partkey, 'p_retailprice' AS attr, p_retailprice AS val FROM part)
      |SELECT attr, COUNT(*) AS n,
      |  MIN(val) AS min_val,
      |  MAX(val) AS max_val,
      |  CAST(SUM(CAST(val AS DECIMAL(18,2))) AS DOUBLE) AS sum_val
      |FROM long_form
      |GROUP BY attr
      |ORDER BY attr""".stripMargin

  // ---------------------------------------------------------------------
  // q35: ranking-window suite — lag/lead/ntile/rank/dense_rank/
  // percent_rank/cume_dist in one pass over one window spec. One shuffle
  // on the partition key, one sort within; all eight functions share the
  // same WindowExec at any scale. Ties are broken by o_orderkey in the
  // ORDER BY, so every function is deterministic.
  // ---------------------------------------------------------------------
  def q35(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_orderpriority")
      .orderBy($"o_orderdate", $"o_orderkey")
    Tables.load(spark, dir, "orders")
      .filter($"o_totalprice" > 450000)
      .select($"o_orderpriority", $"o_orderkey", $"o_totalprice",
        lag($"o_totalprice", 1).over(w).as("prev_price"),
        lead($"o_totalprice", 1).over(w).as("next_price"),
        ntile(4).over(w).cast(LongType).as("quartile"),
        rank().over(w).cast(LongType).as("rnk"),
        dense_rank().over(w).cast(LongType).as("drnk"),
        percent_rank().over(w).as("prank"),
        cume_dist().over(w).as("cdist"))
      .orderBy($"o_orderpriority", $"rnk")
  }

  private val q35Sql =
    """SELECT o_orderpriority, o_orderkey, o_totalprice,
      |  LAG(o_totalprice, 1) OVER w AS prev_price,
      |  LEAD(o_totalprice, 1) OVER w AS next_price,
      |  NTILE(4) OVER w AS quartile,
      |  RANK() OVER w AS rnk,
      |  DENSE_RANK() OVER w AS drnk,
      |  PERCENT_RANK() OVER w AS prank,
      |  CUME_DIST() OVER w AS cdist
      |FROM orders
      |WHERE o_totalprice > 450000
      |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_orderpriority, rnk""".stripMargin

  // ---------------------------------------------------------------------
  // q36: conditional aggregation — FILTER-style per-predicate counts and
  // sums in a single scan (the DataFrame idiom is agg(fn(when(p, x)))).
  // One pass, map-side partials; the alternative (one scan per predicate)
  // is the anti-pattern this operator exists to avoid at 100 TB.
  // ---------------------------------------------------------------------
  def q36(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "orders")
      .groupBy($"o_orderpriority")
      .agg(
        count(lit(1)).as("n_orders"),
        count(when($"o_orderstatus" === "F", 1)).as("n_finished"),
        count(when($"o_totalprice" > 300000, 1)).as("n_large"),
        sum(when($"o_orderstatus" === "F", $"o_totalprice").cast(D2))
          .cast(DoubleType).as("finished_revenue"),
        (count(when($"o_orderstatus" === "F", 1)).cast(DoubleType) /
          count(lit(1))).as("finished_ratio"))
      .orderBy($"o_orderpriority")
  }

  private val q36Sql =
    """SELECT o_orderpriority,
      |  COUNT(*) AS n_orders,
      |  COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
      |  COUNT(*) FILTER (WHERE o_totalprice > 300000) AS n_large,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (WHERE o_orderstatus = 'F') AS DOUBLE) AS finished_revenue,
      |  CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS DOUBLE) / COUNT(*) AS finished_ratio
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------------
  // q37: multiset set-ops — INTERSECT ALL and EXCEPT ALL preserve
  // duplicate counts (vs q11's distinct variants). The inputs are
  // (priority, status) projections under different predicates; the result
  // re-aggregates so multiplicity is visible in the output. Spark plans
  // both as aggregates + joins on the row value — one shuffle each.
  // ---------------------------------------------------------------------
  def q37(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.load(spark, dir, "orders")
    val early = o.filter($"o_orderdate" < lit("1996-01-01").cast(TimestampType))
      .select($"o_orderpriority", $"o_orderstatus")
    val large = o.filter($"o_totalprice" > 200000)
      .select($"o_orderpriority", $"o_orderstatus")
    val inter = early.intersectAll(large)
      .groupBy($"o_orderpriority", $"o_orderstatus")
      .agg(count(lit(1)).as("n"))
      .withColumn("setop", lit("intersect_all"))
    val except = early.exceptAll(large)
      .groupBy($"o_orderpriority", $"o_orderstatus")
      .agg(count(lit(1)).as("n"))
      .withColumn("setop", lit("except_all"))
    inter.unionByName(except)
      .select($"setop", $"o_orderpriority", $"o_orderstatus", $"n")
      .orderBy($"setop", $"o_orderpriority", $"o_orderstatus")
  }

  private val q37Sql =
    """WITH early AS (
      |  SELECT o_orderpriority, o_orderstatus FROM orders
      |  WHERE o_orderdate < TIMESTAMP '1996-01-01 00:00:00'),
      |large AS (
      |  SELECT o_orderpriority, o_orderstatus FROM orders
      |  WHERE o_totalprice > 200000),
      |i AS (SELECT * FROM early INTERSECT ALL SELECT * FROM large),
      |e AS (SELECT * FROM early EXCEPT ALL SELECT * FROM large),
      |ia AS (
      |  SELECT 'intersect_all' AS setop, o_orderpriority, o_orderstatus, COUNT(*) AS n
      |  FROM i GROUP BY 2, 3),
      |ea AS (
      |  SELECT 'except_all' AS setop, o_orderpriority, o_orderstatus, COUNT(*) AS n
      |  FROM e GROUP BY 2, 3)
      |SELECT setop, o_orderpriority, o_orderstatus, n FROM ia
      |UNION ALL
      |SELECT setop, o_orderpriority, o_orderstatus, n FROM ea
      |ORDER BY setop, o_orderpriority, o_orderstatus""".stripMargin

  // ---------------------------------------------------------------------
  // q39: date/time scalar suite — truncation, extraction, day arithmetic
  // and month deltas over o_orderdate, aggregated per derived bucket.
  // All functions are integer-exact so the oracle is hash-equal; the
  // scan is a narrow projection (2 cols) with the aggregate's shuffle
  // bounded by |buckets|.
  // ---------------------------------------------------------------------
  def q39(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "orders")
      .select(
        year($"o_orderdate").as("yr"),
        quarter($"o_orderdate").as("qtr"),
        month($"o_orderdate").as("mo"),
        dayofweek($"o_orderdate").as("dow"),
        date_trunc("month", $"o_orderdate").as("month_start"),
        datediff(lit("1998-12-31").cast(DateType), $"o_orderdate".cast(DateType))
          .cast(LongType).as("days_to_ref"),
        $"o_totalprice")
      .groupBy($"yr", $"qtr")
      .agg(
        count(lit(1)).as("n"),
        date_format(min($"month_start"), "yyyy-MM-dd").as("first_month"),
        max($"dow").cast(LongType).as("max_dow"),
        min($"days_to_ref").as("min_days_to_ref"),
        sum($"o_totalprice".cast(D2)).cast(DoubleType).as("revenue"))
      .orderBy($"yr", $"qtr")
  }

  private val q39Sql =
    """SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS yr,
      |  CAST(EXTRACT(quarter FROM o_orderdate) AS INTEGER) AS qtr,
      |  COUNT(*) AS n,
      |  strftime(MIN(date_trunc('month', o_orderdate)), '%Y-%m-%d') AS first_month,
      |  CAST(MAX(CASE EXTRACT(dow FROM o_orderdate) WHEN 0 THEN 1 ELSE EXTRACT(dow FROM o_orderdate) + 1 END) AS BIGINT) AS max_dow,
      |  CAST(MIN(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31')) AS BIGINT) AS min_days_to_ref,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders
      |GROUP BY yr, qtr
      |ORDER BY yr, qtr""".stripMargin

  // ---------------------------------------------------------------------
  // q40: salted join — the explicit skew-mitigation pattern. The fact
  // side derives a deterministic salt ∈ [0,8); the dimension side is
  // replicated once per salt value, and the join key becomes
  // (suppkey, salt), spreading any hot supplier across 8 reducer
  // partitions. At 100 TB this (or AQE's skew-join split) is what keeps
  // a hot key from serializing one reducer; the oracle is the unsalted
  // join, proving salting changes the plan, not the result.
  // ---------------------------------------------------------------------
  private val Salts = 8

  def q40(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.load(spark, dir, "lineitem")
      .withColumn("salt", pmod($"l_orderkey" + $"l_linenumber", lit(Salts)))
    val supp = Tables.load(spark, dir, "supplier")
      .withColumn("salt", explode(array((0 until Salts).map(lit): _*)))
    li.join(supp, li("l_suppkey") === supp("s_suppkey") &&
        li("salt") === supp("salt"))
      .groupBy($"s_name")
      .agg(count(lit(1)).as("n_items"),
        sum($"l_quantity".cast(D2)).cast(DoubleType).as("total_qty"))
      .orderBy($"s_name")
  }

  private val q40Sql =
    """SELECT s_name, COUNT(*) AS n_items,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
      |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY s_name
      |ORDER BY s_name""".stripMargin

  // ---------------------------------------------------------------------
  // q42: RANGE-frame window (value-based frame, vs q08's ROWS frame) —
  // per-priority trailing-30-day order count and spend. RANGE frames
  // include all peers of the current order's day, so ties are
  // deterministic by construction. Same WindowExec scale shape as q08:
  // one shuffle on the partition key, one sort.
  // ---------------------------------------------------------------------
  def q42(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val day = datediff($"o_orderdate".cast(DateType),
      lit("1994-01-01").cast(DateType))
    val w = Window.partitionBy($"o_orderpriority").orderBy($"day")
      .rangeBetween(-30, 0)
    Tables.load(spark, dir, "orders")
      .withColumn("day", day)
      .withColumn("n_last_30d", count(lit(1)).over(w))
      .withColumn("spend_last_30d",
        sum($"o_totalprice".cast(D2)).over(w).cast(DoubleType))
      .select($"o_orderpriority", $"o_orderkey", $"day".cast(LongType).as("day"),
        $"n_last_30d", $"spend_last_30d")
      .orderBy($"o_orderpriority", $"o_orderkey")
  }

  private val q42Sql =
    """SELECT o_orderpriority, o_orderkey,
      |  CAST(date_diff('day', DATE '1994-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
      |  COUNT(*) OVER w AS n_last_30d,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS spend_last_30d
      |FROM orders
      |WINDOW w AS (PARTITION BY o_orderpriority
      |  ORDER BY date_diff('day', DATE '1994-01-01', CAST(o_orderdate AS DATE))
      |  RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
      |ORDER BY o_orderpriority, o_orderkey""".stripMargin

  // ---------------------------------------------------------------------
  // q43: JSON → MapType → explode — the dynamic-schema path for payload
  // columns (vs q15's fixed-path extraction): parse `events.props` into
  // a map, explode to (key, value) rows, profile per key. The explode is
  // a narrow generator; the aggregate's shuffle is bounded by |keys|.
  // ---------------------------------------------------------------------
  def q43(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val m = from_json($"props", MapType(StringType, StringType))
    Tables.load(spark, dir, "events")
      .select(explode(m).as(Seq("key", "val")))
      .groupBy($"key")
      .agg(
        count(lit(1)).as("n"),
        min($"val".cast(LongType)).as("min_val"),
        max($"val".cast(LongType)).as("max_val"),
        sum($"val".cast(LongType)).as("sum_val"))
      .orderBy($"key")
  }

  private val q43Sql =
    """WITH kv AS (
      |  SELECT unnest(json_keys(props)) AS key, props FROM events),
      |vals AS (
      |  SELECT key, CAST(json_extract_string(props, '$.' || key) AS BIGINT) AS val
      |  FROM kv)
      |SELECT key, COUNT(*) AS n,
      |  MIN(val) AS min_val,
      |  MAX(val) AS max_val,
      |  CAST(SUM(val) AS BIGINT) AS sum_val
      |FROM vals
      |GROUP BY key
      |ORDER BY key""".stripMargin

  // ---------------------------------------------------------------------
  // q45: approximate percentiles via a fixed 1024-bin histogram — the
  // 100 TB percentile path (exact percentile_cont needs a full sort per
  // group; q24's HLL-style sketches are engine-private). Two narrow
  // aggregation passes: exact per-group min/max/count bounds the bins,
  // then bin counts + a cumulative window pick the bin whose lower bound
  // is the estimate. Bin membership uses one shared double expression
  // and the quantile thresholds are PURE INTEGER comparisons
  // (cum*2 >= n, cum*20 >= 19n), so the result is hash-exact vs DuckDB.
  // Error is bounded by (max-min)/1024 per group.
  // ---------------------------------------------------------------------
  def q45(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // NULL guard pinned on both engines: a NULL value would otherwise
    // produce a NULL bin whose window ordering differs (Spark NULLS
    // FIRST vs DuckDB NULLS LAST), shifting every cumulative count
    val ev = Tables.load(spark, dir, "events")
      .select($"event_type", $"value")
      .filter($"value".isNotNull)
    val stats = ev.groupBy($"event_type").agg(
      min($"value").as("mn"), max($"value").as("mx"), count(lit(1)).as("n"))
    val binned = ev.join(stats, "event_type")
      .withColumn("bin", when($"mx" === $"mn", lit(0L))
        .otherwise(least(
          floor((($"value" - $"mn") / ($"mx" - $"mn")) * 1024.0), lit(1023L))
          .cast(LongType)))
      .groupBy($"event_type", $"bin").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy($"event_type").orderBy($"bin")
    val cums = binned.withColumn("cum", sum($"c").over(w))
    cums.join(stats, "event_type")
      .groupBy($"event_type", $"mn", $"mx", $"n")
      .agg(
        min(when($"cum" * 2 >= $"n", $"bin")).as("b50"),
        min(when($"cum" * 20 >= $"n" * 19, $"bin")).as("b95"))
      .select($"event_type", $"n",
        ($"mn" + ($"b50".cast(DoubleType) * ($"mx" - $"mn")) / 1024.0).as("p50_approx"),
        ($"mn" + ($"b95".cast(DoubleType) * ($"mx" - $"mn")) / 1024.0).as("p95_approx"))
      .orderBy($"event_type")
  }

  private val q45Sql =
    """WITH ev AS (SELECT event_type, value FROM events WHERE value IS NOT NULL),
      |stats AS (
      |  SELECT event_type, MIN(value) AS mn, MAX(value) AS mx, COUNT(*) AS n
      |  FROM ev GROUP BY 1),
      |binned AS (
      |  SELECT e.event_type,
      |    CASE WHEN s.mx = s.mn THEN 0
      |      ELSE CAST(LEAST(FLOOR(((e.value - s.mn) / (s.mx - s.mn)) * 1024.0),
      |                      1023) AS BIGINT) END AS bin,
      |    COUNT(*) AS c
      |  FROM ev e JOIN stats s USING (event_type)
      |  GROUP BY 1, 2),
      |cums AS (
      |  SELECT event_type, bin,
      |    SUM(c) OVER (PARTITION BY event_type ORDER BY bin) AS cum
      |  FROM binned),
      |picks AS (
      |  SELECT c.event_type,
      |    MIN(CASE WHEN cum * 2 >= s.n THEN bin END) AS b50,
      |    MIN(CASE WHEN cum * 20 >= s.n * 19 THEN bin END) AS b95
      |  FROM cums c JOIN stats s USING (event_type)
      |  GROUP BY 1)
      |SELECT p.event_type, s.n,
      |  s.mn + (CAST(b50 AS DOUBLE) * (s.mx - s.mn)) / 1024.0 AS p50_approx,
      |  s.mn + (CAST(b95 AS DOUBLE) * (s.mx - s.mn)) / 1024.0 AS p95_approx
      |FROM picks p JOIN stats s USING (event_type)
      |ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------------
  // q47: runtime BLOOM-FILTER join pruning — the 100 TB fact-pruning
  // pattern: a selective dimension filter (p_brand = 'Brand#12', ~1.3%
  // of part) is turned by Catalyst's InjectRuntimeFilter rule into a
  // bloom_filter_agg on the dim side whose bloom is evaluated as a
  // might_contain predicate on the FACT side *before* its shuffle — so
  // at scale the exchange moves ~1.3% of lineitem instead of all of it.
  // Nothing is hand-built: the declarative join is enough once the
  // bloom-filter rule is on; the rule's thresholds are tuned for real
  // clusters (10 GB application-side scans), so at test SF they are
  // scoped down inside this query and restored after. The physical-plan
  // shape (bloom built on dim, probed below the fact shuffle) is
  // asserted in PlanSpec; correctness oracle is the plain join SQL —
  // bloom false positives cannot leak rows because the exact join still
  // runs behind the probe.
  // ---------------------------------------------------------------------
  private[graft] def q47Join(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.load(spark, dir, "lineitem")
    val part = Tables.load(spark, dir, "part").filter($"p_brand" === "Brand#12")
    val discPrice = ($"l_extendedprice".cast(D2) *
      (lit(1).cast(D2) - $"l_discount".cast(D2))).cast(DecimalType(18, 4))
    li.join(part, $"l_partkey" === $"p_partkey")
      .groupBy($"p_size")
      .agg(count(lit(1)).as("n_items"),
        sum(discPrice).cast(DoubleType).as("revenue"))
      .orderBy($"p_size")
  }

  /** Confs that make InjectRuntimeFilter fire at test SF; production
    * defaults (10 GB application-side threshold) already fire at 100 TB. */
  private[graft] val q47Confs = Seq(
    "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
    // force the shuffle join the runtime filter exists to prune; with
    // broadcast available at toy SF the rule (correctly) stays out
    "spark.sql.autoBroadcastJoinThreshold" -> "-1")

  def q47(spark: SparkSession, dir: String): DataFrame = {
    // Optimizer confs only affect plans *created* while they are set, so
    // the plan is materialized eagerly inside the conf scope (q44's
    // pattern) — the driver's later write of the returned frame must not
    // depend on session state this query already restored. The collect
    // is bounded: one row per distinct p_size (≤ 50).
    val prev = q47Confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    q47Confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val df = q47Join(spark, dir)
      spark.createDataFrame(
        spark.sparkContext.parallelize(df.collect().toIndexedSeq, 1),
        df.schema)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  private val q47Sql =
    """SELECT p_size, COUNT(*) AS n_items,
      |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE p_brand = 'Brand#12'
      |GROUP BY p_size
      |ORDER BY p_size""".stripMargin

  // ---------------------------------------------------------------------
  // q48: Z-ORDER layout clustering — the 100 TB data-layout decision
  // made measurable. Interleaving the bits of (l_partkey, l_suppkey)
  // into one Morton key and tiling files by its prefix bounds BOTH
  // dimensions inside every file, so min/max file statistics prune scans
  // for predicates on EITHER column; a linear partkey sort gives perfect
  // partkey spans but every file covers the full suppkey range. The
  // query computes per-file (min,max) spans under both layouts and
  // emits the two summary rows side by side — the exact numbers a table
  // optimizer would use to choose a clustering. Everything is integer
  // arithmetic (bit tests as shifts/masks both engines share), one
  // narrow projection + one groupBy per layout; the file assignment is
  // a pure map (zkey prefix = spatial tile), NOT a global sort — at
  // scale the write is repartitionByRange(zkey) + sortWithinPartitions
  // and this query is its costing model.
  // ---------------------------------------------------------------------
  def q48(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val partBits = 11 // l_partkey < 2^11 per TESTDATA generator
    val suppBits = 7  // l_suppkey < 2^7
    val zkey = ((0 until partBits).map(i =>
        shiftleft(shiftright($"l_partkey", i).bitwiseAND(1), 2 * i)) ++
      (0 until suppBits).map(i =>
        shiftleft(shiftright($"l_suppkey", i).bitwiseAND(1), 2 * i + 1)))
      .reduce(_ + _)
    val base = Tables.load(spark, dir, "lineitem")
      .select($"l_partkey", $"l_suppkey", zkey.as("zkey"))
    def layout(name: String, fileId: org.apache.spark.sql.Column): DataFrame =
      base.groupBy(fileId.as("file_id"))
        .agg((max($"l_partkey") - min($"l_partkey")).as("span_p"),
          (max($"l_suppkey") - min($"l_suppkey")).as("span_s"))
        .agg(count(lit(1)).as("n_files"),
          sum($"span_p").as("sum_part_span"),
          sum($"span_s").as("sum_supp_span"),
          max($"span_p").as("max_part_span"),
          max($"span_s").as("max_supp_span"))
        .select(lit(name).as("layout"), $"n_files", $"sum_part_span",
          $"sum_supp_span", $"max_part_span", $"max_supp_span")
    // zkey >> 10 frees 5 partkey + 5 suppkey low bits per tile (spans
    // ≤ 31 in BOTH dims); partkey >> 3 is the equal-file-count linear
    // clustering (~250 files each at any SF)
    layout("linear", shiftright($"l_partkey", 3))
      .unionAll(layout("zorder", shiftright($"zkey", 10)))
      .orderBy($"layout")
  }

  private def q48Sql: String = {
    val zkey = ((0 until 11).map(i => s"(((l_partkey >> $i) & 1) << ${2 * i})") ++
      (0 until 7).map(i => s"(((l_suppkey >> $i) & 1) << ${2 * i + 1})"))
      .mkString(" + ")
    def layoutSql(name: String, fileId: String) =
      s"""SELECT '$name' AS layout, COUNT(*) AS n_files,
         |  CAST(SUM(span_p) AS BIGINT) AS sum_part_span,
         |  CAST(SUM(span_s) AS BIGINT) AS sum_supp_span,
         |  CAST(MAX(span_p) AS BIGINT) AS max_part_span,
         |  CAST(MAX(span_s) AS BIGINT) AS max_supp_span
         |FROM (
         |  SELECT $fileId AS file_id,
         |    MAX(l_partkey) - MIN(l_partkey) AS span_p,
         |    MAX(l_suppkey) - MIN(l_suppkey) AS span_s
         |  FROM keyed GROUP BY file_id)""".stripMargin
    s"""WITH keyed AS (
       |  SELECT l_partkey, l_suppkey, $zkey AS zkey FROM lineitem)
       |${layoutSql("linear", "l_partkey >> 3")}
       |UNION ALL
       |${layoutSql("zorder", "zkey >> 10")}
       |ORDER BY layout""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q49: RECURSIVE CTE — hierarchy traversal through Spark 4's own
  // recursive-CTE executor (UnionLoop), the SQL-frontier surface a
  // DataFrame API can't express: each supplier's ancestor chain in the
  // implicit binary parent tree `parent(s) = s DIV 2`, rolled up into
  // depth + chain account-balance. The recursion is a strictly
  // decreasing walk, so UNION ALL terminates without any hop cap (Spark
  // does not yet allow UNION-distinct recursion, which rules out cyclic
  // closures — d06's iterative loop remains the connected-components
  // path; this query covers the acyclic-hierarchy operator class:
  // org charts, bill-of-materials, category trees). Scale: the executor
  // runs one keyed join per level — log₂(N) levels for this tree — each
  // a plain shuffle join; state between levels is the frontier only.
  // ---------------------------------------------------------------------
  def q49(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "supplier").createOrReplaceTempView("q49_supplier")
    spark.sql(
      """WITH RECURSIVE anc(id, a) AS (
        |  SELECT s_suppkey, s_suppkey FROM q49_supplier
        |  UNION ALL
        |  SELECT id, a DIV 2 FROM anc WHERE a > 0
        |)
        |SELECT anc.id AS s_suppkey, CAST(COUNT(*) - 1 AS BIGINT) AS depth,
        |  CAST(SUM(CAST(s.s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS chain_acctbal
        |FROM anc JOIN q49_supplier s ON anc.a = s.s_suppkey
        |GROUP BY anc.id
        |ORDER BY s_suppkey""".stripMargin)
  }

  private val q49Sql =
    """WITH RECURSIVE anc(id, a) AS (
      |  SELECT s_suppkey, s_suppkey FROM supplier
      |  UNION ALL
      |  SELECT id, a // 2 FROM anc WHERE a > 0
      |)
      |SELECT anc.id AS s_suppkey, CAST(COUNT(*) - 1 AS BIGINT) AS depth,
      |  CAST(SUM(CAST(s.s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS chain_acctbal
      |FROM anc JOIN supplier s ON anc.a = s.s_suppkey
      |GROUP BY anc.id
      |ORDER BY s_suppkey""".stripMargin

  // ---------------------------------------------------------------------
  // q50: EXACT moment statistics — variance, stddev, correlation. The
  // built-in float aggregates (var_samp/corr) partial-aggregate doubles,
  // so their results depend on partition merge order — fine for BI,
  // fatal for a hash-verified gate and for any 100 TB job that must be
  // bit-reproducible across retries. The deterministic formulation:
  // accumulate the power/cross sums Σx, Σx², Σy, Σy², Σxy EXACTLY as
  // decimals (map-side combinable, order-independent by exactness), and
  // apply the closed forms in IEEE doubles once at the end — decimal →
  // double conversion is exact here (≤ 10¹³ ≪ 2⁵³), and sqrt is
  // correctly rounded, so both engines produce the same bits.
  // ---------------------------------------------------------------------
  def q50(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val DS = DecimalType(38, 6)
    val x = $"l_quantity".cast(DecimalType(18, 2))
    val y = $"l_discount".cast(DecimalType(18, 2))
    val sums = Tables.load(spark, dir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(x.cast(DS)).as("sx"), sum((x * x).cast(DS)).as("sxx"),
        sum(y.cast(DS)).as("sy"), sum((y * y).cast(DS)).as("syy"),
        sum((x * y).cast(DS)).as("sxy"))
    val n = $"n".cast(DoubleType)
    val (sx, sxx, sy, syy, sxy) = ($"sx".cast(DoubleType),
      $"sxx".cast(DoubleType), $"sy".cast(DoubleType),
      $"syy".cast(DoubleType), $"sxy".cast(DoubleType))
    val varX = (n * sxx - sx * sx) / (n * (n - lit(1.0)))
    val covXY = (n * sxy - sx * sy) / (n * (n - lit(1.0)))
    val corr = (n * sxy - sx * sy) /
      sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    sums.select($"l_returnflag", $"n",
        (sx / n).as("mean_qty"), varX.as("var_qty"),
        sqrt(varX).as("stddev_qty"), covXY.as("cov_qty_disc"),
        corr.as("corr_qty_disc"))
      .orderBy($"l_returnflag")
  }

  private val q50Sql =
    """WITH sums AS (
      |  SELECT l_returnflag, COUNT(*) AS n,
      |    SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(38,6))) AS sx,
      |    SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(38,6))) AS sxx,
      |    SUM(CAST(CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(38,6))) AS sy,
      |    SUM(CAST(CAST(l_discount AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(38,6))) AS syy,
      |    SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(38,6))) AS sxy
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag, n,
      |  CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean_qty,
      |  (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |    / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) AS var_qty,
      |  sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |    / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) AS stddev_qty,
      |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |    / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) AS cov_qty_disc,
      |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |    / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |      * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS corr_qty_disc
      |FROM sums
      |ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------------
  // q51: correlated LATERAL join — the per-row-subquery operator class:
  // for every nation, the top-2 suppliers by balance, expressed as a
  // dependent subquery in the FROM clause rather than a window + filter
  // (q07's formulation of the same semantics). Spark plans the
  // correlation with DecorrelateInnerQuery into a ranked join — no
  // per-row re-execution — so the declarative form keeps the window
  // plan's scale behavior while matching the SQL surface users migrate
  // in with (DuckDB/Postgres LATERAL).
  // ---------------------------------------------------------------------
  def q51(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "nation").createOrReplaceTempView("q51_nation")
    Tables.load(spark, dir, "supplier").createOrReplaceTempView("q51_supplier")
    spark.sql(
      """SELECT n_name, s.s_name, s.s_acctbal
        |FROM q51_nation n JOIN LATERAL (
        |  SELECT s_name, s_acctbal FROM q51_supplier
        |  WHERE s_nationkey = n.n_nationkey
        |  ORDER BY s_acctbal DESC, s_name LIMIT 2) s
        |ORDER BY n_name, s.s_acctbal DESC, s.s_name""".stripMargin)
  }

  private val q51Sql =
    """SELECT n_name, s.s_name, s.s_acctbal
      |FROM nation n JOIN LATERAL (
      |  SELECT s_name, s_acctbal FROM supplier
      |  WHERE s_nationkey = n.n_nationkey
      |  ORDER BY s_acctbal DESC, s_name LIMIT 2) s ON TRUE
      |ORDER BY n_name, s.s_acctbal DESC, s.s_name""".stripMargin

  // ---------------------------------------------------------------------
  // q52: DYNAMIC partition pruning — the partitioned-table counterpart
  // of q47's row-level bloom: at 100 TB fact tables are laid out as
  // date/month partitions, and a selective dimension filter must prune
  // PARTITIONS (skip whole directories) at runtime, not just rows.
  // The query materializes a ship-month-partitioned copy of lineitem
  // (scratch stand-in for the production layout), joins it to a
  // 3-month dim derived with a selective filter, and aggregates.
  // Catalyst inserts a dynamicpruning#N subquery into the scan's
  // PartitionFilters (asserted in PlanSpec): the fact scan reads 3 of
  // ~84 month directories. Oracle = the same SQL on the unpartitioned
  // table — pruning must never change results.
  // ---------------------------------------------------------------------
  private[graft] def q52Fact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val path = graft.Scratch.dir("q52_part_lineitem")
    Tables.load(spark, dir, "lineitem")
      .withColumn("ship_month", date_format($"l_shipdate", "yyyy-MM"))
      .write.partitionBy("ship_month").parquet(path)
    spark.read.parquet(path)
  }

  private[graft] def q52Join(spark: SparkSession, dir: String,
      fact: DataFrame): DataFrame = {
    import spark.implicits._
    // dim: the 3 months around 1995-06 (selective filter on a tiny side)
    val months = Tables.load(spark, dir, "lineitem")
      .select(date_format($"l_shipdate", "yyyy-MM").as("month")).distinct()
      .filter($"month" >= "1995-05" && $"month" <= "1995-07")
    fact.join(broadcast(months), $"ship_month" === $"month")
      .groupBy($"ship_month")
      .agg(count(lit(1)).as("n_items"),
        sum($"l_quantity".cast(D2)).cast(DoubleType).as("sum_qty"))
      .orderBy($"ship_month")
  }

  def q52(spark: SparkSession, dir: String): DataFrame =
    q52Join(spark, dir, q52Fact(spark, dir))

  private val q52Sql =
    """SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
      |  COUNT(*) AS n_items,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |WHERE strftime(l_shipdate, '%Y-%m') >= '1995-05'
      |  AND strftime(l_shipdate, '%Y-%m') <= '1995-07'
      |GROUP BY ship_month
      |ORDER BY ship_month""".stripMargin

  val queries: ListMap[String, (SparkSession, String) => DataFrame] = ListMap(
    "q31_outer_join" -> (q31 _),
    "q32_exists_subquery" -> (q32 _),
    "q33_percentiles" -> (q33 _),
    "q34_unpivot" -> (q34 _),
    "q35_window_suite" -> (q35 _),
    "q36_conditional_agg" -> (q36 _),
    "q37_setops_all" -> (q37 _),
    "q39_date_funcs" -> (q39 _),
    "q40_salted_join" -> (q40 _),
    "q42_range_frame" -> (q42 _),
    "q43_map_ops" -> (q43 _),
    "q45_approx_percentile" -> (q45 _),
    "q47_bloom_join" -> (q47 _),
    "q48_zorder_layout" -> (q48 _),
    "q49_recursive_cte" -> (q49 _),
    "q50_exact_stats" -> (q50 _),
    "q51_lateral_topk" -> (q51 _),
    "q52_dynamic_pruning" -> (q52 _))

  val oracle: ListMap[String, String] = ListMap(
    "q31_outer_join" -> q31Sql,
    "q32_exists_subquery" -> q32Sql,
    "q33_percentiles" -> q33Sql,
    "q34_unpivot" -> q34Sql,
    "q35_window_suite" -> q35Sql,
    "q36_conditional_agg" -> q36Sql,
    "q37_setops_all" -> q37Sql,
    "q39_date_funcs" -> q39Sql,
    "q40_salted_join" -> q40Sql,
    "q42_range_frame" -> q42Sql,
    "q43_map_ops" -> q43Sql,
    "q45_approx_percentile" -> q45Sql,
    "q47_bloom_join" -> q47Sql,
    "q48_zorder_layout" -> q48Sql,
    "q49_recursive_cte" -> q49Sql,
    "q50_exact_stats" -> q50Sql,
    "q51_lateral_topk" -> q51Sql,
    "q52_dynamic_pruning" -> q52Sql)
}
