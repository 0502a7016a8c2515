package graft.queries

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** The relational query inventory (SURVEY.md §2.B): the full Spark SQL
  * surface induced by the reference codec (joins, aggregations, windows,
  * set ops, scalar functions, JSON, grouping sets, as-of), each with a
  * DuckDB oracle.
  *
  * Cross-engine exactness strategy: every floating-point aggregate is
  * computed over `DECIMAL(18,2)` casts (testdata money columns carry 2
  * decimals), so both engines sum exactly; the final cast back to DOUBLE is
  * deterministic nearest-double in both. Averages are `CAST(sum AS
  * DOUBLE)/count` so the only float op is one identical IEEE division.
  * Every query ends in a total ORDER BY so row order is reproducible.
  *
  * Scale notes are per-query in the Scaladoc: which side broadcasts, where
  * the shuffles are, and why the plan survives 100 TB.
  */
object Relational {

  private val D2 = DecimalType(18, 2)
  private def d2(c: Column): Column = c.cast(D2)
  /** Exact sum of a 2-decimal money column, surfaced as double. */
  private def sumMoney(c: Column): Column = sum(d2(c)).cast(DoubleType)
  /** price * (1 - discount), exact at scale 4. */
  private def discPrice(price: Column, disc: Column): Column =
    (d2(price) * (lit(1).cast(D2) - d2(disc))).cast(DecimalType(18, 4))

  // ---------------------------------------------------------------------
  // q01: TPC-H Q1-shaped pricing summary — filter + hash aggregate.
  // Scale: map-side partial aggregation into 6 groups; the shuffle moves
  // only |groups| * |aggs| rows regardless of input size. Filter and the
  // 7-column projection push into the parquet scan.
  // ---------------------------------------------------------------------
  def q01(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.load(spark, dir, "lineitem")
    val dp = discPrice($"l_extendedprice", $"l_discount")
    val charge = (dp * (lit(1).cast(D2) + d2($"l_tax"))).cast(DecimalType(18, 6))
    li.filter($"l_shipdate" <= lit("1998-09-02").cast(TimestampType))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        sum(d2($"l_quantity")).cast(DoubleType).as("sum_qty"),
        sumMoney($"l_extendedprice").as("sum_base_price"),
        sum(dp).cast(DoubleType).as("sum_disc_price"),
        sum(charge).cast(DoubleType).as("sum_charge"),
        (sum(d2($"l_quantity")).cast(DoubleType) / count(lit(1))).as("avg_qty"),
        (sum(d2($"l_extendedprice")).cast(DoubleType) / count(lit(1))).as("avg_price"),
        (sum(d2($"l_discount")).cast(DoubleType) / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  private val q01Sql =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
      |  CAST(SUM(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2))) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
      |  CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------------
  // q02: TPC-H Q6-shaped selective scan — all three predicates and the
  // 3-column projection push down to parquet (PushedFilters in explain);
  // at 100 TB this reads a fraction of the data and shuffles one row.
  // ---------------------------------------------------------------------
  def q02(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "lineitem")
      .filter($"l_shipdate" >= lit("1996-01-01").cast(TimestampType) &&
        $"l_shipdate" < lit("1997-01-01").cast(TimestampType) &&
        $"l_discount" >= 0.05 && $"l_discount" <= 0.07 && $"l_quantity" < 24)
      .agg(
        sum((d2($"l_extendedprice") * d2($"l_discount")).cast(DecimalType(18, 4)))
          .cast(DoubleType).as("revenue"),
        count(lit(1)).as("n_rows"))
  }

  private val q02Sql =
    """SELECT
      |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_rows
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""".stripMargin

  // ---------------------------------------------------------------------
  // q03: dimension hash join — `part` grows linearly with scale factor,
  // so the broadcast decision is left to AQE/CBO (autoBroadcastJoinThreshold):
  // small at test scale → broadcast hash join, no fact shuffle; at 100 TB,
  // past the threshold → shuffle join (or route through the q29 bucketed
  // layout). A forced broadcast() hint here would OOM at scale.
  // ---------------------------------------------------------------------
  def q03(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.load(spark, dir, "lineitem")
    val part = Tables.load(spark, dir, "part")
    li.join(part, $"l_partkey" === $"p_partkey")
      .groupBy($"p_brand")
      .agg(
        sum(discPrice($"l_extendedprice", $"l_discount")).cast(DoubleType).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy($"p_brand")
  }

  private val q03Sql =
    """SELECT p_brand,
      |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_items
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY p_brand
      |ORDER BY p_brand""".stripMargin

  // ---------------------------------------------------------------------
  // q04: 5-way star join (TPC-H Q5-shaped) — revenue by region/nation.
  // Scale: lineitem⋈orders is the only big-big join (shuffle on orderkey,
  // AQE handles skew); the orderdate filter prunes orders early. customer
  // grows with scale factor, so its join strategy is AQE's call (broadcast
  // below the threshold, shuffle past it) — only the fixed-cardinality
  // nation (25) and region (5) keep explicit broadcast hints. At ×10
  // (SURVEY §6) AQE still broadcasts the filtered orders AND customer
  // (plan identical to sf0.1, warm ratio 1.21×); the true at-scale
  // shape — both big joins shuffling, only the hinted dims broadcast —
  // is asserted in PlanSpec under auto-broadcast off.
  // ---------------------------------------------------------------------
  def q04(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.load(spark, dir, "lineitem")
    val orders = Tables.load(spark, dir, "orders")
      .filter($"o_orderdate" >= lit("1996-01-01").cast(TimestampType) &&
        $"o_orderdate" < lit("1998-01-01").cast(TimestampType))
    val cust = Tables.load(spark, dir, "customer")
    val nation = Tables.load(spark, dir, "nation")
    val region = Tables.load(spark, dir, "region")
    li.join(orders, $"l_orderkey" === $"o_orderkey")
      .join(cust, $"o_custkey" === $"c_custkey")
      .join(broadcast(nation), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(region), $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name", $"n_name")
      .agg(
        sum(discPrice($"l_extendedprice", $"l_discount")).cast(DoubleType).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy($"r_name", $"n_name")
  }

  private val q04Sql =
    """SELECT r_name, n_name,
      |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY r_name, n_name
      |ORDER BY r_name, n_name""".stripMargin

  // ---------------------------------------------------------------------
  // q05: left-semi join (EXISTS) — customers with a finished order, per
  // market segment. Semi joins ship only the join key of the right side.
  // ---------------------------------------------------------------------
  def q05(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cust = Tables.load(spark, dir, "customer")
    val finished = Tables.load(spark, dir, "orders").filter($"o_orderstatus" === "F")
    cust.join(finished, $"c_custkey" === $"o_custkey", "left_semi")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_customers"))
      .orderBy($"c_mktsegment")
  }

  private val q05Sql =
    """SELECT c_mktsegment, COUNT(*) AS n_customers
      |FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  // ---------------------------------------------------------------------
  // q06: left-anti join (NOT EXISTS) — parts never ordered at max
  // quantity, per type (the filter keeps the anti side selective so the
  // query returns a non-trivial result at every SF).
  // ---------------------------------------------------------------------
  def q06(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val part = Tables.load(spark, dir, "part")
    val li = Tables.load(spark, dir, "lineitem").filter($"l_quantity" >= 49)
    part.join(li, $"p_partkey" === $"l_partkey", "left_anti")
      .groupBy($"p_type")
      .agg(count(lit(1)).as("n_parts"))
      .orderBy($"p_type")
  }

  private val q06Sql =
    """SELECT p_type, COUNT(*) AS n_parts
      |FROM part
      |WHERE NOT EXISTS (SELECT 1 FROM lineitem
      |  WHERE l_partkey = p_partkey AND l_quantity >= 49)
      |GROUP BY p_type
      |ORDER BY p_type""".stripMargin

  // ---------------------------------------------------------------------
  // q07: top-k per group via ranking window — top-3 orders per customer.
  // Scale: one shuffle on the partition key; ties broken by orderkey so
  // the result is total-ordered and reproducible.
  // ---------------------------------------------------------------------
  def q07(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val orders = Tables.load(spark, dir, "orders")
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
    orders.withColumn("rn", row_number().over(w).cast(LongType))
      .filter($"rn" <= 3)
      .select($"o_custkey", $"rn", $"o_orderkey", $"o_totalprice")
      .orderBy($"o_custkey", $"rn")
  }

  private val q07Sql =
    """SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      |  FROM orders) t
      |WHERE rn <= 3
      |ORDER BY o_custkey, rn""".stripMargin

  // ---------------------------------------------------------------------
  // q08: running/frame windows + lag — cumulative spend per customer and
  // days since previous order. Exact: the running sum accumulates
  // DECIMAL and surfaces double per row.
  // ---------------------------------------------------------------------
  def q08(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val orders = Tables.load(spark, dir, "orders")
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
    orders
      .withColumn("running_spend",
        sum(d2($"o_totalprice")).over(w.rowsBetween(Window.unboundedPreceding, 0))
          .cast(DoubleType))
      .withColumn("days_since_prev",
        datediff($"o_orderdate", lag($"o_orderdate", 1).over(w)).cast(IntegerType))
      .select($"o_custkey", $"o_orderkey", $"running_spend", $"days_since_prev")
      .orderBy($"o_custkey", $"o_orderkey")
  }

  private val q08Sql =
    """SELECT o_custkey, o_orderkey,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend,
      |  CAST(date_diff('day', LAG(o_orderdate, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), o_orderdate) AS INTEGER) AS days_since_prev
      |FROM orders
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  // ---------------------------------------------------------------------
  // q09: global top-k — Spark plans TakeOrderedAndProject: each partition
  // keeps its local top-10, the driver merges; no full sort at any scale.
  // ---------------------------------------------------------------------
  def q09(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
      .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
      .limit(10)
  }

  private val q09Sql =
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey ASC
      |LIMIT 10""".stripMargin

  // ---------------------------------------------------------------------
  // q10: distinct aggregates — exact COUNT(DISTINCT) expands to a
  // two-phase aggregate in Spark (no driver materialization).
  // ---------------------------------------------------------------------
  def q10(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(
        countDistinct($"l_partkey").as("n_parts"),
        countDistinct($"l_suppkey").as("n_supps"),
        sumDistinct(d2($"l_quantity")).cast(DoubleType).as("sum_distinct_qty"),
        count(lit(1)).as("n_rows"))
      .orderBy($"l_returnflag")
  }

  private val q10Sql =
    """SELECT l_returnflag,
      |  COUNT(DISTINCT l_partkey) AS n_parts,
      |  COUNT(DISTINCT l_suppkey) AS n_supps,
      |  CAST(SUM(DISTINCT CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_distinct_qty,
      |  COUNT(*) AS n_rows
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------------
  // q11: set operations — symmetric difference of urgent-order customers
  // vs low-priority-order customers: (A ∪ B) \ (A ∩ B), all distinct-set
  // semantics, matching SQL UNION/INTERSECT/EXCEPT.
  // ---------------------------------------------------------------------
  def q11(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val orders = Tables.load(spark, dir, "orders")
    val a = orders.filter($"o_orderpriority" === "1-URGENT").select($"o_custkey")
    val b = orders.filter($"o_orderpriority" === "5-LOW").select($"o_custkey")
    a.union(b).except(a.intersect(b)).orderBy($"o_custkey")
  }

  private val q11Sql =
    """(SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
      | UNION
      | SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW')
      |EXCEPT
      |(SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
      | INTERSECT
      | SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW')
      |ORDER BY o_custkey""".stripMargin

  // ---------------------------------------------------------------------
  // q12: ROLLUP — subtotal levels coalesced to 'ALL' (testdata has no real
  // nulls, so the marker is unambiguous and avoids engine null-ordering
  // differences).
  // ---------------------------------------------------------------------
  def q12(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "lineitem")
      .rollup($"l_returnflag", $"l_linestatus")
      .agg(sum(d2($"l_quantity")).cast(DoubleType).as("sum_qty"),
        count(lit(1)).as("n_rows"))
      .select(coalesce($"l_returnflag", lit("ALL")).as("returnflag"),
        coalesce($"l_linestatus", lit("ALL")).as("linestatus"),
        $"sum_qty", $"n_rows")
      .orderBy($"returnflag", $"linestatus")
  }

  private val q12Sql =
    """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
      |  COALESCE(l_linestatus, 'ALL') AS linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  COUNT(*) AS n_rows
      |FROM lineitem
      |GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY returnflag, linestatus""".stripMargin

  // ---------------------------------------------------------------------
  // q13: CUBE over order status × priority.
  // ---------------------------------------------------------------------
  def q13(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "orders")
      .cube($"o_orderstatus", $"o_orderpriority")
      .agg(sumMoney($"o_totalprice").as("sum_price"), count(lit(1)).as("n_orders"))
      .select(coalesce($"o_orderstatus", lit("ALL")).as("status"),
        coalesce($"o_orderpriority", lit("ALL")).as("priority"),
        $"sum_price", $"n_orders")
      .orderBy($"status", $"priority")
  }

  private val q13Sql =
    """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
      |  COALESCE(o_orderpriority, 'ALL') AS priority,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |  COUNT(*) AS n_orders
      |FROM orders
      |GROUP BY CUBE (o_orderstatus, o_orderpriority)
      |ORDER BY status, priority""".stripMargin

  // ---------------------------------------------------------------------
  // q14: scalar function surface — string/date/math, all codegen'd
  // built-ins (no UDFs), sampled deterministically by key modulus.
  // ---------------------------------------------------------------------
  def q14(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "orders")
      .filter($"o_orderkey" % 97 === 0)
      .select(
        $"o_orderkey",
        year($"o_orderdate").as("order_year"),
        month($"o_orderdate").as("order_month"),
        upper($"o_orderpriority").as("prio_upper"),
        substring($"o_orderpriority", 1, 1).as("prio_code"),
        length($"o_orderpriority").as("prio_len"),
        concat($"o_orderstatus", lit("-"), $"o_orderpriority").as("status_prio"),
        abs($"o_totalprice").as("abs_price"),
        floor($"o_totalprice").cast(LongType).as("floor_price"),
        ceil($"o_totalprice").cast(LongType).as("ceil_price"))
      .orderBy($"o_orderkey")
  }

  private val q14Sql =
    """SELECT o_orderkey,
      |  CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS order_year,
      |  CAST(EXTRACT(MONTH FROM o_orderdate) AS INTEGER) AS order_month,
      |  UPPER(o_orderpriority) AS prio_upper,
      |  SUBSTRING(o_orderpriority, 1, 1) AS prio_code,
      |  CAST(LENGTH(o_orderpriority) AS INTEGER) AS prio_len,
      |  o_orderstatus || '-' || o_orderpriority AS status_prio,
      |  ABS(o_totalprice) AS abs_price,
      |  CAST(FLOOR(o_totalprice) AS BIGINT) AS floor_price,
      |  CAST(CEIL(o_totalprice) AS BIGINT) AS ceil_price
      |FROM orders
      |WHERE o_orderkey % 97 = 0
      |ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------------
  // q15: JSON extraction over events.props (semi-structured payload).
  // get_json_object is codegen'd; at scale this stays in the scan stage.
  // ---------------------------------------------------------------------
  def q15(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "events")
      .withColumn("k", get_json_object($"props", "$.k").cast(IntegerType))
      .groupBy($"event_type")
      .agg(sum($"k").as("sum_k"), min($"k").as("min_k"), max($"k").as("max_k"),
        count(lit(1)).as("n_events"))
      .orderBy($"event_type")
  }

  private val q15Sql =
    """SELECT event_type,
      |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
      |  MIN(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS min_k,
      |  MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k,
      |  COUNT(*) AS n_events
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------------
  // q16: aggregate + HAVING — nations with more than 3 customers.
  // ---------------------------------------------------------------------
  def q16(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cust = Tables.load(spark, dir, "customer")
    val nation = Tables.load(spark, dir, "nation")
    cust.join(broadcast(nation), $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(count(lit(1)).as("n_customers"),
        sumMoney($"c_acctbal").as("sum_balance"))
      .filter($"n_customers" > 3)
      .orderBy($"n_name")
  }

  private val q16Sql =
    """SELECT n_name, COUNT(*) AS n_customers,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_balance
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name
      |HAVING COUNT(*) > 3
      |ORDER BY n_name""".stripMargin

  // ---------------------------------------------------------------------
  // q17: scalar subquery — parts above global average retail price. The
  // average is computed with the exact decimal formula on both sides so
  // the comparison threshold is bit-identical.
  // ---------------------------------------------------------------------
  def q17(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val part = Tables.load(spark, dir, "part")
    val avgDf = part.agg(
      (sum(d2($"p_retailprice")).cast(DoubleType) / count(lit(1))).as("avg_price"))
    part.crossJoin(broadcast(avgDf))
      .filter($"p_retailprice" > $"avg_price")
      .select($"p_partkey", $"p_name", $"p_retailprice")
      .orderBy($"p_partkey")
  }

  private val q17Sql =
    """SELECT p_partkey, p_name, p_retailprice
      |FROM part
      |WHERE p_retailprice > (
      |  SELECT CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) FROM part)
      |ORDER BY p_partkey""".stripMargin

  // ---------------------------------------------------------------------
  // q18: GROUPING SETS via spark.sql over temp views — region-level,
  // nation-level, and grand-total customer counts in one pass.
  // ---------------------------------------------------------------------
  def q18(spark: SparkSession, dir: String): DataFrame = {
    Tables.register(spark, dir, "customer", "nation", "region")
    spark.sql(
      """SELECT COALESCE(r_name, 'ALL') AS region,
        |  COALESCE(n_name, 'ALL') AS nation,
        |  COUNT(*) AS n_customers
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY GROUPING SETS ((r_name), (r_name, n_name), ())
        |ORDER BY region, nation""".stripMargin)
  }

  private val q18Sql =
    """SELECT COALESCE(r_name, 'ALL') AS region,
      |  COALESCE(n_name, 'ALL') AS nation,
      |  COUNT(*) AS n_customers
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY GROUPING SETS ((r_name), (r_name, n_name), ())
      |ORDER BY region, nation""".stripMargin

  // ---------------------------------------------------------------------
  // q19: time-bucketed rollup over the events stream table (batch form of
  // the streaming tumbling window; see graft.streaming). Bucket key is a
  // formatted string so both engines emit identical values.
  // ---------------------------------------------------------------------
  def q19(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "events")
      .withColumn("hour_bucket", date_format($"ts", "yyyy-MM-dd HH:00:00"))
      .groupBy($"hour_bucket", $"event_type")
      .agg(count(lit(1)).as("n_events"),
        min($"value").as("min_value"),
        max($"value").as("max_value"))
      .orderBy($"hour_bucket", $"event_type")
  }

  private val q19Sql =
    """SELECT strftime(ts, '%Y-%m-%d %H:00:00') AS hour_bucket, event_type,
      |  COUNT(*) AS n_events,
      |  MIN(value) AS min_value,
      |  MAX(value) AS max_value
      |FROM events
      |GROUP BY hour_bucket, event_type
      |ORDER BY hour_bucket, event_type""".stripMargin

  // ---------------------------------------------------------------------
  // q20: as-of join — for each purchase, the latest strictly-earlier click
  // by the same user. Spark-side this is the scalable union+window
  // pattern: one shuffle on user_id, one sort, no N×M expansion — the
  // shape that survives 100 TB (a per-key sort-merge, same as DuckDB's
  // ASOF but distributed). Oracle uses DuckDB's native ASOF LEFT JOIN.
  // ---------------------------------------------------------------------
  def q20(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.load(spark, dir, "events")
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts", $"event_id",
        lit(null).cast(LongType).as("click_id"), lit(0).as("tag"))
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id", $"ts", lit(null).cast(LongType).as("event_id"),
        $"event_id".as("click_id"), lit(1).as("tag"))
    // tag orders purchases before clicks at equal ts => strict "<" match.
    // The running "latest click so far" is a running MAX over a
    // (ts, click_id) struct (null on purchase rows): max is an
    // incremental frame aggregate, O(n) per partition — last(ignoreNulls)
    // over a growing frame re-scans the frame per row, O(n²).
    val w = Window.partitionBy($"user_id")
      .orderBy($"ts".asc, $"tag".asc, $"click_id".asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, 0)
    purchases.unionByName(clicks)
      .withColumn("cv", when($"tag" === 1, struct($"ts", $"click_id")).otherwise(lit(null)))
      .withColumn("matched_click", max($"cv").over(w).getField("click_id"))
      .filter($"tag" === 0)
      .select($"event_id", $"user_id", $"matched_click".as("click_id"))
      .orderBy($"event_id")
  }

  private val q20Sql =
    """SELECT p.event_id AS event_id, p.user_id AS user_id, c.event_id AS click_id
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |  ON p.user_id = c.user_id AND p.ts > c.ts
      |ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------------
  // q21: second star arm through supplier — revenue by supplier nation.
  // supplier grows with scale factor → no broadcast hint (AQE decides,
  // same rationale as q03/q04); nation is fixed at 25 rows → hinted.
  // ---------------------------------------------------------------------
  def q21(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.load(spark, dir, "lineitem")
    val supp = Tables.load(spark, dir, "supplier")
    val nation = Tables.load(spark, dir, "nation")
    li.join(supp, $"l_suppkey" === $"s_suppkey")
      .join(broadcast(nation), $"s_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(sum(discPrice($"l_extendedprice", $"l_discount")).cast(DoubleType).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy($"n_name")
  }

  private val q21Sql =
    """SELECT n_name,
      |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_items
      |FROM lineitem
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin

  // ---------------------------------------------------------------------

  val queries: ListMap[String, (SparkSession, String) => DataFrame] = ListMap(
    "q01_pricing_summary" -> (q01 _),
    "q02_selective_filter" -> (q02 _),
    "q03_bcast_join" -> (q03 _),
    "q04_multiway_join" -> (q04 _),
    "q05_semi_join" -> (q05 _),
    "q06_anti_join" -> (q06 _),
    "q07_topk_per_group" -> (q07 _),
    "q08_running_window" -> (q08 _),
    "q09_global_topk" -> (q09 _),
    "q10_distinct_agg" -> (q10 _),
    "q11_set_ops" -> (q11 _),
    "q12_rollup" -> (q12 _),
    "q13_cube" -> (q13 _),
    "q14_scalar_funcs" -> (q14 _),
    "q15_json_extract" -> (q15 _),
    "q16_having" -> (q16 _),
    "q17_scalar_subquery" -> (q17 _),
    "q18_grouping_sets" -> (q18 _),
    "q19_time_bucket" -> (q19 _),
    "q20_asof_join" -> (q20 _),
    "q21_supplier_revenue" -> (q21 _))

  val oracle: ListMap[String, String] = ListMap(
    "q01_pricing_summary" -> q01Sql,
    "q02_selective_filter" -> q02Sql,
    "q03_bcast_join" -> q03Sql,
    "q04_multiway_join" -> q04Sql,
    "q05_semi_join" -> q05Sql,
    "q06_anti_join" -> q06Sql,
    "q07_topk_per_group" -> q07Sql,
    "q08_running_window" -> q08Sql,
    "q09_global_topk" -> q09Sql,
    "q10_distinct_agg" -> q10Sql,
    "q11_set_ops" -> q11Sql,
    "q12_rollup" -> q12Sql,
    "q13_cube" -> q13Sql,
    "q14_scalar_funcs" -> q14Sql,
    "q15_json_extract" -> q15Sql,
    "q16_having" -> q16Sql,
    "q17_scalar_subquery" -> q17Sql,
    "q18_grouping_sets" -> q18Sql,
    "q19_time_bucket" -> q19Sql,
    "q20_asof_join" -> q20Sql,
    "q21_supplier_revenue" -> q21Sql)
}
