package graft.queries

import scala.collection.immutable.ListMap

import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.sources.GraftManifest

/** Round-12 additions: the declarative-engine capabilities a production
  * lake deployment leans on daily — data-quality constraint suites
  * (Deequ/dbt-test shape), array higher-order functions (lambda
  * pipelines without UDF fences), common-subplan reuse (one shuffle
  * feeding two consumers), ordered-set aggregates (listagg / mode /
  * percentile_disc), and iterative graph traversal (frontier BFS over a
  * join-derived bipartite graph). Exactness rules as everywhere: counts
  * and integer-valued doubles go through BIGINT, money through
  * DECIMAL(18,2), and any residual double is a single IEEE operation
  * both engines round identically.
  */
object Extras5 {

  // ---------------------------------------------------------------------
  // q72: DATA-QUALITY CONSTRAINT SUITE (Deequ/dbt-test shape) — the
  // admission gate every production table gets before downstream jobs
  // trust it: not-null, primary-key uniqueness, accepted-values, value
  // ranges in ONE scan (a single hash-agg computes every per-row
  // predicate's violation count simultaneously — at 100 TB the suite
  // costs one pass, not one pass per constraint), plus referential
  // integrity as a broadcast LEFT ANTI join against the dimension
  // (violations = orphaned foreign keys, counted without materializing
  // the join). Two constraints are deliberately tighter than the data
  // (totalprice ≤ 450k, orderdate < 2001-07-01) so the suite
  // demonstrably FIRES — a checker that only ever reports zero is
  // untested by its own results.
  // ---------------------------------------------------------------------
  def q72(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val orders = Tables.load(spark, dir, "orders")
    val customer = Tables.load(spark, dir, "customer")

    // one scan: every per-row constraint is a conditional count in the
    // same aggregate; the optimizer collapses them into one hash-agg
    val scanRow = orders.agg(
      count(when($"o_orderkey".isNull, 1)).as("c1_orderkey_not_null"),
      (count(lit(1)) - countDistinct($"o_orderkey")).as("c2_orderkey_unique"),
      count(when(!$"o_orderstatus".isin("O", "F", "P"), 1))
        .as("c3_status_accepted"),
      count(when($"o_totalprice" <= 0.0 || $"o_totalprice" > 450000.0, 1))
        .as("c4_totalprice_range"),
      count(when($"o_orderdate" >= lit("2001-07-01").cast(TimestampNTZType), 1))
        .as("c5_orderdate_bound"))

    // referential integrity: orphaned o_custkey values; the dim side is
    // broadcastable (customer keys only), so the probe is shuffle-free
    val fkRow = orders.join(broadcast(customer.select($"c_custkey")),
        $"o_custkey" === $"c_custkey", "left_anti")
      .agg(count(lit(1)).as("c6_custkey_fk"))

    // stack wide → tall: (constraint, n_violations, passed)
    scanRow.crossJoin(fkRow)
      .selectExpr(
        """stack(6,
          |  'c1_orderkey_not_null', c1_orderkey_not_null,
          |  'c2_orderkey_unique',   c2_orderkey_unique,
          |  'c3_status_accepted',   c3_status_accepted,
          |  'c4_totalprice_range',  c4_totalprice_range,
          |  'c5_orderdate_bound',   c5_orderdate_bound,
          |  'c6_custkey_fk',        c6_custkey_fk
          |) AS (constraint_name, n_violations)""".stripMargin)
      .select($"constraint_name",
        $"n_violations".cast(LongType).as("n_violations"),
        ($"n_violations" === 0L).as("passed"))
      .orderBy($"constraint_name")
  }

  private val q72Sql =
    """WITH scan AS (
      |  SELECT
      |    COUNT(*) FILTER (o_orderkey IS NULL) AS c1,
      |    COUNT(*) - COUNT(DISTINCT o_orderkey) AS c2,
      |    COUNT(*) FILTER (o_orderstatus NOT IN ('O','F','P')) AS c3,
      |    COUNT(*) FILTER (o_totalprice <= 0.0 OR o_totalprice > 450000.0) AS c4,
      |    COUNT(*) FILTER (o_orderdate >= TIMESTAMP '2001-07-01') AS c5
      |  FROM orders),
      |fk AS (
      |  SELECT COUNT(*) AS c6 FROM orders o
      |  WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)),
      |tall AS (
      |  SELECT 'c1_orderkey_not_null' AS constraint_name, c1 AS v FROM scan
      |  UNION ALL SELECT 'c2_orderkey_unique', c2 FROM scan
      |  UNION ALL SELECT 'c3_status_accepted', c3 FROM scan
      |  UNION ALL SELECT 'c4_totalprice_range', c4 FROM scan
      |  UNION ALL SELECT 'c5_orderdate_bound', c5 FROM scan
      |  UNION ALL SELECT 'c6_custkey_fk', c6 FROM fk)
      |SELECT constraint_name, CAST(v AS BIGINT) AS n_violations,
      |  v = 0 AS passed
      |FROM tall ORDER BY constraint_name""".stripMargin

  // ---------------------------------------------------------------------
  // q73: ARRAY HIGHER-ORDER FUNCTIONS — the lambda pipeline surface
  // (transform / filter / exists / aggregate(reduce) / zip_with) that
  // keeps per-row collection logic INSIDE Catalyst: every lambda below
  // codegens into the same whole-stage pipeline as the surrounding
  // expressions (a Scala udf() doing the same work would fence pushdown
  // and codegen, and serialize every array across the JVM boundary).
  // Per order: the sorted quantity vector (integral by construction —
  // BIGINT-exact), then lambda-derived scalars, then an exact rollup by
  // order-key bucket. zip_with pairs the vector with its reverse —
  // the max palindromic pair-sum needs index-aligned traversal, the one
  // shape plain aggregates can't express.
  // ---------------------------------------------------------------------
  def q73(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val perOrder = Tables.load(spark, dir, "lineitem")
      .select($"l_orderkey", $"l_quantity".cast(LongType).as("qty"))
      .groupBy($"l_orderkey")
      .agg(sort_array(collect_list($"qty")).as("qtys"))
      .select(
        ($"l_orderkey" % 11).as("bucket"),
        expr("aggregate(qtys, 0L, (acc, x) -> acc + 2L * x)").as("doubled_sum"),
        expr("size(filter(qtys, x -> x >= 25L))").cast(LongType).as("n_large"),
        expr("exists(qtys, x -> x > 45L)").as("has_gt45"),
        expr("array_max(zip_with(qtys, reverse(qtys), (a, b) -> a + b))")
          .as("max_palindrome"))
    perOrder.groupBy($"bucket")
      .agg(count(lit(1)).as("n_orders"),
        sum($"doubled_sum").as("sum_doubled"),
        sum($"n_large").as("sum_large"),
        count(when($"has_gt45", 1)).as("n_has_gt45"),
        max($"max_palindrome").as("max_palin"))
      .orderBy($"bucket")
  }

  private val q73Sql =
    """WITH per_order AS (
      |  SELECT l_orderkey % 11 AS bucket,
      |    list_reduce(list_transform(l, x -> 2 * x), (a, b) -> a + b) AS doubled_sum,
      |    len(list_filter(l, x -> x >= 25)) AS n_large,
      |    len(list_filter(l, x -> x > 45)) > 0 AS has_gt45,
      |    list_max(list_transform(generate_series(1, len(l)),
      |      i -> l[i] + l[len(l) + 1 - i])) AS max_palindrome
      |  FROM (
      |    SELECT l_orderkey,
      |      list_sort(list(CAST(l_quantity AS BIGINT))) AS l
      |    FROM lineitem GROUP BY l_orderkey))
      |SELECT bucket, COUNT(*) AS n_orders,
      |  CAST(SUM(doubled_sum) AS BIGINT) AS sum_doubled,
      |  CAST(SUM(n_large) AS BIGINT) AS sum_large,
      |  COUNT(*) FILTER (has_gt45) AS n_has_gt45,
      |  CAST(MAX(max_palindrome) AS BIGINT) AS max_palin
      |FROM per_order GROUP BY bucket ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------------
  // q74: COMMON-SUBPLAN REUSE — share-of-total needs the SAME weekly
  // aggregate twice: once as the detail rows and once inside the global
  // total. A naive engine scans + aggregates the fact table twice;
  // Spark's exchange reuse matches the two canonically-identical
  // shuffle subtrees, runs the scan + partial aggregation ONCE, and the
  // total's consumer reads the first's shuffle output through a
  // `ReusedExchange` node (plan-asserted in Extras5Spec). At 100 TB
  // this is the difference between one pass over the fact table and
  // two — every self-comparative rollup (share-of-total, pct-of-max)
  // hits this path. Note the subtrees must be canonically IDENTICAL:
  // the WoW self-join variant (join on wk = wk + 7d) does NOT reuse,
  // because the inferred isnotnull(wk + 7d) constraint pushes a
  // different filter below one side's aggregate. Sums in DECIMAL
  // (exact); share is a single double division.
  // ---------------------------------------------------------------------
  def q74(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val weekly = Tables.load(spark, dir, "orders")
      .groupBy(date_trunc("week", $"o_orderdate").as("wk"))
      .agg(sum($"o_totalprice".cast(DecimalType(18, 2))).as("rev"))
    val total = weekly.agg(sum($"rev").as("tot"))
    weekly.crossJoin(total)
      .select(date_format($"wk", "yyyy-MM-dd").as("week"),
        $"rev".cast(DoubleType).as("revenue"),
        $"tot".cast(DoubleType).as("total_revenue"))
      .withColumn("share", $"revenue" / $"total_revenue")
      .orderBy($"week")
  }

  private val q74Sql =
    """WITH weekly AS (
      |  SELECT date_trunc('week', o_orderdate) AS wk,
      |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      |  FROM orders GROUP BY 1),
      |total AS (SELECT SUM(rev) AS tot FROM weekly)
      |SELECT strftime(wk, '%Y-%m-%d') AS week,
      |  CAST(rev AS DOUBLE) AS revenue,
      |  CAST(tot AS DOUBLE) AS total_revenue,
      |  CAST(rev AS DOUBLE) / CAST(tot AS DOUBLE) AS share
      |FROM weekly, total
      |ORDER BY week""".stripMargin

  // ---------------------------------------------------------------------
  // q75: ORDERED-SET AGGREGATES (Spark 4 surface) — listagg WITHIN
  // GROUP (deterministic ordered string concatenation; the distinct
  // value list per group stays vocabulary-bounded so the agg state is
  // small), mode (most frequent value — the data has a unique winner
  // per group at every SF, verified, so tie-break semantics never
  // engage), and percentile_disc (SQL-standard discrete percentile:
  // smallest value with cume_dist ≥ p — returns an ACTUAL data value,
  // so equality is bit-exact, unlike interpolating percentile_cont).
  // ---------------------------------------------------------------------
  def q75(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "orders").createOrReplaceTempView("orders_q75")
    spark.sql(
      """WITH distinct_prio AS (
        |  SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders_q75),
        |la AS (
        |  SELECT o_orderstatus,
        |    listagg(o_orderpriority, ',')
        |      WITHIN GROUP (ORDER BY o_orderpriority) AS prio_list
        |  FROM distinct_prio GROUP BY o_orderstatus),
        |st AS (
        |  SELECT o_orderstatus,
        |    mode(o_orderpriority) AS top_prio,
        |    percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)
        |      AS median_price,
        |    percentile_disc(0.9) WITHIN GROUP (ORDER BY o_totalprice)
        |      AS p90_price
        |  FROM orders_q75 GROUP BY o_orderstatus)
        |SELECT la.o_orderstatus, la.prio_list, st.top_prio,
        |  st.median_price, st.p90_price
        |FROM la JOIN st USING (o_orderstatus)
        |ORDER BY la.o_orderstatus""".stripMargin)
  }

  private val q75Sql =
    """WITH distinct_prio AS (
      |  SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders),
      |la AS (
      |  SELECT o_orderstatus,
      |    string_agg(o_orderpriority, ',' ORDER BY o_orderpriority) AS prio_list
      |  FROM distinct_prio GROUP BY o_orderstatus),
      |st AS (
      |  SELECT o_orderstatus,
      |    mode(o_orderpriority) AS top_prio,
      |    percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice) AS median_price,
      |    percentile_disc(0.9) WITHIN GROUP (ORDER BY o_totalprice) AS p90_price
      |  FROM orders GROUP BY o_orderstatus)
      |SELECT la.o_orderstatus, la.prio_list, st.top_prio,
      |  st.median_price, st.p90_price
      |FROM la JOIN st USING (o_orderstatus)
      |ORDER BY la.o_orderstatus""".stripMargin

  // ---------------------------------------------------------------------
  // g01: ITERATIVE GRAPH TRAVERSAL — multi-source BFS over the
  // part↔supplier bipartite graph induced by lineitem (distinct
  // (l_partkey, l_suppkey) pairs are "supplier ships part" edges).
  // Seeds: suppliers with s_suppkey % 100 == 1. The driver loop runs a
  // FRONTIER expansion per level — join the frontier to the edge list,
  // anti-subtract everything already visited — which is how iterative
  // graph algorithms are expressed on a relational engine (each level
  // is one co-partitioned join; the frontier SHRINKS as the visited set
  // saturates, and at 100 TB each level's join keys stay co-partitioned
  // on the node id so the edge table shuffles once, not once per
  // level). Distances are exact ints; levels 0-3 unroll identically in
  // the oracle. d06's label propagation finds components; this measures
  // DISTANCE — the other half of the graph-traversal story.
  // ---------------------------------------------------------------------
  def g01(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.ops.Materialize.MaterializeOps
    // r19: the edge list is consumed by EVERY BFS level — materialize
    // it once (the d02/d03 multi-consumer rule) instead of re-running
    // the lineitem scan + distinct exchange per level (3 scans + 3
    // corpus-sized shuffles → 1). At 100 TB this is the difference
    // between one edge-list derivation and one per level.
    val edges = Tables.load(spark, dir, "lineitem")
      .select($"l_partkey".as("p"), $"l_suppkey".as("s"))
      .distinct()
      .materialize
    val seeds = Tables.load(spark, dir, "supplier")
      .filter($"s_suppkey" % 100 === 1)
      .select($"s_suppkey".as("s"))

    // alternating frontier: suppliers at even levels, parts at odd
    var visitedS = seeds
    var visitedP = spark.emptyDataFrame.selectExpr("CAST(NULL AS BIGINT) AS p")
      .filter(lit(false))
    var levels = Seq(("supplier", 0L, seeds.count()))
    var frontierS = seeds
    var frontierP: DataFrame = null
    for (lvl <- 1L to 3L) {
      if (lvl % 2 == 1) {
        frontierP = edges.join(frontierS, "s").select($"p").distinct()
          .join(visitedP, Seq("p"), "left_anti")
        // the frontier is the next level's probe side — materialize its
        // lineage so level N+1 doesn't recompute levels 1..N
        frontierP = frontierP.localCheckpoint(eager = true)
        visitedP = visitedP.union(frontierP)
        levels :+= (("part", lvl, frontierP.count()))
      } else {
        frontierS = edges.join(frontierP, "p").select($"s").distinct()
          .join(visitedS, Seq("s"), "left_anti")
        frontierS = frontierS.localCheckpoint(eager = true)
        visitedS = visitedS.union(frontierS)
        levels :+= (("supplier", lvl, frontierS.count()))
      }
    }
    levels.toDF("node_type", "dist", "n_nodes")
      .orderBy($"dist", $"node_type")
  }

  private val g01Sql =
    """WITH edges AS (
      |  SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
      |s0 AS (SELECT s_suppkey AS s FROM supplier WHERE s_suppkey % 100 = 1),
      |p1 AS (SELECT DISTINCT e.p FROM edges e JOIN s0 USING (s)),
      |s2 AS (
      |  SELECT DISTINCT e.s FROM edges e JOIN p1 USING (p)
      |  WHERE e.s NOT IN (SELECT s FROM s0)),
      |p3 AS (
      |  SELECT DISTINCT e.p FROM edges e JOIN s2 USING (s)
      |  WHERE e.p NOT IN (SELECT p FROM p1))
      |SELECT * FROM (
      |  SELECT 'supplier' AS node_type, CAST(0 AS BIGINT) AS dist,
      |    (SELECT COUNT(*) FROM s0) AS n_nodes
      |  UNION ALL SELECT 'part', 1, (SELECT COUNT(*) FROM p1)
      |  UNION ALL SELECT 'supplier', 2, (SELECT COUNT(*) FROM s2)
      |  UNION ALL SELECT 'part', 3, (SELECT COUNT(*) FROM p3))
      |ORDER BY dist, node_type""".stripMargin

  // ---------------------------------------------------------------------
  // q76: LARGE×LARGE BAND JOIN VIA BINNING — the time-proximity join
  // between two FACT-sized inputs (every purchase paired with every
  // error within ±1 h). Naively this is a non-equi θ-join: Spark plans
  // BroadcastNestedLoopJoin (fine for q23's tiny dim side, quadratic
  // death when both sides are large). The binning rewrite makes it an
  // EQUI-join: both sides key by epoch-hour bin, the bounded side
  // expands to its 3 covering bins (|Δt| ≤ 1 h ⟹ bins differ by ≤ 1),
  // and the exact micros-precision predicate filters inside the join —
  // the Databricks range-join-hint technique, expressed declaratively.
  // Candidates are linear in rows × per-bin density (no cross product;
  // plan-asserted in Extras5Spec), and at 100 TB the bin width is the
  // dial that trades expansion factor against per-bin fan-in. A (p, e)
  // pair meets in exactly ONE bin (the error's), so no dedup pass is
  // needed. Gap seconds are truncation-consistent in both engines
  // (floor-to-second before subtracting).
  // ---------------------------------------------------------------------
  def q76(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // The at-scale dial, conf-surfaced (r12 advice): bin width in
    // seconds, default = the 1 h interval width. A denser corpus turns
    // it DOWN (narrower bins, less per-bin fan-in, more expansion
    // copies of the bounded side); a sparser one turns it UP. Results
    // are bin-width-invariant — the expansion radius k adapts so the
    // covering set always spans the full ±1 h band, and the exact
    // predicate decides membership (Extras5Spec pins 2× and ½× widths
    // row-identical).
    val binSec = spark.conf.getOption("spark.graft.bandjoin.binSec")
      .map(_.toLong).getOrElse(3600L)
    require(binSec > 0, s"spark.graft.bandjoin.binSec must be positive: $binSec")
    val k = ((3600L + binSec - 1) / binSec).toInt
    val ev = Tables.load(spark, dir, "events")
      .select($"event_id", $"event_type", $"ts")
    val p = ev.filter($"event_type" === "purchase")
      .select($"event_id".as("p_id"), $"ts".as("p_ts"),
        (unix_timestamp($"ts") / binSec).cast(LongType).as("p_bin"))
    val e = ev.filter($"event_type" === "error")
      .select($"event_id".as("e_id"), $"ts".as("e_ts"),
        (unix_timestamp($"ts") / binSec).cast(LongType).as("bin"))
    val pExpanded = p.withColumn("bin",
      explode(array((-k to k).map(i => $"p_bin" + i): _*)))
    pExpanded.join(e, Seq("bin"))
      .filter($"e_ts" >= $"p_ts" - expr("INTERVAL 1 HOUR") &&
        $"e_ts" <= $"p_ts" + expr("INTERVAL 1 HOUR"))
      .groupBy(date_format($"p_ts", "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(abs(unix_timestamp($"p_ts") - unix_timestamp($"e_ts")))
          .as("sum_gap_s"))
      .orderBy($"day")
  }

  private val q76Sql =
    """WITH p AS (
      |  SELECT event_id, ts FROM events WHERE event_type = 'purchase'),
      |e AS (
      |  SELECT event_id, ts FROM events WHERE event_type = 'error')
      |SELECT strftime(p.ts, '%Y-%m-%d') AS day, COUNT(*) AS n_pairs,
      |  CAST(SUM(ABS(date_diff('second', e.ts, p.ts))) AS BIGINT)
      |    AS sum_gap_s
      |FROM p JOIN e
      |  ON e.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts + INTERVAL 1 HOUR
      |GROUP BY day ORDER BY day""".stripMargin

  // ---------------------------------------------------------------------
  // q77: CSV SOURCE WITH MALFORMED-RECORD HANDLING — the dirty-landing-
  // zone contract every ingest pipeline needs: rows that fail the schema
  // must be QUARANTINED, not silently dropped or job-fatal. The corpus'
  // orders are serialized to CSV with a deterministic corruption (every
  // o_orderkey ≡ 0 mod 37 gets a non-numeric o_totalprice), then read
  // back two ways: PERMISSIVE + columnNameOfCorruptRecord (bad rows
  // surface with the raw line captured in the corrupt column and nulls
  // elsewhere — the quarantine path) and DROPMALFORMED (bad rows
  // vanish — the best-effort path). The result compares the two modes'
  // row/sum accounting in one frame; the oracle derives the same
  // numbers from the parquet truth and the corruption rule. At scale
  // CSV parsing is a narrow per-split map — the modes differ only in
  // per-row error disposition, not in plan shape.
  // ---------------------------------------------------------------------
  def q77(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val orders = Tables.load(spark, dir, "orders")
    val csvDir = graft.Scratch.dir("q77_csv")
    orders.select(
        $"o_orderkey",
        when($"o_orderkey" % 37 === 0, lit("corrupted!"))
          .otherwise(format_number($"o_totalprice", 2)).as("o_totalprice_s"),
        $"o_orderstatus")
      .select(concat_ws(",", $"o_orderkey",
        regexp_replace($"o_totalprice_s", ",", ""), $"o_orderstatus")
        .as("value"))
      .write.text(csvDir)

    val dataSchema = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_totalprice", DoubleType),
      StructField("o_orderstatus", StringType)))
    // the corrupt column is VIRTUAL: declared in the schema but excluded
    // from positional token mapping — it carries the raw line of any row
    // that failed to parse
    val permissive = spark.read
      .schema(dataSchema.add(StructField("_bad", StringType)))
      .option("mode", "PERMISSIVE").option("columnNameOfCorruptRecord", "_bad")
      .csv(csvDir)
    val dropped = spark.read.schema(dataSchema)
      .option("mode", "DROPMALFORMED").csv(csvDir)

    val p = permissive.agg(
      count(lit(1)).as("n_rows"),
      count($"_bad").as("n_quarantined"),
      sum(when($"_bad".isNull, $"o_totalprice".cast(DecimalType(18, 2))))
        .cast(DoubleType).as("sum_good"))
      .withColumn("mode", lit("1_permissive"))
    val d = dropped.agg(
      count(lit(1)).as("n_rows"),
      count(when($"o_totalprice".isNull, 1)).as("n_quarantined"),
      sum($"o_totalprice".cast(DecimalType(18, 2)))
        .cast(DoubleType).as("sum_good"))
      .withColumn("mode", lit("2_dropmalformed"))
    p.unionByName(d)
      .select($"mode", $"n_rows", $"n_quarantined", $"sum_good")
      .orderBy($"mode")
  }

  // the oracle never reads the CSV: the corruption rule is deterministic,
  // so the parquet table IS the ground truth for both dispositions.
  // format_number rounds half-up to 2 decimals; o_totalprice is already
  // 2-decimal money, so the round-trip is value-exact.
  private val q77Sql =
    """WITH base AS (
      |  SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS p,
      |    o_orderkey % 37 = 0 AS bad
      |  FROM orders)
      |SELECT '1_permissive' AS mode, COUNT(*) AS n_rows,
      |  COUNT(*) FILTER (bad) AS n_quarantined,
      |  CAST(SUM(p) FILTER (NOT bad) AS DOUBLE) AS sum_good
      |FROM base
      |UNION ALL
      |SELECT '2_dropmalformed', COUNT(*) FILTER (NOT bad),
      |  0, CAST(SUM(p) FILTER (NOT bad) AS DOUBLE)
      |FROM base
      |ORDER BY mode""".stripMargin

  // ---------------------------------------------------------------------
  // q78: SNAPSHOT-ISOLATED TIME-TRAVEL READS — the MVCC core of every
  // table format (Iceberg/Delta), built from first principles on q71's
  // manifest idea: data files are IMMUTABLE; a commit writes new files
  // plus a manifest (one text file listing the snapshot's members —
  // the format and commit protocol live in sources/GraftManifest); a
  // reader resolves a VERSION to its manifest and scans exactly those
  // files. Three commits: v1 = initial load (keys ≡ 0 mod 3), v2 =
  // append (adds keys ≡ 1), v3 = DELETE via copy-on-write (rewrites
  // v1's files without the 'F'-status rows; v2's append files carry
  // over untouched). Because nothing is ever mutated in place, reading
  // AS OF v1 after the delete still returns the original rows — that
  // isolation is the whole point, and `Extras5Spec` pins it by
  // resolving v2's file list, committing v3, and re-reading. The query
  // aggregates all three snapshots side by side; the oracle derives
  // each snapshot's contents from the version predicates. At 100 TB:
  // manifests are O(#files) text, commits are atomic manifest swaps,
  // and old snapshots cost only the storage their files share.
  // ---------------------------------------------------------------------
  /** Per-file (min, max) of an INT64 column, read from parquet FOOTERS
    * driver-side — O(#files) metadata I/O, never a data scan; the write
    * path already paid for these stats, a commit just records them. */
  private[graft] def parquetKeyStats(files: Seq[String],
      column: String): Map[String, (Long, Long)] = {
    val conf = graft.sources.GraftFs.hadoopConf
    files.flatMap(f => footerKeyStats(
      graft.sources.GraftParquet.footer(f, conf), column).map(f -> _)).toMap
  }

  /** (min, max) of an INT64 column over a footer's row-group stats;
    * None when no row group carries stats for it. */
  private[graft] def footerKeyStats(footer: ParquetMetadata,
      column: String): Option[(Long, Long)] = {
    import scala.jdk.CollectionConverters._
    val ranges = for {
      block <- footer.getBlocks.asScala.toSeq
      col <- block.getColumns.asScala
      if col.getPath.toDotString == column
      st = col.getStatistics
      if st != null && !st.isEmpty
    } yield (st.genericGetMin.asInstanceOf[Number].longValue(),
      st.genericGetMax.asInstanceOf[Number].longValue())
    if (ranges.isEmpty) None
    else Some((ranges.map(_._1).min, ranges.map(_._2).max))
  }

  private def q78Parts(dir: String): Seq[String] =
    graft.sources.GraftFs.list(dir)
      .filter { case (n, _, _) => n.startsWith("part-") && n.endsWith(".parquet") }
      .map(_._2)

  /** Runs the three commits and returns the table root. */
  private[queries] def q78Table(spark: SparkSession, dir: String): String = {
    import spark.implicits._
    val base = graft.Scratch.dir("q78_table")
    val orders = Tables.load(spark, dir, "orders")
      .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
    // v1: initial load
    orders.filter($"o_orderkey" % 3 === 0).write.parquet(s"$base/files-v1")
    val a = q78Parts(s"$base/files-v1")
    GraftManifest.commitAt(base, 1, a.map(GraftManifest.Entry(_)))
    // v2: append-only commit — v1's files carry over by reference
    orders.filter($"o_orderkey" % 3 === 1).write.parquet(s"$base/files-v2")
    val b = q78Parts(s"$base/files-v2")
    GraftManifest.commitAt(base, 2, (a ++ b).map(GraftManifest.Entry(_)))
    // v3: copy-on-write DELETE of 'F' rows from v1's slice — rewrites
    // only the files that contain hits; the append files are untouched
    orders.filter($"o_orderkey" % 3 === 0 && $"o_orderstatus" =!= "F")
      .write.parquet(s"$base/files-v3")
    GraftManifest.commitAt(base, 3,
      (q78Parts(s"$base/files-v3") ++ b).map(GraftManifest.Entry(_)))
    base
  }

  def q78(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = q78Table(spark, dir)
    (1 to 3).map { v =>
      spark.read.parquet(GraftManifest.read(base, v).paths: _*)
        .agg(count(lit(1)).as("n_rows"),
          count(when($"o_orderstatus" === "F", 1)).as("n_f_status"),
          sum($"o_totalprice".cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_price"))
        .withColumn("version", lit(v.toLong))
    }.reduce(_ unionByName _)
      .select($"version", $"n_rows", $"n_f_status", $"sum_price")
      .orderBy($"version")
  }

  private val q78Sql =
    """WITH snap AS (
      |  SELECT 1 AS version, o_orderstatus, o_totalprice FROM orders
      |  WHERE o_orderkey % 3 = 0
      |  UNION ALL
      |  SELECT 2, o_orderstatus, o_totalprice FROM orders
      |  WHERE o_orderkey % 3 IN (0, 1)
      |  UNION ALL
      |  SELECT 3, o_orderstatus, o_totalprice FROM orders
      |  WHERE (o_orderkey % 3 = 0 AND o_orderstatus <> 'F')
      |     OR o_orderkey % 3 = 1)
      |SELECT CAST(version AS BIGINT) AS version, COUNT(*) AS n_rows,
      |  COUNT(*) FILTER (o_orderstatus = 'F') AS n_f_status,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM snap GROUP BY version ORDER BY version""".stripMargin

  // ---------------------------------------------------------------------
  // q79: GLOBAL TOTAL-ORDER SORT (the terasort shape) — produce a
  // DISTRIBUTED totally-ordered layout: `repartitionByRange` samples the
  // key distribution to pick 8 balanced boundaries (one pass reservoir
  // sample — the only way to total-order without funneling through one
  // task), `sortWithinPartitions` orders inside each range, and the
  // written files tile the keyspace without overlap. The terasort
  // VALIDITY criterion is checked from the output itself: per-file
  // [min, max] ranges, sorted by min, must chain monotonically
  // (file_i.max ≤ file_{i+1}.min) — that plus in-file order IS a total
  // order, verified without ever collecting the data. Per-file row
  // counts depend on the sampled boundaries (not oracle-stable), so the
  // result row reduces to the invariants: file count, global rows,
  // global min/max, and the monotonicity verdict — all deterministic.
  // ---------------------------------------------------------------------
  def q79(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val out = graft.Scratch.dir("q79_sorted")
    Tables.load(spark, dir, "lineitem")
      .select($"l_shipdate", $"l_orderkey", $"l_quantity")
      .repartitionByRange(8, $"l_shipdate", $"l_orderkey")
      .sortWithinPartitions($"l_shipdate", $"l_orderkey")
      .write.parquet(out)
    val perFile = spark.read.parquet(out)
      .groupBy(input_file_name().as("file"))
      .agg(
        min(unix_micros($"l_shipdate".cast("timestamp"))).as("lo_ship"),
        min(struct(unix_micros($"l_shipdate".cast("timestamp")),
          $"l_orderkey")).as("f_lo"),
        max(struct(unix_micros($"l_shipdate".cast("timestamp")),
          $"l_orderkey")).as("f_hi"),
        count(lit(1)).as("n"))
    // the monotone-chain check runs DRIVER-side over O(#files) metadata
    // rows (the q71Prune bound) — ordering 8 file summaries needs no
    // partition-less window
    import spark.implicits._
    val files = perFile.orderBy($"f_lo").collect().map { r =>
      val lo = r.getStruct(2); val hi = r.getStruct(3)
      ((lo.getLong(0), lo.getLong(1)), (hi.getLong(0), hi.getLong(1)),
        r.getLong(4))
    }
    val ordered = files.sliding(2).forall {
      case Array((_, hi, _), (lo2, _, _)) =>
        hi._1 < lo2._1 || (hi._1 == lo2._1 && hi._2 <= lo2._2)
      case _ => true
    }
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd")
      .withZone(java.time.ZoneOffset.UTC)
    def day(us: Long) = fmt.format(java.time.Instant.ofEpochSecond(us / 1000000L))
    // file count is NOT oracle-pinned: repartitionByRange writes no
    // file for an empty range partition, so a small or skewed corpus
    // can legitimately yield < 8 files while the total order (the
    // invariant this query exists to check) still holds. The oracle
    // pins 1 ≤ n_files ≤ 8 as a boolean instead of the exact count.
    Seq((files.nonEmpty && files.length <= 8, files.map(_._3).sum,
        day(files.map(_._1._1).min), day(files.map(_._2._1).max), ordered))
      .toDF("files_ok", "n_rows", "min_ship", "max_ship", "totally_ordered")
  }

  // the oracle pins the invariants: ≥1 (≤8) non-overlapping files
  // tiling the full table, and the monotone chain literally TRUE — a
  // sort that leaves overlap or drops rows fails the hash
  private val q79Sql =
    """SELECT TRUE AS files_ok, COUNT(*) AS n_rows,
      |  strftime(MIN(l_shipdate), '%Y-%m-%d') AS min_ship,
      |  strftime(MAX(l_shipdate), '%Y-%m-%d') AS max_ship,
      |  TRUE AS totally_ordered
      |FROM lineitem""".stripMargin

  // ---------------------------------------------------------------------
  // g02: TRIANGLE COUNTING — the classic distributed-graph benchmark.
  // The algorithm is the degree-ordered node-iterator (Schank & Wagner):
  // orient every edge from its (degree, id)-smaller endpoint to the
  // larger, build wedges by joining oriented edges on their source, and
  // close each wedge with a semi-join back against the oriented edge
  // set — each triangle is counted EXACTLY once, and the orientation
  // bounds every vertex's out-degree by O(√|E|), which is what makes
  // the wedge join feasible at scale (an unoriented wedge join explodes
  // on high-degree vertices). All counts exact BIGINTs; the oracle
  // replays the same three joins.
  //
  // The graph: the corpus' natural bipartite projections are DENSE
  // (13-41 suppliers per part at sf0.01 — a co-supply projection is
  // quadratic in that multiplicity and measured empty under any sane
  // df-cap), so the graph is synthesized deterministically over the
  // supplier vertex set (the stub convention): each supplier s links to
  // s+1, s+2 and a content-dependent chord s + 3 + (s mod 5) — sparse
  // (degree ≤ ~8), scale-proportional, triangle-rich (every consecutive
  // triple closes), and irregular enough that the degree orientation
  // actually reorders edges.
  // ---------------------------------------------------------------------
  def g02(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nodes = Tables.load(spark, dir, "supplier").select($"s_suppkey".as("n"))
    val rawEdges = nodes
      .select($"n", explode(array(
        $"n" + 1, $"n" + 2, $"n" + 3 + ($"n" % 5))).as("m"))
    // keep only edges whose far endpoint exists (graph stays closed
    // under the vertex set); dedup chords that collide with ladder edges
    val edges = rawEdges.join(nodes.withColumnRenamed("n", "m"), Seq("m"))
      .select($"n".as("u"), $"m".as("v")).distinct()
    // degree-ordered orientation: u→v iff (deg(u), u) < (deg(v), v)
    val deg = edges.select($"u".as("n")).union(edges.select($"v".as("n")))
      .groupBy($"n").agg(count(lit(1)).as("d"))
    val withDeg = edges
      .join(deg.withColumnRenamed("n", "u").withColumnRenamed("d", "du"), Seq("u"))
      .join(deg.withColumnRenamed("n", "v").withColumnRenamed("d", "dv"), Seq("v"))
    val oriented = withDeg.select(
      when($"du" < $"dv" || ($"du" === $"dv" && $"u" < $"v"), struct($"u", $"v"))
        .otherwise(struct($"v".as("u"), $"u".as("v"))).as("e"))
      .select($"e.u".as("src"), $"e.v".as("dst"))
    val wedges = oriented.as("x").join(oriented.as("y"),
        $"x.src" === $"y.src" && $"x.dst" < $"y.dst")
      .select($"x.dst".as("a"), $"y.dst".as("b"))
    // a wedge (a, b) closes iff the oriented edge set contains a→b or
    // b→a (orientation direction between a and b depends on degrees)
    val closed = wedges.join(oriented,
        ($"a" === $"src" && $"b" === $"dst") ||
          ($"b" === $"src" && $"a" === $"dst"), "left_semi")
    edges.agg(count(lit(1)).as("n_edges")).crossJoin(
        deg.agg(count(lit(1)).as("n_nodes")))
      .crossJoin(closed.agg(count(lit(1)).as("n_triangles")))
      .select($"n_nodes", $"n_edges", $"n_triangles")
  }

  private val g02Sql =
    s"""WITH nodes AS (SELECT s_suppkey AS n FROM supplier),
       |raw_edges AS (
       |  SELECT n, unnest([n + 1, n + 2, n + 3 + (n % 5)]) AS m FROM nodes),
       |edges AS (
       |  SELECT DISTINCT e.n AS u, e.m AS v
       |  FROM raw_edges e JOIN nodes x ON x.n = e.m),
       |deg AS (
       |  SELECT n, COUNT(*) AS d FROM (
       |    SELECT u AS n FROM edges UNION ALL SELECT v FROM edges)
       |  GROUP BY n),
       |oriented AS (
       |  SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v) THEN u ELSE v END AS src,
       |         CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v) THEN v ELSE u END AS dst
       |  FROM edges JOIN deg du ON du.n = u JOIN deg dv ON dv.n = v),
       |wedges AS (
       |  SELECT x.dst AS a, y.dst AS b
       |  FROM oriented x JOIN oriented y ON x.src = y.src AND x.dst < y.dst),
       |closed AS (
       |  SELECT * FROM wedges w
       |  WHERE EXISTS (SELECT 1 FROM oriented o
       |    WHERE (o.src = w.a AND o.dst = w.b) OR (o.src = w.b AND o.dst = w.a)))
       |SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
       |  (SELECT COUNT(*) FROM edges) AS n_edges,
       |  (SELECT COUNT(*) FROM closed) AS n_triangles""".stripMargin

  // ---------------------------------------------------------------------
  // q80: Z-ORDER LAYOUT + 2-D FILE SKIPPING, MATERIALIZED — q48 costs
  // the clustering decision; this entry CASHES it: both layouts are
  // actually written (compact files sorted by the layout key — the
  // tile ids are q48's pure bit-arithmetic maps, so tile membership is
  // deterministic and the oracle can pin exact pruning counts), a
  // q71-style min/max manifest is built per tile over BOTH dimensions,
  // and two probe boxes run against each layout reading ONLY
  // intersecting tiles (a range at the parquet scan, since tiles are
  // contiguous in the sort order). The
  // payoff the numbers show: a SUPPKEY-window probe keeps a fraction of
  // the z-order tiles but EVERY linear tile (a partkey-sorted file
  // spans the full suppkey range — the second dimension is unpruned by
  // a 1-D sort), while a partkey probe prunes both layouts. At 100 TB
  // this is the difference between scanning a table and scanning a
  // tile row: rows_scanned is the I/O bill each layout pays for the
  // same correct answer.
  // ---------------------------------------------------------------------
  def q80(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val partBits = 11
    val suppBits = 7
    val zkey = ((0 until partBits).map(i =>
        shiftleft(shiftright($"l_partkey", i).bitwiseAND(1), 2 * i)) ++
      (0 until suppBits).map(i =>
        shiftleft(shiftright($"l_suppkey", i).bitwiseAND(1), 2 * i + 1)))
      .reduce(_ + _)
    val base = Tables.load(spark, dir, "lineitem")
      .select($"l_partkey", $"l_suppkey",
        $"l_quantity".cast(DecimalType(18, 2)).as("qty"), zkey.as("zkey"))
    val layouts = Seq(
      ("linear", shiftright($"l_partkey", 3), $"l_partkey"),
      ("zorder", shiftright($"zkey", 10), $"zkey"))
    // The store is SORTED COMPACT FILES, not one directory per tile —
    // the production z-order shape (Delta/Iceberg OPTIMIZE ZORDER):
    // rows range-partitioned + sorted by the layout key, so each of
    // the 16 files (and each parquet row group inside it) covers a
    // CONTIGUOUS tile span and per-file/row-group min/max stats do the
    // skipping. A dir-per-tile materialization (the r13 version) wrote
    // 2,500 tiny files per layout — a small-files explosion and a
    // metastore bomb at 100×; this one is 16 files per layout and the
    // tile → file mapping is still deterministic (tile is monotone in
    // the sort key: linear tile = pk>>3, zorder tile = zkey>>10).
    val roots = layouts.map { case (name, tile, sortKey) =>
      val root = graft.Scratch.dir(s"q80_$name")
      base.withColumn("tile", tile.cast(LongType))
        .repartitionByRange(16, sortKey)
        .sortWithinPartitions(sortKey)
        .drop("zkey")
        .write.parquet(root)
      (name, root)
    }
    // probes: (name, pkLo, pkHi, skLo, skHi) — None = unconstrained
    val probes = Seq(
      ("a_suppkey_window", None, None, Some(40L), Some(90L)),
      ("b_partkey_window", Some(500L), Some(580L), None, None))
    val frames = for ((layout, root) <- roots) yield {
      val t = spark.read.parquet(root)
      // the manifest: per-tile min/max on BOTH dimensions, computed
      // ONCE per layout (one scan of the compact store) and collected
      // — O(#tiles) driver metadata, q71's bound; each probe arm
      // filters the collected rows driver-side instead of re-scanning
      // the table. In production this is maintained incrementally on
      // write.
      val manifest = t.groupBy($"tile")
        .agg(min($"l_partkey").cast(LongType).as("pk_lo"),
          max($"l_partkey").cast(LongType).as("pk_hi"),
          min($"l_suppkey").cast(LongType).as("sk_lo"),
          max($"l_suppkey").cast(LongType).as("sk_hi"))
        .collect()
      val arms = for ((probe, pkLo, pkHi, skLo, skHi) <- probes) yield {
      val kept = manifest.filter { r =>
        val pkOk = (pkLo, pkHi) match {
          case (Some(lo), Some(hi)) => r.getLong(2) >= lo && r.getLong(1) <= hi
          case _ => true
        }
        val skOk = (skLo, skHi) match {
          case (Some(lo), Some(hi)) => r.getLong(4) >= lo && r.getLong(3) <= hi
          case _ => true
        }
        pkOk && skOk
      }.map(_.getLong(0))
      // kept tiles are CONTIGUOUS in the sort key, so this In turns
      // into a range at the parquet scan (pushdown.inFilterThreshold)
      // and row groups outside the span are skipped via their stats —
      // rows_scanned is the same I/O bill the dir-per-tile layout paid
      val scanned = t.filter($"tile".isin(kept: _*))
      val box = scanned
        .filter(pkLo.map(lo => $"l_partkey" >= lo).getOrElse(lit(true)) &&
          pkHi.map(hi => $"l_partkey" <= hi).getOrElse(lit(true)) &&
          skLo.map(lo => $"l_suppkey" >= lo).getOrElse(lit(true)) &&
          skHi.map(hi => $"l_suppkey" <= hi).getOrElse(lit(true)))
      scanned.agg(count(lit(1)).as("rows_scanned")).crossJoin(
          box.agg(count(lit(1)).as("n_rows"),
            sum($"qty").cast(DoubleType).as("sum_qty")))
        .select(lit(probe).as("probe"), lit(layout).as("layout"),
          lit(kept.length.toLong).as("n_tiles_kept"),
          $"rows_scanned", $"n_rows", $"sum_qty")
      }
      arms
    }
    frames.flatten.reduce(_ unionByName _).orderBy($"probe", $"layout")
  }

  private val q80Sql = {
    val zkey = ((0 until 11).map(i => s"(((l_partkey >> $i) & 1) << ${2 * i})") ++
      (0 until 7).map(i => s"(((l_suppkey >> $i) & 1) << ${2 * i + 1})"))
      .mkString(" + ")
    def arm(probe: String, layout: String, tile: String, pk: Option[(Long, Long)],
        sk: Option[(Long, Long)]): String = {
      val pkManifest = pk.map { case (lo, hi) => s"pk_hi >= $lo AND pk_lo <= $hi" }
        .getOrElse("TRUE")
      val skManifest = sk.map { case (lo, hi) => s"sk_hi >= $lo AND sk_lo <= $hi" }
        .getOrElse("TRUE")
      val pkBox = pk.map { case (lo, hi) => s"l_partkey BETWEEN $lo AND $hi" }
        .getOrElse("TRUE")
      val skBox = sk.map { case (lo, hi) => s"l_suppkey BETWEEN $lo AND $hi" }
        .getOrElse("TRUE")
      s"""SELECT '$probe' AS probe, '$layout' AS layout,
         |  (SELECT COUNT(*) FROM (
         |     SELECT $tile AS tile, MIN(l_partkey) pk_lo, MAX(l_partkey) pk_hi,
         |       MIN(l_suppkey) sk_lo, MAX(l_suppkey) sk_hi
         |     FROM keyed GROUP BY tile)
         |   WHERE $pkManifest AND $skManifest) AS n_tiles_kept,
         |  (SELECT COUNT(*) FROM keyed WHERE $tile IN (
         |     SELECT tile FROM (
         |       SELECT $tile AS tile, MIN(l_partkey) pk_lo, MAX(l_partkey) pk_hi,
         |         MIN(l_suppkey) sk_lo, MAX(l_suppkey) sk_hi
         |       FROM keyed GROUP BY tile)
         |     WHERE $pkManifest AND $skManifest)) AS rows_scanned,
         |  (SELECT COUNT(*) FROM keyed WHERE $pkBox AND $skBox) AS n_rows,
         |  (SELECT CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
         |   FROM keyed WHERE $pkBox AND $skBox) AS sum_qty""".stripMargin
    }
    val arms = Seq(
      arm("a_suppkey_window", "linear", "(l_partkey >> 3)", None, Some((40L, 90L))),
      arm("a_suppkey_window", "zorder", "(zk >> 10)", None, Some((40L, 90L))),
      arm("b_partkey_window", "linear", "(l_partkey >> 3)", Some((500L, 580L)), None),
      arm("b_partkey_window", "zorder", "(zk >> 10)", Some((500L, 580L)), None))
    s"""WITH keyed AS (
       |  SELECT l_partkey, l_suppkey, l_quantity, $zkey AS zk FROM lineitem)
       |${arms.mkString("\nUNION ALL\n")}
       |ORDER BY probe, layout""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q81: FEDERATED FIVE-FORMAT JOIN — one Catalyst plan spanning every
  // storage format the engine speaks: region lands as XML (feed/config
  // shape), nation through the first-party Avro connector, customer as
  // ORC, orders as CSV, and lineitem stays parquet. The point is that
  // the format boundary dissolves at the logical plan: the same
  // broadcast star join q04 runs on parquet plans identically over the
  // mixed lake, each leaf scan negotiating its own pushdown with its
  // own reader. This is the real shape of a landing zone mid-migration
  // — and the proof the source family composes rather than just
  // round-trips one at a time. Oracle: the identical join over the
  // parquet originals.
  // ---------------------------------------------------------------------
  def q81(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val fed = graft.Scratch.dir("q81_fed")
    // land each dimension in its format
    Tables.load(spark, dir, "region").select($"r_regionkey", $"r_name")
      .write.option("rowTag", "region").format("xml").save(s"$fed/region")
    Tables.load(spark, dir, "nation")
      .select($"n_nationkey", $"n_regionkey".cast(LongType).as("n_regionkey"))
      .write.format("graft.sources.AvroDataSource").mode("append")
      .save(s"$fed/nation")
    Tables.load(spark, dir, "customer").select($"c_custkey", $"c_nationkey")
      .write.format("orc").save(s"$fed/customer")
    Tables.load(spark, dir, "orders")
      .select($"o_orderkey", $"o_custkey",
        date_format($"o_orderdate", "yyyy-MM-dd").as("o_orderdate"))
      .write.option("header", "true").csv(s"$fed/orders")

    val region = spark.read
      .schema(StructType(Seq(StructField("r_regionkey", LongType),
        StructField("r_name", StringType))))
      .option("rowTag", "region").format("xml").load(s"$fed/region")
    val nation = spark.read.format("graft.sources.AvroDataSource")
      .load(s"$fed/nation")
    val customer = spark.read.format("orc").load(s"$fed/customer")
    val orders = spark.read.option("header", "true")
      .schema(StructType(Seq(StructField("o_orderkey", LongType),
        StructField("o_custkey", LongType),
        StructField("o_orderdate", StringType))))
      .csv(s"$fed/orders")
    val lineitem = Tables.load(spark, dir, "lineitem")

    lineitem
      .join(orders.filter($"o_orderdate".startsWith("1996")),
        $"l_orderkey" === $"o_orderkey")
      .join(customer, $"o_custkey" === $"c_custkey")
      .join(broadcast(nation), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(region), $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name")
      .agg(count(lit(1)).as("n_items"),
        sum(($"l_extendedprice".cast(DecimalType(18, 2)) *
          (lit(1).cast(DecimalType(18, 2)) -
            $"l_discount".cast(DecimalType(18, 2))))
          .cast(DecimalType(18, 4))).cast(DoubleType).as("revenue"))
      .orderBy($"r_name")
  }

  private val q81Sql =
    """SELECT r_name, COUNT(*) AS n_items,
      |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
      |    * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
      |    AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |  AND strftime(o_orderdate, '%Y') = '1996'
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name
      |ORDER BY r_name""".stripMargin

  // ---------------------------------------------------------------------
  // q82: A/B EXPERIMENT ANALYSIS — the two-sample Welch z-test every
  // product team runs daily: a deterministic variant assignment
  // (user_id parity — in production this is t21's Lehmer split), the
  // purchase-value metric aggregated per arm with q50's EXACT decimal
  // power sums (n, Σx, Σx² — order-independent, so the doubles both
  // engines derive from them are bit-equal), then means, variances, the
  // pooled standard error, and the z statistic as a FIXED sequence of
  // IEEE operations (divisions and one sqrt, both correctly rounded →
  // portable). One row: the experiment readout, including the decision
  // bit at α = 0.05. The whole test costs one scan + a 2-row aggregate
  // at any corpus size.
  // ---------------------------------------------------------------------
  def q82(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val DS = DecimalType(38, 6)
    val x = $"value".cast(DecimalType(18, 2))
    val arms = Tables.load(spark, dir, "events")
      .filter($"event_type" === "purchase")
      .groupBy(($"user_id" % 2).as("variant"))
      .agg(count(lit(1)).as("n"),
        sum(x.cast(DS)).as("sx"), sum((x * x).cast(DS)).as("sxx"))
    val a = arms.filter($"variant" === 0)
      .select($"n".as("n_a"), $"sx".as("sx_a"), $"sxx".as("sxx_a"))
    val b = arms.filter($"variant" === 1)
      .select($"n".as("n_b"), $"sx".as("sx_b"), $"sxx".as("sxx_b"))
    val j = a.crossJoin(b)
    def stats(n: org.apache.spark.sql.Column, sx: org.apache.spark.sql.Column,
        sxx: org.apache.spark.sql.Column) = {
      val nd = n.cast(DoubleType)
      val sxd = sx.cast(DoubleType); val sxxd = sxx.cast(DoubleType)
      (sxd / nd, (nd * sxxd - sxd * sxd) / (nd * (nd - lit(1.0))))
    }
    val (meanA, varA) = stats($"n_a", $"sx_a", $"sxx_a")
    val (meanB, varB) = stats($"n_b", $"sx_b", $"sxx_b")
    val z = (meanA - meanB) /
      sqrt(varA / $"n_a".cast(DoubleType) + varB / $"n_b".cast(DoubleType))
    j.select($"n_a", $"n_b", meanA.as("mean_a"), meanB.as("mean_b"),
        varA.as("var_a"), varB.as("var_b"), z.as("z_score"),
        (abs(z) > 1.96).as("significant"))
  }

  private val q82Sql =
    """WITH arms AS (
      |  SELECT user_id % 2 AS variant, COUNT(*) AS n,
      |    SUM(CAST(CAST(value AS DECIMAL(18,2)) AS DECIMAL(38,6))) AS sx,
      |    SUM(CAST(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))
      |      AS DECIMAL(38,6))) AS sxx
      |  FROM events WHERE event_type = 'purchase' GROUP BY variant),
      |j AS (
      |  SELECT a.n AS n_a, a.sx AS sx_a, a.sxx AS sxx_a,
      |    b.n AS n_b, b.sx AS sx_b, b.sxx AS sxx_b
      |  FROM (SELECT * FROM arms WHERE variant = 0) a,
      |       (SELECT * FROM arms WHERE variant = 1) b),
      |d AS (
      |  SELECT n_a, n_b,
      |    CAST(sx_a AS DOUBLE) / n_a AS mean_a,
      |    CAST(sx_b AS DOUBLE) / n_b AS mean_b,
      |    (n_a * CAST(sxx_a AS DOUBLE) - CAST(sx_a AS DOUBLE) * CAST(sx_a AS DOUBLE))
      |      / (n_a * (n_a - 1.0)) AS var_a,
      |    (n_b * CAST(sxx_b AS DOUBLE) - CAST(sx_b AS DOUBLE) * CAST(sx_b AS DOUBLE))
      |      / (n_b * (n_b - 1.0)) AS var_b
      |  FROM j)
      |SELECT n_a, n_b, mean_a, mean_b, var_a, var_b,
      |  (mean_a - mean_b) / sqrt(var_a / n_a + var_b / n_b) AS z_score,
      |  ABS((mean_a - mean_b) / sqrt(var_a / n_a + var_b / n_b)) > 1.96
      |    AS significant
      |FROM d""".stripMargin

  // ---------------------------------------------------------------------
  // q83: DYNAMIC PARTITION OVERWRITE — the engine-NATIVE sibling of
  // p04's manifest backfill: with partitionOverwriteMode=dynamic, an
  // overwrite write replaces ONLY the partitions present in the
  // incoming data (here: the corrected 1996 months) and leaves every
  // other partition's files untouched — versus STATIC mode, which
  // would truncate the whole table first. The corrected rows drop
  // 'P'-status 1996 orders (p04's scenario), so the post-overwrite
  // yearly rollup shows exactly one year moved. The conf is scoped to
  // the query and restored, and the overwrite is verified from the
  // table itself — at 100 TB this is the difference between rewriting
  // a month and rewriting the table.
  // ---------------------------------------------------------------------
  def q83(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val table = graft.Scratch.dir("q83_table")
    val orders = Tables.load(spark, dir, "orders")
      .select($"o_orderkey", $"o_orderstatus",
        $"o_totalprice".cast(DecimalType(18, 2)).as("price"),
        date_format($"o_orderdate", "yyyy-MM").as("month"))
    orders.write.partitionBy("month").parquet(table)
    val conf = "spark.sql.sources.partitionOverwriteMode"
    val saved = spark.conf.getOption(conf)
    try {
      spark.conf.set(conf, "dynamic")
      orders.filter($"month".startsWith("1996") && $"o_orderstatus" =!= "P")
        .write.mode("overwrite").partitionBy("month").parquet(table)
    } finally saved match {
      case Some(v) => spark.conf.set(conf, v)
      case None => spark.conf.unset(conf)
    }
    spark.read.parquet(table)
      .groupBy(substring($"month", 1, 4).as("year"))
      .agg(count(lit(1)).as("n_orders"),
        count(when($"o_orderstatus" === "P", 1)).as("n_p_status"),
        sum($"price").cast(DoubleType).as("revenue"))
      .orderBy($"year")
  }

  private val q83Sql =
    """SELECT strftime(o_orderdate, '%Y') AS year, COUNT(*) AS n_orders,
      |  COUNT(*) FILTER (o_orderstatus = 'P') AS n_p_status,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders
      |WHERE NOT (strftime(o_orderdate, '%Y') = '1996' AND o_orderstatus = 'P')
      |GROUP BY year
      |ORDER BY year""".stripMargin

  // ---------------------------------------------------------------------
  // q84: TIME-INTERVAL RANGE FRAME — the window surface q42's numeric
  // RANGE doesn't cover: a frame bounded by an INTERVAL on the
  // event-TIME ordering ("everything this user did in the trailing
  // hour", evaluated at every event). RANGE semantics make ties
  // (equal timestamps) peers of the same frame, so the result is
  // order-deterministic without any tiebreaker column — the property
  // that makes rolling features safe to compute distributedly. One
  // shuffle on user_id; the frame is an incremental range scan per
  // partition, O(n) not O(n·frame).
  // ---------------------------------------------------------------------
  def q84(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "events").createOrReplaceTempView("events_q84")
    spark.sql(
      """SELECT user_id, date_format(ts, 'yyyy-MM-dd HH:mm:ss') AS ts_s,
        |  event_id,
        |  COUNT(*) OVER w AS n_trailing_1h,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
        |    AS sum_trailing_1h
        |FROM events_q84
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |  RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, ts_s, event_id""".stripMargin)
  }

  private val q84Sql =
    """SELECT user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
      |  event_id,
      |  COUNT(*) OVER w AS n_trailing_1h,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
      |    AS sum_trailing_1h
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts
      |  RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, ts_s, event_id""".stripMargin

  // ---------------------------------------------------------------------
  // q85: IN-BAND METRIC OBSERVATION (`Dataset.observe`) — the
  // operational telemetry surface: named aggregate metrics ride the
  // query itself (collected by an accumulator during the SAME pass, no
  // second scan) and surface on the driver when the action completes.
  // This is how production pipelines self-audit — row counts, null
  // counts, value totals recorded per run without doubling the I/O. The
  // query observes a filtered lineitem scan, materializes it, and emits
  // the OBSERVED metrics as the result — so the oracle (which computes
  // the same aggregates the normal way) is literally checking that the
  // observation mechanism reports the truth.
  // ---------------------------------------------------------------------
  def q85(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val obs = new org.apache.spark.sql.Observation("q85_metrics")
    val scanned = Tables.load(spark, dir, "lineitem")
      .filter($"l_quantity" >= 25.0)
      .observe(obs,
        count(lit(1)).as("n_rows"),
        count(when($"l_returnflag" === "R", 1)).as("n_returned"),
        sum($"l_quantity".cast(DecimalType(18, 2))).as("sum_qty"),
        min($"l_shipdate").as("min_ship"))
    scanned.write.format("noop").mode("overwrite").save() // one real pass
    val m = obs.get
    Seq((m("n_rows").asInstanceOf[Long],
        m("n_returned").asInstanceOf[Long],
        m("sum_qty").asInstanceOf[java.math.BigDecimal].doubleValue(),
        java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
          .format(m("min_ship").asInstanceOf[java.time.LocalDateTime])))
      .toDF("n_rows", "n_returned", "sum_qty", "min_ship")
  }

  private val q85Sql =
    """SELECT COUNT(*) AS n_rows,
      |  COUNT(*) FILTER (l_returnflag = 'R') AS n_returned,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  strftime(MIN(l_shipdate), '%Y-%m-%d %H:%M:%S') AS min_ship
      |FROM lineitem
      |WHERE l_quantity >= 25.0""".stripMargin

  // ---------------------------------------------------------------------
  // q86: GOVERNED VIEW — the data-governance surface: consumers query a
  // VIEW, not the table, and the view enforces (a) COLUMN MASKING — the
  // customer name survives only as a salted one-way token (md5 of a
  // purpose-prefixed key: joinable within the view's scope, not
  // reversible, and a different purpose prefix yields unlinkable
  // tokens) and the account balance is BUCKETED to a coarse band — and
  // (b) a ROW FILTER (only the BUILDING segment is visible to this
  // consumer). Catalyst inlines the view, so masking expressions fold
  // into the consumer's plan and predicates still push below them —
  // governance without a second copy of the data or a gateway service.
  // The consumer query aggregates over the masked view and even groups
  // by token, proving masked columns stay operationally useful.
  // ---------------------------------------------------------------------
  def q86(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "customer").createOrReplaceTempView("customer_q86")
    spark.sql(
      """CREATE OR REPLACE TEMPORARY VIEW customer_governed AS
        |SELECT
        |  md5(concat('analytics:', c_name)) AS name_token,
        |  c_nationkey,
        |  CAST(floor(c_acctbal / 1000) * 1000 AS BIGINT) AS acctbal_band,
        |  c_mktsegment
        |FROM customer_q86
        |WHERE c_mktsegment = 'BUILDING'""".stripMargin)
    spark.sql(
      """SELECT c_nationkey, acctbal_band,
        |  COUNT(*) AS n_customers,
        |  COUNT(DISTINCT name_token) AS n_distinct_tokens,
        |  min(name_token) AS sample_token
        |FROM customer_governed
        |GROUP BY c_nationkey, acctbal_band
        |ORDER BY c_nationkey, acctbal_band""".stripMargin)
  }

  private val q86Sql =
    """WITH governed AS (
      |  SELECT md5('analytics:' || c_name) AS name_token,
      |    c_nationkey,
      |    CAST(floor(c_acctbal / 1000) * 1000 AS BIGINT) AS acctbal_band
      |  FROM customer
      |  WHERE c_mktsegment = 'BUILDING')
      |SELECT c_nationkey, acctbal_band,
      |  COUNT(*) AS n_customers,
      |  COUNT(DISTINCT name_token) AS n_distinct_tokens,
      |  min(name_token) AS sample_token
      |FROM governed
      |GROUP BY c_nationkey, acctbal_band
      |ORDER BY c_nationkey, acctbal_band""".stripMargin

  // ---------------------------------------------------------------------
  // q87: SQL PIVOT / UNPIVOT CLAUSES (Spark 3.4+ syntax) — the
  // relational-algebra reshape pair as first-class SQL, distinct from
  // q26/q34's DataFrame pivot/unpivot API: PIVOT turns the status
  // dimension into columns (one COUNT cell per (priority, status)),
  // UNPIVOT folds them back to tall rows — the round trip proves the
  // two clauses are inverses over a dense matrix, and the tall output
  // is a plain GROUP BY to the oracle. Both clauses compile to the
  // same aggregate/expand plans the API versions use; the surface is
  // what's new.
  // ---------------------------------------------------------------------
  def q87(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "orders").createOrReplaceTempView("orders_q87")
    spark.sql(
      """WITH wide AS (
        |  SELECT * FROM (SELECT o_orderpriority, o_orderstatus FROM orders_q87)
        |  PIVOT (COUNT(*) FOR o_orderstatus IN ('O' AS st_o, 'F' AS st_f, 'P' AS st_p))
        |)
        |SELECT o_orderpriority, status, n_orders
        |FROM wide
        |UNPIVOT (n_orders FOR status IN (st_o, st_f, st_p))
        |ORDER BY o_orderpriority, status""".stripMargin)
  }

  private val q87Sql =
    """SELECT o_orderpriority,
      |  CASE o_orderstatus WHEN 'O' THEN 'st_o' WHEN 'F' THEN 'st_f'
      |    ELSE 'st_p' END AS status,
      |  COUNT(*) AS n_orders
      |FROM orders
      |GROUP BY o_orderpriority, status
      |ORDER BY o_orderpriority, status""".stripMargin

  val queries: ListMap[String, (SparkSession, String) => DataFrame] = ListMap(
    "q72_constraint_suite" -> (q72 _),
    "q73_higher_order" -> (q73 _),
    "q74_exchange_reuse" -> (q74 _),
    "q75_ordered_set_aggs" -> (q75 _),
    "g01_graph_bfs" -> (g01 _),
    "q76_banded_time_join" -> (q76 _),
    "q77_csv_malformed" -> (q77 _),
    "q78_snapshot_reads" -> (q78 _),
    "q79_global_sort" -> (q79 _),
    "g02_triangle_count" -> (g02 _),
    "q80_zorder_skip" -> (q80 _),
    "q81_federated_join" -> (q81 _),
    "q82_ab_test" -> (q82 _),
    "q83_dynamic_overwrite" -> (q83 _),
    "q84_time_range_frame" -> (q84 _),
    "q85_observed_metrics" -> (q85 _),
    "q86_governed_view" -> (q86 _),
    "q87_sql_pivot_unpivot" -> (q87 _))

  val oracle: ListMap[String, String] = ListMap(
    "q72_constraint_suite" -> q72Sql,
    "q73_higher_order" -> q73Sql,
    "q74_exchange_reuse" -> q74Sql,
    "q75_ordered_set_aggs" -> q75Sql,
    "g01_graph_bfs" -> g01Sql,
    "q76_banded_time_join" -> q76Sql,
    "q77_csv_malformed" -> q77Sql,
    "q78_snapshot_reads" -> q78Sql,
    "q79_global_sort" -> q79Sql,
    "g02_triangle_count" -> g02Sql,
    "q80_zorder_skip" -> q80Sql,
    "q81_federated_join" -> q81Sql,
    "q82_ab_test" -> q82Sql,
    "q83_dynamic_overwrite" -> q83Sql,
    "q84_time_range_frame" -> q84Sql,
    "q85_observed_metrics" -> q85Sql,
    "q86_governed_view" -> q86Sql,
    "q87_sql_pivot_unpivot" -> q87Sql)
}
