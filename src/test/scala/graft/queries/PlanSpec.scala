package graft.queries

import graft.SparkSpec

/** Plan-quality regression tests: the properties that make these
  * queries survive a 100 TB scale-up are asserted on the physical plan,
  * not just claimed in Scaladoc — pushdown reaching the parquet scan,
  * dimension joins broadcasting, and shuffle counts staying flat.
  */
class PlanSpec extends SparkSpec {

  private def executed(df: org.apache.spark.sql.DataFrame): String = {
    df.write.format("noop").mode("overwrite").save() // finalize AQE plan
    df.queryExecution.executedPlan.toString
  }

  test("q02 pushes all selective filters into the parquet scan") {
    val plan = Relational.q02(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters:"), plan)
    val pushed = plan.substring(plan.indexOf("PushedFilters:"))
      .linesIterator.next()
    assert(pushed.contains("l_shipdate") && pushed.contains("l_discount") &&
      pushed.contains("l_quantity"), s"missing pushdown: $pushed")
  }

  test("q02 prunes the scan to the referenced columns") {
    val plan = Relational.q02(spark, sf).queryExecution.executedPlan.toString
    val schema = plan.substring(plan.indexOf("ReadSchema:"))
      .linesIterator.next()
    assert(!schema.contains("l_orderkey") && !schema.contains("l_comment"),
      s"scan reads unreferenced columns: $schema")
  }

  test("q03 broadcasts the dimension side (threshold-driven, not hinted)") {
    val plan = executed(Relational.q03(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("q04 star join is all-broadcast (fact never shuffles pre-agg)") {
    val plan = executed(Relational.q04(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"),
      s"star join regressed to a shuffle join:\n$plan")
  }

  test("q04 at-scale strategy: big-big joins shuffle, only fixed dims stay hinted") {
    // The intended 100 TB plan (r11 advice item 5): when the filtered
    // orders/customer sides outgrow the broadcast threshold — simulated
    // by turning auto-broadcast off — lineitem⋈orders and ⋈customer must
    // degrade to shuffle joins while the EXPLICIT hints keep exactly the
    // fixed-cardinality nation (25) and region (5) broadcast. No
    // crossover happens at sf1 itself (SURVEY §6: AQE still broadcasts
    // the filtered orders), so this conf-forced regime is where the
    // at-scale shape is assertable.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760b")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = Relational.q04(spark, sf)
      val plan = executed(df)
      assert("BroadcastHashJoin".r.findAllIn(plan).size == 2,
        s"expected exactly the hinted nation+region broadcasts:\n$plan")
      assert("SortMergeJoin|ShuffledHashJoin".r.findAllIn(plan).size == 2,
        s"lineitem-orders and orders-customer must be shuffle joins:\n$plan")
      val atScale = df.collect().map(_.toString).sorted.toSeq
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      val default = Relational.q04(spark, sf).collect().map(_.toString).sorted.toSeq
      assert(atScale == default, "at-scale plan changed q04's results")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q21 supplier arm joins without a forced broadcast hint") {
    val plan = executed(Relational.q21(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan) // via threshold at this SF
  }

  test("scale-growing dims carry no broadcast hint (threshold off -> no BHJ on them)") {
    // With auto-broadcast disabled, a forced broadcast() hint would STILL
    // produce a BroadcastHashJoin — this is the 100 TB OOM scenario the
    // hint removal guards against. nation/region keep their hints (fixed
    // 25/5 rows), so we assert the *growing* dims (part/customer/supplier)
    // fall back to shuffle joins.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760b")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p03 = executed(Relational.q03(spark, sf))
      assert(!p03.contains("BroadcastHashJoin"),
        s"q03 still broadcasts with threshold off — forced hint present:\n$p03")
      val p21 = executed(Relational.q21(spark, sf))
      // nation keeps its hint (1 BHJ); supplier must not broadcast
      assert("BroadcastHashJoin".r.findAllIn(p21).size <= 1,
        s"q21 broadcasts more than the hinted nation dim:\n$p21")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q47 injects a runtime bloom filter probing the fact below its shuffle") {
    val prev = Extras2.q47Confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    Extras2.q47Confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val plan = executed(Extras2.q47Join(spark, sf))
      assert(plan.contains("might_contain"),
        s"no bloom probe on the fact side:\n$plan")
      assert(plan.contains("bloom_filter_agg"),
        s"no bloom build on the dim side:\n$plan")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("q52 prunes fact partitions dynamically from the dim filter") {
    val fact = Extras2.q52Fact(spark, sf)
    val df = Extras2.q52Join(spark, sf, fact)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"no runtime partition-pruning subquery on the fact scan:\n$plan")
  }

  test("q53 pushes MIN/MAX/COUNT into the parquet scan (metadata-only)") {
    val prev = Extras3.q53Confs.map { case (k, _) =>
      k -> spark.conf.getOption(k) }
    Extras3.q53Confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val plan = Extras3.q53Agg(spark, sf).queryExecution.executedPlan.toString
      assert(plan.contains("PushedAggregation: [COUNT(*)"),
        s"aggregates not pushed to the scan:\n$plan")
      assert(plan.contains("MIN(l_orderkey)"),
        s"MIN not pushed to the scan:\n$plan")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("q20 as-of join uses exactly one data shuffle before the sort") {
    val plan = executed(Relational.q20(spark, sf))
    // union + window pattern: one hashpartitioning exchange on user_id
    // (plus the final rangepartitioning for ORDER BY)
    val hashShuffles = "Exchange hashpartitioning".r
      .findAllIn(plan).size
    assert(hashShuffles == 1, s"expected 1 hash shuffle, got $hashShuffles:\n$plan")
  }

  test("q01 aggregates with a map-side partial before the shuffle") {
    val plan = executed(Relational.q01(spark, sf))
    val aggIdx = plan.indexOf("HashAggregate")
    assert(aggIdx >= 0, plan)
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"expected partial+final aggregation:\n$plan")
  }

  test("s01 ANN broadcasts the query side (no cartesian product)") {
    val plan = executed(graft.ops.Similarity.s01(spark, sf))
    assert(plan.contains("BroadcastExchange"), plan)
    assert(!plan.contains("CartesianProduct"),
      s"ANN scoring must broadcast the small query side:\n$plan")
  }

  test("s04 generates candidates from SRP buckets (no corpus-wide NLJ)") {
    val plan = executed(graft.ops.Similarity.s04(spark, sf))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"s04 must probe LSH buckets, not score the whole corpus per query:\n$plan")
  }

  test("s05 kNN join self-joins on bucket keys (never corpus × corpus)") {
    val plan = executed(graft.ops.Similarity.s05(spark, sf))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"s05 must pair bucket-mates, not enumerate all vector pairs:\n$plan")
  }

  test("ANN top-k runs through the native heap operator, not a window sort") {
    for ((name, df) <- Seq(
        "s01" -> graft.ops.Similarity.s01(spark, sf),
        "s02" -> graft.ops.Similarity.s02(spark, sf),
        "s05" -> graft.ops.Similarity.s05(spark, sf))) {
      val plan = executed(df)
      assert(plan.contains("TopKPerKeyPartial") && plan.contains("TopKPerKeyFinal"),
        s"$name final top-5 must plan as the native two-phase top-k:\n$plan")
      assert(!plan.contains("Window"),
        s"$name must not fall back to a row_number window:\n$plan")
    }
  }

  test("d06 label propagation joins on keys (no pair enumeration)") {
    val plan = executed(graft.ops.Dedup.d06(spark, sf))
    assert(!plan.contains("CartesianProduct"),
      s"components must propagate via key joins:\n$plan")
  }

  test("t07 repetition filter is narrow: no hash shuffle") {
    val plan = executed(graft.ops.TextOps.t07(spark, sf))
    assert(!plan.contains("Exchange hashpartitioning"),
      s"within-row op must not hash-shuffle:\n$plan")
  }

  test("t01 text stats is narrow: only the presentation sort shuffles") {
    val plan = executed(graft.ops.TextOps.t01(spark, sf))
    assert(!plan.contains("Exchange hashpartitioning"),
      s"narrow per-row op must not hash-shuffle:\n$plan")
  }

  test("t08 winnow overlap joins on fingerprint keys with partial aggs") {
    val df = graft.ops.TextOps.t08(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"overlap detection must join on fp keys, not enumerate pairs:\n$plan")
    // the pair count partial-aggregates map-side; the df-cap agg is
    // inside the checkpointed index (Scan ExistingRDD) and no longer
    // shows in this plan — the checkpoint itself is what we assert:
    // both join sides read the materialized index, not a recompute
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"expected partial+final aggregation for the pair count:\n$plan")
    assert("Scan ExistingRDD".r.findAllIn(plan).size >= 2,
      s"both self-join sides should scan the checkpointed index:\n$plan")
  }

  test("d03 minhash signatures partially aggregate before the shuffle") {
    val df = graft.ops.Dedup.d03(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"expected partial min() aggregation of signatures:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"LSH banding must join on band keys, not enumerate pairs:\n$plan")
  }

  test("d03 hot band buckets are occupancy-capped before pair generation") {
    // the r9 sf1 audit: uncapped, candidate pairs grew 3,658× for 10×
    // data through near-boilerplate buckets — the semi join against the
    // ≤BandCap bucket list is what bounds the self-join at scale
    val plan = executed(graft.ops.Dedup.d03(spark, sf))
    assert(plan.contains("LeftSemi"),
      s"band index must be occupancy-filtered before the self-join:\n$plan")
  }

  test("d08 edit-distance dedup pairs within blocks (no all-pairs join)") {
    val plan = executed(graft.ops.Dedup.d08(spark, sf))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"candidates must come from the blocking key equi-join:\n$plan")
  }

  test("q57 profiles every column in one scan of the table") {
    val plan = executed(Extras3.q57(spark, sf))
    assert("Scan parquet".r.findAllIn(plan).size == 1,
      s"profiler must compute all per-column metrics in a single pass:\n$plan")
  }

  test("t17 boilerplate strip is narrow: no hash shuffle") {
    val plan = executed(graft.ops.TextOps.t17(spark, sf))
    assert(!plan.contains("Exchange hashpartitioning"),
      s"per-row regex chain must not hash-shuffle:\n$plan")
  }

  test("m04 perceptual-hash pairs come from band keys (no all-pairs)") {
    val plan = executed(graft.ops.Multimodal.m04(spark, sf))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"aHash near-dup must join on band keys, not enumerate pairs:\n$plan")
  }

  test("q61 merged read reconciles both file generations' schemas") {
    val df = Extras3.q61(spark, sf)
    // union schema surfaced (value only exists in generation 2) and the
    // NULL-filled pre-evolution rows are real: value-count < row-count
    val r = df.agg(
      org.apache.spark.sql.functions.sum("n_rows"),
      org.apache.spark.sql.functions.sum("n_with_value")).collect()(0)
    assert(r.getLong(0) > r.getLong(1) && r.getLong(1) > 0,
      s"expected NULL-filled evolution rows: $r")
  }

  test("q63 coalesces intervals behind one user_id exchange") {
    val plan = executed(Extras3.q63(spark, sf))
    // both windows and the island rollup key on user_id: one shuffle
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      s"interval merge must reuse the user_id partitioning:\n$plan")
  }

  test("t18 probes the benchmark index by broadcast, never all-pairs") {
    val plan = executed(graft.ops.TextOps.t18(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      s"benchmark fp index must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"decontamination must join on fingerprints, not enumerate pairs:\n$plan")
  }

  test("t18 never flags the benchmark docs themselves") {
    val rows = graft.ops.TextOps.t18(spark, sf).collect()
    assert(rows.forall(_.getLong(0) % 11 != 0),
      "a benchmark doc leaked into the contaminated set")
  }

  test("s06 recall is a well-formed fraction of the exact top-k") {
    val rows = graft.ops.Similarity.s06(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nExact, nHit, recall) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(nHit <= nExact && recall >= 0.0 && recall <= 1.0,
        s"malformed recall row: $r")
    }
  }

  test("s07 scores by ADC lookups: codebook and table broadcast, no NLJ") {
    val plan = executed(graft.ops.Similarity.s07(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      s"codebook/ADC-table joins must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"PQ scoring must join on (s, code), not enumerate pairs:\n$plan")
  }

  test("s08 two-level assignment: no global sort-limit, cartesian, or window") {
    // the r7 `weak` grade: nlist ∝ N centroids were selected by a
    // single-task orderBy().limit(N/128) and broadcast O(N) rows. The
    // two-level quantizer must show neither shape: centroids come from
    // stride filters, argmins are min_by hash-aggregates, and the only
    // broadcast side is the O(√N) super-centroid table.
    val plan = executed(graft.ops.Similarity.s08(spark, sf))
    assert(!plan.contains("TakeOrderedAndProject"),
      s"centroid selection must be stride filters, not a global limit:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("Window"),
      s"assignment argmins must be min_by aggregates, not rank windows:\n$plan")
  }

  test("q62 sketches with bottom-k selections, never a global sort") {
    val df = Extras3.q62(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert("TakeOrderedAndProject".r.findAllIn(plan).size >= 3,
      s"each KMV sketch must be a top-k selection:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"KMV must never globally sort the key sets:\n$plan")
  }

  test("q65 pushes the status filter into the ORC scan") {
    // the claim that ORC rides the same pushdown path as parquet is a
    // plan property: the o_orderstatus predicate must reach the ORC
    // reader, not run as a post-scan Filter over full stripes
    val plan = Extras3.q65(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("orc") || plan.contains("Orc"),
      s"no ORC scan in plan:\n$plan")
    assert(plan.contains("PushedFilters:"), plan)
    val pushed = plan.substring(plan.indexOf("PushedFilters:"))
      .linesIterator.next()
    // IsNotNull(o_orderstatus) is pushed for ANY non-null predicate, so
    // asserting the column name alone is vacuous — require the actual
    // selective comparison to reach the reader
    assert(pushed.contains("EqualTo(o_orderstatus"),
      s"selective status comparison not pushed to the ORC scan: $pushed")
  }

  test("AQE splits a skewed shuffle-join partition at runtime (skew=true)") {
    // q40 handles skew STATICALLY with salting; this pins the engine's
    // RUNTIME answer — AQE's skew-join split — on a worst-case key
    // distribution (90% of one side on a single key), with the skew
    // thresholds scaled down to the test data so the optimization
    // actually fires. At 100 TB this is what saves an unsalted hot-key
    // join from a straggler task the size of the whole corpus.
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val confs = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val skewed = spark.range(60000)
        .select((when($"id" % 10 === 0, 0L).otherwise($"id")).as("k"),
          $"id".as("payload"))
      val other = spark.range(2000).select($"id".as("k"), ($"id" * 3).as("v"))
      // the join is the TERMINAL operator: a downstream partitioning
      // requirement (e.g. a groupBy on the join output) makes AQE skip
      // the split, since splitting breaks the hash-partition guarantee
      val joined = skewed.join(other, "k")
        .select($"k", $"payload" + $"v")
      joined.collect() // finalize THIS df's adaptive plan (no extra exchange)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("isFinalPlan=true"), s"plan not finalized:\n$plan")
      assert(plan.contains("skew=true"),
        s"AQE skew-join split did not fire:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
