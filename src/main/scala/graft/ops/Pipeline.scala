package graft.ops

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.ops.Materialize.MaterializeOps
import graft.sources.GraftManifest

/** The end-to-end corpus-preparation pipeline, as ONE declarative DAG:
  * quality gate (t09) → exact dedup (d01's fingerprint) → sequence
  * packing yield (t14's unit), reported per source. This is the
  * composability claim of the library made concrete: each stage is the
  * registry op's own logic (the gate is t09's output, the fingerprint
  * is d01's expression, the pack unit is t14's constant), chained as
  * plain DataFrames so Catalyst plans the pipeline end to end —
  * partial aggregation everywhere, and the only shuffles are the gate
  * join (co-keyed on doc_id), the fingerprint groupBy, and the final
  * per-source rollup: exactly the three key changes the semantics
  * require. The one lineage cut is the post-gate frame, which feeds
  * two consumers (see below). At 100 TB each stage's scale story is
  * unchanged from its standalone op.
  */
object Pipeline {

  private val PackLen = 2048L

  def p01(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
    // stage 1: the t09 gate, joined back on the co-keyed doc_id (the
    // gate frame derives from the same scan; AQE plans a local join)
    val gate = TextOps.t09(spark, dir).select($"doc_id", $"n_tokens", $"keep")
    // materialized once (the d02/d03/d09 multi-consumer rule): the
    // gate-join + fingerprint frame feeds BOTH the dedup winners and
    // the per-source kept census; without the cut the corpus-wide
    // join + md5 stage is planned and executed twice
    val kept = docs.join(gate, "doc_id").filter($"keep")
      .select($"doc_id", $"source", $"n_tokens",
        md5(lower(trim($"text"))).as("fp"))
      .materialize
    // stage 2: d01's exact dedup — one winner per fingerprint, stats
    // attributed to the winner's source (min doc_id, d01's keep rule)
    val winners = kept.groupBy($"fp")
      .agg(min_by($"source", $"doc_id").as("source"),
        min_by($"n_tokens", $"doc_id").as("n_tokens"))
    // stage 3: packing yield per source from the surviving token mass
    val inCounts = docs.groupBy($"source").agg(count(lit(1)).as("n_docs_in"))
    val keptCounts = kept.groupBy($"source")
      .agg(count(lit(1)).as("n_kept_quality"))
    val dedupStats = winners.groupBy($"source")
      .agg(count(lit(1)).as("n_after_dedup"),
        sum($"n_tokens".cast(LongType)).as("total_tokens"))
    val nSeq = expr(s"(total_tokens + ${PackLen - 1}) div $PackLen")
    inCounts
      .join(keptCounts, Seq("source"), "left")
      .join(dedupStats, Seq("source"), "left")
      .select($"source", $"n_docs_in",
        coalesce($"n_kept_quality", lit(0L)).as("n_kept_quality"),
        coalesce($"n_after_dedup", lit(0L)).as("n_after_dedup"),
        coalesce($"total_tokens", lit(0L)).as("total_tokens"),
        coalesce(nSeq, lit(0L)).as("n_sequences"),
        when(coalesce(nSeq, lit(0L)) > 0,
          $"total_tokens".cast(DoubleType) /
            (nSeq * lit(PackLen)).cast(DoubleType))
          .otherwise(0.0).as("fill_ratio"))
      .orderBy($"source")
  }

  private def p01Sql: String =
    s"""WITH ${TextOps.t09QualityCtes},
       |kept AS (
       |  SELECT d.doc_id, d.source, f.n_tokens,
       |    md5(lower(trim(d.text))) AS fp
       |  FROM documents d JOIN frac f USING (doc_id)
       |  WHERE ${TextOps.t09KeepSql}),
       |winners AS (
       |  SELECT fp, arg_min(source, doc_id) AS source,
       |    arg_min(n_tokens, doc_id) AS n_tokens
       |  FROM kept GROUP BY fp),
       |icounts AS (
       |  SELECT source, COUNT(*) AS n_docs_in FROM documents GROUP BY source),
       |kcounts AS (
       |  SELECT source, COUNT(*) AS n_kept_quality FROM kept GROUP BY source),
       |dstats AS (
       |  SELECT source, COUNT(*) AS n_after_dedup,
       |    CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
       |  FROM winners GROUP BY source)
       |SELECT i.source, i.n_docs_in,
       |  COALESCE(k.n_kept_quality, 0) AS n_kept_quality,
       |  COALESCE(d.n_after_dedup, 0) AS n_after_dedup,
       |  COALESCE(d.total_tokens, 0) AS total_tokens,
       |  COALESCE((d.total_tokens + ${PackLen - 1}) // $PackLen, 0) AS n_sequences,
       |  CASE WHEN COALESCE((d.total_tokens + ${PackLen - 1}) // $PackLen, 0) > 0
       |    THEN CAST(d.total_tokens AS DOUBLE)
       |      / CAST(((d.total_tokens + ${PackLen - 1}) // $PackLen) * $PackLen AS DOUBLE)
       |    ELSE 0.0 END AS fill_ratio
       |FROM icounts i
       |LEFT JOIN kcounts k ON i.source = k.source
       |LEFT JOIN dstats d ON i.source = d.source
       |ORDER BY i.source""".stripMargin

  // ---------------------------------------------------------------------
  // p02: INCREMENTAL corpus ingest — the production loop at 100 TB:
  // the standing corpus is indexed ONCE (between ingests the index
  // lives materialized / on the checkpoint FS), and each delta batch is
  // probed against it through the full admission chain:
  //   benchmark-membership → d07 near-dup probe → t18 decontamination
  //   → t09 quality gate → t14 sequence packing,
  // emitting one per-source ingest report. Every stage is the registry
  // op's own logic, and the corpus-sized work all lives in the index
  // build — the incremental DAG's cost tracks the DELTA: the probe
  // join shuffles delta shingles into the index's layout, the
  // benchmark fp index broadcasts, the gate is a narrow map over delta
  // rows only (t09On — NOT a rescan of the corpus), and packing
  // windows over admitted delta rows per source. `P02IndexSpec`
  // asserts the incremental plan scans the materialized index
  // (ExistingRDD) and never re-filters the corpus side.
  // ---------------------------------------------------------------------

  /** The standing indexes a production ingest keeps between deltas:
    * built from the non-delta corpus once, all frames materialized
    * (checkpoint-FS-aware via [[Materialize]]).
    *
    * r18 (guide §1.2/§2.3): `corpusSizes` (per-corpus-doc shingle
    * counts) depends on nothing but the index, so it is computed ONCE
    * here instead of per delta — the incremental DAG no longer
    * contains any corpus-sized aggregation. The hot-shingle anti-joins
    * broadcast `hot` when its MEASURED size fits the session's
    * broadcast threshold (r19: the set of shingles with df > DfCap
    * grows with the corpus, so an unconditional hint would OOM the
    * driver at scale — `Materialize.broadcastIfSmall` reads the real
    * post-checkpoint stats), and the materialized frames carry REAL sizes
    * (localCheckpoint stats), so the probe join picks its build side
    * from actual bytes rather than defaults. The shingle and winnow-fp
    * chains are data-independent and run as CONCURRENT jobs (guide
    * §2.6): the second chain's tasks back-fill executors idled by the
    * first chain's stage tails. */
  final case class StandingIndex(
      hotShingles: DataFrame, // (w) stop-shingles, df > Dedup.DfCap
      shingleIdx: DataFrame,  // (doc_id, w) df-capped inverted index (d07's idxC)
      corpusSizes: DataFrame, // (corpus_id, nc) shingle count per indexed doc
      rareFp: DataFrame,      // (m) winnow fps with standing df <= DcDfCap
      benchFp: DataFrame)     // (bench_id, m) rare fps of held-out docs

  import Materialize.inParallel

  /** Build the standing index from the corpus side (doc_id % 10 != 0;
    * the held-out benchmark inside it is doc_id % 11 == 0, t18's
    * convention). The df-cap statistics are computed HERE, from corpus
    * data — the delta is filtered by index metadata, exactly like d07. */
  def p02Index(spark: SparkSession, dir: String): StandingIndex = {
    import spark.implicits._
    val standing = Tables.load(spark, dir, "documents")
      .filter($"doc_id" % 10 =!= 0)
    val ((hot, shingleIdx, corpusSizes), (rareFp, benchFp)) = inParallel({
      val sh = standing
        .select($"doc_id", explode(Dedup.shingles(spark, $"text")).as("w"))
        .materialize
      val hot = sh.groupBy($"w").agg(count(lit(1)).as("df"))
        .filter($"df" > Dedup.DfCap).select($"w").materialize
      val shingleIdx = sh.join(Materialize.broadcastIfSmall(hot),
        Seq("w"), "left_anti")
        .materialize
      val corpusSizes = shingleIdx.groupBy($"doc_id".as("corpus_id"))
        .agg(count(lit(1)).as("nc")).materialize
      (hot, shingleIdx, corpusSizes)
    }, {
      val fps = standing.filter(length($"text") >= 8)
        .select($"doc_id",
          explode(graft.functions.TextKernels.winnowFpSampleCol(
            spark, lower($"text"), 1, 0)).as("m"))
        .materialize
      val rareFp = fps.groupBy($"m").agg(count(lit(1)).as("df"))
        .filter($"df" <= TextOps.DcDfCap).select($"m").materialize
      val benchFp = fps.filter($"doc_id" % 11 === 0)
        .join(rareFp, Seq("m"), "left_semi")
        .select($"doc_id".as("bench_id"), $"m").materialize
      (rareFp, benchFp)
    })
    StandingIndex(hot, shingleIdx, corpusSizes, rareFp, benchFp)
  }

  /** One delta ingest against a prebuilt [[StandingIndex]]: per-source
    * admission report. Stages are sequential-exclusive — a doc is
    * counted at the FIRST stage that rejects it. */
  def p02Incremental(spark: SparkSession, dir: String,
      idx: StandingIndex): DataFrame = {
    import spark.implicits._
    val delta = Tables.load(spark, dir, "documents")
      .filter($"doc_id" % 10 === 0)

    // d07 probe: delta shingles (index-metadata-capped) vs the standing
    // inverted index; duplicate = any corpus doc at Jaccard >= 0.8.
    // The two delta projections (shingles, winnow fps) are independent
    // — materialize them as concurrent jobs (guide §2.6)
    val (idxN, fpN) = inParallel(
      delta
        .select($"doc_id", explode(Dedup.shingles(spark, $"text")).as("w"))
        .join(Materialize.broadcastIfSmall(idx.hotShingles),
          Seq("w"), "left_anti")
        .materialize,
      delta.filter(length($"text") >= 8)
        .select($"doc_id",
          explode(graft.functions.TextKernels.winnowFpSampleCol(
            spark, lower($"text"), 1, 0)).as("m"))
        .join(idx.rareFp, Seq("m"), "left_semi")
        .materialize)
    val sizeN = idxN.groupBy($"doc_id".as("new_id")).agg(count(lit(1)).as("nn"))
    // per-doc corpus sizes come precomputed off the standing index
    // (r18) — no corpus-sized aggregation inside the delta DAG
    val inter = idxN.as("a").join(idx.shingleIdx.as("b"), $"a.w" === $"b.w")
      .groupBy($"a.doc_id".as("new_id"), $"b.doc_id".as("corpus_id"))
      .agg(count(lit(1)).as("c"))
    val dup = inter.join(sizeN, Seq("new_id"))
      .join(idx.corpusSizes, Seq("corpus_id"))
      .filter($"c".cast(DoubleType) / ($"nn" + $"nc" - $"c") >= 0.8)
      .select($"new_id").distinct()

    // t18 probe: delta winnow fps (rare per index stats, materialized
    // above) vs the broadcast benchmark fp index; contaminated =
    // containment >= 0.5
    val szN = fpN.groupBy($"doc_id").agg(count(lit(1)).as("n_fp"))
    val sharedN = fpN.join(Materialize.broadcastIfSmall(idx.benchFp), Seq("m"))
      .groupBy($"doc_id").agg(countDistinct($"m").as("n_shared"))
    val contam = szN.join(sharedN, Seq("doc_id"))
      .filter($"n_fp" > 0 &&
        $"n_shared".cast(DoubleType) / $"n_fp" >= TextOps.DcMinContainment)
      .select($"doc_id")

    // t09 gate over the DELTA ONLY (t09On: per-row, no corpus rescan)
    val gate = TextOps.t09On(delta).select($"doc_id", $"n_tokens", $"keep")

    // per-doc verdict, stage-exclusive
    val verdict = delta.select($"doc_id", $"source")
      .join(gate, Seq("doc_id"))
      .join(dup.withColumn("d", lit(true)),
        $"doc_id" === $"new_id", "left_outer")
      .join(contam.withColumnRenamed("doc_id", "cid").withColumn("ct", lit(true)),
        $"doc_id" === $"cid", "left_outer")
      .select($"doc_id", $"source", $"n_tokens",
        ($"doc_id" % 11 === 0).as("is_bench"),
        coalesce($"d", lit(false)).as("is_dup"),
        coalesce($"ct", lit(false)).as("is_contam"),
        $"keep")
      .withColumn("admitted",
        !$"is_bench" && !$"is_dup" && !$"is_contam" && $"keep")

    // t14 pack over the admitted docs, per source
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"source").orderBy($"doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val pack = verdict.filter($"admitted")
      .withColumn("cum", sum($"n_tokens".cast(LongType)).over(w))
      .groupBy($"source")
      .agg(sum($"n_tokens".cast(LongType)).as("total_tokens"),
        ((max($"cum") + lit(PackLen - 1)) / lit(PackLen)).cast(LongType).as("n_seqs"),
        when(max($"cum") > 0, (max($"cum") - 1) % PackLen + 1)
          .otherwise(0L).as("last_seq_fill"))

    verdict.groupBy($"source")
      .agg(count(lit(1)).as("n_delta"),
        sum(when($"is_bench", 1L).otherwise(0L)).as("n_bench_member"),
        sum(when(!$"is_bench" && $"is_dup", 1L).otherwise(0L)).as("n_dup"),
        sum(when(!$"is_bench" && !$"is_dup" && $"is_contam", 1L).otherwise(0L))
          .as("n_contaminated"),
        sum(when(!$"is_bench" && !$"is_dup" && !$"is_contam" && !$"keep", 1L)
          .otherwise(0L)).as("n_quality_drop"),
        sum(when($"admitted", 1L).otherwise(0L)).as("n_admitted"))
      .join(pack, Seq("source"), "left_outer")
      .select($"source", $"n_delta", $"n_bench_member", $"n_dup",
        $"n_contaminated", $"n_quality_drop", $"n_admitted",
        coalesce($"total_tokens", lit(0L)).as("total_tokens"),
        coalesce($"n_seqs", lit(0L)).as("n_seqs"),
        coalesce($"last_seq_fill", lit(0L)).as("last_seq_fill"))
      .orderBy($"source")
  }

  def p02(spark: SparkSession, dir: String): DataFrame =
    p02Incremental(spark, dir, p02Index(spark, dir))

  private def p02Sql: String = {
    val shingleList =
      "list_distinct([L[i] || ' ' || L[i+1] || ' ' || L[i+2] for i in range(1, len(L)-1)])"
    val tokenized =
      "SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS L"
    s"""WITH ${TextOps.t09QualityCtes},
       |${TextOps.winnowFpCtes},
       |delta AS (SELECT doc_id, source, text FROM documents WHERE doc_id % 10 = 0),
       |tokC AS (
       |  SELECT doc_id, unnest($shingleList) AS w
       |  FROM ($tokenized FROM documents WHERE doc_id % 10 <> 0)
       |  WHERE len(L) >= 3),
       |tokN AS (
       |  SELECT doc_id, unnest($shingleList) AS w
       |  FROM ($tokenized FROM delta) WHERE len(L) >= 3),
       |hot AS (SELECT w FROM tokC GROUP BY w HAVING COUNT(*) > ${Dedup.DfCap}),
       |idxC AS (SELECT doc_id, w FROM tokC ANTI JOIN hot USING (w)),
       |idxN AS (SELECT doc_id, w FROM tokN ANTI JOIN hot USING (w)),
       |sizeC AS (SELECT doc_id AS corpus_id, COUNT(*) AS nc FROM idxC GROUP BY 1),
       |sizeN AS (SELECT doc_id AS new_id, COUNT(*) AS nn FROM idxN GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS new_id, b.doc_id AS corpus_id, COUNT(*) AS c
       |  FROM idxN a JOIN idxC b ON a.w = b.w GROUP BY 1, 2),
       |dup AS (
       |  SELECT DISTINCT new_id
       |  FROM inter JOIN sizeN USING (new_id) JOIN sizeC USING (corpus_id)
       |  WHERE CAST(c AS DOUBLE) / (nn + nc - c) >= 0.8),
       |standingfp AS (SELECT doc_id, m FROM wf0 WHERE doc_id % 10 <> 0),
       |rare AS (SELECT m FROM standingfp GROUP BY m
       |  HAVING COUNT(*) <= ${TextOps.DcDfCap}),
       |benchfp AS (
       |  SELECT doc_id AS bench_id, m FROM standingfp SEMI JOIN rare USING (m)
       |  WHERE doc_id % 11 = 0),
       |deltafp AS (
       |  SELECT doc_id, m FROM wf0 SEMI JOIN rare USING (m)
       |  WHERE doc_id % 10 = 0),
       |szn AS (SELECT doc_id, COUNT(*) AS n_fp FROM deltafp GROUP BY 1),
       |sharedn AS (
       |  SELECT d.doc_id, COUNT(DISTINCT d.m) AS n_shared
       |  FROM deltafp d JOIN benchfp b ON d.m = b.m GROUP BY 1),
       |contam AS (
       |  SELECT doc_id FROM szn JOIN sharedn USING (doc_id)
       |  WHERE n_fp > 0
       |    AND CAST(n_shared AS DOUBLE) / n_fp >= ${TextOps.DcMinContainment}),
       |verdict AS (
       |  SELECT dl.doc_id, dl.source, f.n_tokens,
       |    (dl.doc_id % 11 = 0) AS is_bench,
       |    (dp.new_id IS NOT NULL) AS is_dup,
       |    (ct.doc_id IS NOT NULL) AS is_contam,
       |    (${TextOps.t09KeepSql}) AS keep
       |  FROM delta dl
       |  JOIN frac f ON dl.doc_id = f.doc_id
       |  LEFT JOIN dup dp ON dl.doc_id = dp.new_id
       |  LEFT JOIN contam ct ON dl.doc_id = ct.doc_id),
       |admitted AS (
       |  SELECT doc_id, source, n_tokens FROM verdict
       |  WHERE NOT is_bench AND NOT is_dup AND NOT is_contam AND keep),
       |cums AS (
       |  SELECT source, n_tokens,
       |    SUM(CAST(n_tokens AS BIGINT)) OVER (PARTITION BY source
       |      ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM admitted),
       |pack AS (
       |  SELECT source,
       |    CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       |    CAST((MAX(cum) + ${PackLen - 1}) // $PackLen AS BIGINT) AS n_seqs,
       |    CAST(CASE WHEN MAX(cum) > 0 THEN (MAX(cum) - 1) % $PackLen + 1
       |      ELSE 0 END AS BIGINT) AS last_seq_fill
       |  FROM cums GROUP BY source),
       |stats AS (
       |  SELECT source, COUNT(*) AS n_delta,
       |    CAST(SUM(CASE WHEN is_bench THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_bench_member,
       |    CAST(SUM(CASE WHEN NOT is_bench AND is_dup THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_dup,
       |    CAST(SUM(CASE WHEN NOT is_bench AND NOT is_dup AND is_contam
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
       |    CAST(SUM(CASE WHEN NOT is_bench AND NOT is_dup AND NOT is_contam
       |      AND NOT keep THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_drop,
       |    CAST(SUM(CASE WHEN NOT is_bench AND NOT is_dup AND NOT is_contam
       |      AND keep THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted
       |  FROM verdict GROUP BY source)
       |SELECT s.source, s.n_delta, s.n_bench_member, s.n_dup,
       |  s.n_contaminated, s.n_quality_drop, s.n_admitted,
       |  COALESCE(p.total_tokens, 0) AS total_tokens,
       |  COALESCE(p.n_seqs, 0) AS n_seqs,
       |  COALESCE(p.last_seq_fill, 0) AS last_seq_fill
       |FROM stats s LEFT JOIN pack p USING (source)
       |ORDER BY s.source""".stripMargin
  }

  // ---------------------------------------------------------------------
  // p03: CONTINUOUS corpus ingest — the STREAMING form of the pipeline:
  // documents arrive in micro-batches (4 files × maxFilesPerTrigger=1
  // here; a landing zone or Kafka in production) and each batch flows
  // gate → fingerprint → ledger-merge:
  //   t09 quality gate (narrow, per row) → d01's md5 fingerprint →
  //   per-fp batch partials (min doc_id) → foreachBatch MERGE into a
  //   standing dedup ledger ([[graft.streaming.StreamOps
  //   .dedupLedgerMerge]]: keep the min-doc_id winner per fp — an
  //   associative, commutative, IDEMPOTENT combine, so any
  //   micro-batching converges to the batch dedup truth and a replayed
  //   batch is a no-op).
  // The settled ledger's winners then get t21's deterministic split
  // (content-stable: every copy of a duplicate resolves to one winner,
  // hence one split — no eval leakage through duplicates) and the
  // per-(source, split) t14 pack yield. Each ledger version is
  // materialized to parquet before the next merge — finite plans, and
  // the version swap is the Delta/Iceberg MERGE commit stand-in.
  //
  // Scale: per batch the work is a narrow gate over the DELTA plus a
  // full-outer join on fp against the ledger — at 100 TB the ledger is
  // bucketed by fp so the merge co-locates, and the batch side is
  // delta-sized. Nothing rescans the corpus.
  // ---------------------------------------------------------------------
  private[graft] def p03Run(spark: SparkSession, dir: String): (DataFrame, Long) = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    import java.util.concurrent.atomic.{AtomicLong, AtomicReference}
    val src = graft.Scratch.dir("p03_src")
    Tables.load(spark, dir, "documents").repartition(4).write.parquet(src)
    val schema = spark.read.parquet(src).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    val stateRef = new AtomicReference[DataFrame](null)
    val nBatches = new AtomicLong(0)
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        nBatches.incrementAndGet()
        val gate = TextOps.t09On(batch).select($"doc_id", $"n_tokens", $"keep")
        val delta = batch.select($"doc_id", $"source", $"text")
          .join(gate, "doc_id").filter($"keep")
          .select($"doc_id", $"source", $"n_tokens",
            md5(lower(trim($"text"))).as("fp"))
          .groupBy($"fp")
          .agg(min($"doc_id").as("doc_id"),
            min_by($"source", $"doc_id").as("source"),
            min_by($"n_tokens", $"doc_id").as("n_tokens"))
        val merged = Option(stateRef.get())
          .map(graft.streaming.StreamOps.dedupLedgerMerge(_, delta))
          .getOrElse(delta)
        val version = graft.Scratch.dir("p03_ledger")
        merged.write.parquet(version)
        stateRef.set(spark.read.parquet(version))
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    (stateRef.get(), nBatches.get())
  }

  def p03(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (ledger, _) = p03Run(spark, dir)
    val nSeq = expr(s"(total_tokens + ${PackLen - 1}) div $PackLen")
    ledger
      .withColumn("split_bucket", TextOps.splitBucket($"doc_id"))
      .withColumn("split",
        when($"split_bucket" < 80, "train")
          .when($"split_bucket" < 90, "val")
          .otherwise("test"))
      .groupBy($"source", $"split")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_tokens".cast(LongType)).as("total_tokens"))
      .select($"source", $"split", $"n_docs", $"total_tokens",
        nSeq.as("n_seqs"))
      .orderBy($"source", $"split")
  }

  private def p03Sql: String =
    s"""WITH ${TextOps.t09QualityCtes},
       |kept AS (
       |  SELECT d.doc_id, d.source, f.n_tokens,
       |    md5(lower(trim(d.text))) AS fp
       |  FROM documents d JOIN frac f USING (doc_id)
       |  WHERE ${TextOps.t09KeepSql}),
       |winners AS (
       |  SELECT fp, MIN(doc_id) AS doc_id,
       |    arg_min(source, doc_id) AS source,
       |    arg_min(n_tokens, doc_id) AS n_tokens
       |  FROM kept GROUP BY fp),
       |tagged AS (
       |  SELECT source, n_tokens,
       |    ((((doc_id % 2147483646) + 1) * 48271 % 2147483647)
       |      * 69621 % 2147483647) % 100 AS b
       |  FROM winners)
       |SELECT source,
       |  CASE WHEN b < 80 THEN 'train'
       |       WHEN b < 90 THEN 'val'
       |       ELSE 'test' END AS split,
       |  COUNT(*) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       |  (CAST(SUM(n_tokens) AS BIGINT) + ${PackLen - 1}) // $PackLen AS n_seqs
       |FROM tagged
       |GROUP BY source, split
       |ORDER BY source, split""".stripMargin

  // ---------------------------------------------------------------------
  // p04: PARTITION-SCOPED BACKFILL — the lakehouse correction loop: a
  // derived monthly table is found to have used wrong logic for one
  // period ('P'-status orders were invalid during 1996), so the fix
  // RECOMPUTES ONLY THE AFFECTED MONTHS and commits them as a new
  // snapshot version on q78's manifest protocol — every other month's
  // files carry over BY REFERENCE (zero rewrite I/O outside the blast
  // radius), and the pre-fix version stays readable for before/after
  // audits. At 100 TB this is the difference between reprocessing a
  // month and reprocessing a decade. Layout: `partitionBy(part_month)`
  // gives month-pure files; the manifest stores month DIRECTORY paths
  // (month also rides as a normal data column, so leaf-file reads keep
  // it). The query reads BOTH versions and rolls up per year — the
  // audit view showing exactly which year moved and by how much.
  // ---------------------------------------------------------------------
  private def p04MonthDirs(versionDir: String): Seq[String] =
    new java.io.File(versionDir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("part_month="))
      .map(_.getAbsolutePath).toSeq

  private[graft] def p04Table(spark: SparkSession, dir: String): String = {
    import spark.implicits._
    val base = graft.Scratch.dir("p04_table")
    val orders = Tables.load(spark, dir, "orders")
      .select($"o_orderdate", $"o_orderstatus",
        $"o_totalprice".cast(DecimalType(18, 2)).as("price"))
    def monthly(df: DataFrame): DataFrame =
      df.groupBy(date_format($"o_orderdate", "yyyy-MM").as("month"))
        .agg(count(lit(1)).as("n_orders"), sum($"price").as("revenue"))
        .withColumn("part_month", $"month")
    // v1: the original build (bug: counts 'P' orders in 1996)
    monthly(orders).write.partitionBy("part_month").parquet(s"$base/files-v1")
    val v1 = p04MonthDirs(s"$base/files-v1")
    GraftManifest.commitAt(base, 1, v1.map(GraftManifest.Entry(_)))
    // v2: the backfill — corrected logic, RECOMPUTED FOR 1996 ONLY
    monthly(orders.filter(
        !(date_format($"o_orderdate", "yyyy") === "1996" &&
          $"o_orderstatus" === "P")))
      .filter($"month".startsWith("1996"))
      .write.partitionBy("part_month").parquet(s"$base/files-v2")
    val untouched = v1.filterNot(_.contains("part_month=1996"))
    GraftManifest.commitAt(base, 2,
      (untouched ++ p04MonthDirs(s"$base/files-v2")).map(GraftManifest.Entry(_)))
    base
  }

  def p04(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = p04Table(spark, dir)
    (1 to 2).map { v =>
      spark.read.parquet(GraftManifest.read(base, v).paths: _*)
        .groupBy(substring($"month", 1, 4).as("year"))
        .agg(count(lit(1)).as("n_months"),
          sum($"n_orders").as("n_orders"),
          sum($"revenue").cast(DoubleType).as("revenue"))
        .withColumn("version", lit(v.toLong))
    }.reduce(_ unionByName _)
      .select($"version", $"year", $"n_months", $"n_orders", $"revenue")
      .orderBy($"version", $"year")
  }

  private val p04Sql =
    """WITH v AS (
      |  SELECT 1 AS version, o_orderdate, o_totalprice FROM orders
      |  UNION ALL
      |  SELECT 2, o_orderdate, o_totalprice FROM orders
      |  WHERE NOT (strftime(o_orderdate, '%Y') = '1996' AND o_orderstatus = 'P'))
      |SELECT CAST(version AS BIGINT) AS version,
      |  strftime(o_orderdate, '%Y') AS year,
      |  COUNT(DISTINCT strftime(o_orderdate, '%Y-%m')) AS n_months,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM v
      |GROUP BY version, year
      |ORDER BY version, year""".stripMargin

  val queries: ListMap[String, (SparkSession, String) => DataFrame] = ListMap(
    "p01_corpus_pipeline" -> (p01 _),
    "p02_incremental_ingest" -> (p02 _),
    "p03_stream_ingest" -> (p03 _),
    "p04_backfill" -> (p04 _))

  val oracle: ListMap[String, String] = ListMap(
    "p01_corpus_pipeline" -> p01Sql,
    "p02_incremental_ingest" -> p02Sql,
    "p03_stream_ingest" -> p03Sql,
    "p04_backfill" -> p04Sql)
}
