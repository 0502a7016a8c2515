package graft.ops

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.ops.Materialize.MaterializeOps
import graft.functions.{MinHash, SrpLsh, VectorOps}

/** Deduplication operators over `documents` / `embeddings`:
  *
  *  - d01 exact (normalize → md5 → group)
  *  - d02 exact n-gram Jaccard (shingle inverted-index join — no O(n²))
  *  - d03 MinHash + LSH banding (the 100 TB-scale near-dup path)
  *  - d04 SimHash + banded Hamming search
  *  - d05 embedding near-dup via signed-random-projection LSH + exact
  *    cosine verify (codegen'd `CosineSimilarity`)
  *
  * Scale design: every op is generate-candidates-by-key → verify, where
  * candidate generation is a shuffle on a content-derived key (shingle,
  * band key, SRP bucket). Nothing enumerates all pairs; skew on hot keys
  * is bounded because signatures/buckets are hashes (uniform).
  */
object Dedup {

  /** Distinct word-3-gram shingles of a text column (empty if <3
    * tokens) — the codegen'd ShingleSet kernel. */
  def shingles(spark: SparkSession, text: Column): Column =
    graft.functions.TextKernels.shingleSetCol(spark, lower(text))

  /** The pre-round-6 higher-order-function formulation of [[shingles]],
    * kept as the independent semantics witness for DedupSpec. */
  private[ops] def shinglesInterpreted(text: Column): Column = {
    val L = TextOps.tokens(lower(text))
    when(size(L) >= 3,
      array_distinct(transform(sequence(lit(1), size(L) - 2), i =>
        concat_ws(" ", element_at(L, i), element_at(L, i + 1), element_at(L, i + 2)))))
      .otherwise(array().cast(ArrayType(StringType)))
  }

  // ---------------------------------------------------------------------
  // d01: exact dedup — one hash-shuffle on the fingerprint.
  // ---------------------------------------------------------------------
  def d01(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .groupBy(md5(lower(trim($"text"))).as("fingerprint"))
      .agg(min($"doc_id").as("keep_doc_id"), count(lit(1)).as("n_copies"))
      .orderBy($"fingerprint")
  }

  private val d01Sql =
    """SELECT md5(lower(trim(text))) AS fingerprint,
      |  MIN(doc_id) AS keep_doc_id,
      |  COUNT(*) AS n_copies
      |FROM documents
      |GROUP BY fingerprint
      |ORDER BY fingerprint""".stripMargin

  // ---------------------------------------------------------------------
  // d02: exact n-gram Jaccard near-dup pairs. Any pair with J >= t (t>0)
  // shares a shingle, so the inverted-index join is lossless over the
  // capped shingle universe; the threshold prunes before output.
  //
  // Scale: candidate pairs per shingle are O(df²) — a boilerplate 3-gram
  // shared by 1M docs would enumerate 10¹² pairs. The document-frequency
  // cap drops shingles with df > DfCap (the standard stop-shingle filter
  // in exact-Jaccard systems) BEFORE the self-join, bounding candidates
  // at DfCap²/2 per surviving shingle. Jaccard is then computed over the
  // capped universe on both engines (sizes use capped sets too), so the
  // oracle stays hash-exact. Boilerplate shingles carry no dedup signal:
  // a pair whose overlap was only boilerplate isn't a near-dup.
  // ---------------------------------------------------------------------
  private[ops] val DfCap = 100

  /** (doc_id, w) inverted index after the df-cap: shingles present in
    * more than [[DfCap]] documents are removed. The hot-shingle set is
    * tiny (≤ distinct-shingles/DfCap entries), so AQE broadcasts the
    * anti-join side; the groupBy shuffles on the same key as the main
    * join and partially aggregates map-side. */
  private[graft] def cappedShingleIndex(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val sh = docs.select($"doc_id",
      explode(shingles(docs.sparkSession, $"text")).as("w"))
    val hot = sh.groupBy($"w").agg(count(lit(1)).as("df"))
      .filter($"df" > DfCap).select($"w")
    sh.join(hot, Seq("w"), "left_anti")
  }

  private[graft] def d02On(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    // materialize the capped index ONCE: it feeds both self-join sides
    // and the per-doc sizes, and Spark plans each consumer as a full
    // recompute of the kernel+explode+df-cap subtree (no exchange reuse
    // across differing aggregates — verified on the physical plan, where
    // the Generate appeared 4×). The checkpoint also cuts the lineage so
    // d06's loop never re-derives it. Durability follows [[Materialize]]:
    // reliable checkpoint FS when the session configures one.
    val shc = cappedShingleIndex(docs).materialize
    val sizes = shc.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val inter = shc.as("a").join(shc.as("b"),
        $"a.w" === $"b.w" && $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .agg(count(lit(1)).as("c"))
    inter
      .join(sizes.as("sa"), $"doc_a" === $"sa.doc_id")
      .join(sizes.as("sb"), $"doc_b" === $"sb.doc_id")
      .select($"doc_a", $"doc_b",
        ($"c".cast(DoubleType) / ($"sa.n" + $"sb.n" - $"c")).as("jaccard"))
      .filter($"jaccard" >= 0.8)
      .orderBy($"doc_a", $"doc_b")
  }

  def d02(spark: SparkSession, dir: String): DataFrame =
    d02On(Tables.load(spark, dir, "documents"))

  /** d02's pair computation as a CTE chain ending in `pairs`, over the
    * given source table; shared by the d02 oracle and d06's edge source
    * (both over full `documents` — the winnow prefilter was measured
    * and rejected, see the note above [[d06]]). */
  private def d02Ctes(source: String) =
    s"""toks AS (
      |  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS L FROM $source),
      |sh AS (
      |  SELECT doc_id, list_distinct([L[i] || ' ' || L[i+1] || ' ' || L[i+2] for i in range(1, len(L)-1)]) AS S
      |  FROM toks WHERE len(L) >= 3),
      |tok AS (SELECT doc_id, unnest(S) AS w FROM sh),
      |hot AS (SELECT w FROM tok GROUP BY w HAVING COUNT(*) > $DfCap),
      |tokc AS (SELECT doc_id, w FROM tok ANTI JOIN hot USING (w)),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM tokc GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
      |  FROM tokc a JOIN tokc b ON a.w = b.w AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT doc_a, doc_b,
      |    CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jaccard
      |  FROM inter
      |  JOIN sizes sa ON doc_a = sa.doc_id
      |  JOIN sizes sb ON doc_b = sb.doc_id
      |  WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.8)""".stripMargin

  private val d02Sql =
    s"WITH ${d02Ctes("documents")}\nSELECT doc_a, doc_b, jaccard FROM pairs ORDER BY doc_a, doc_b"

  // ---------------------------------------------------------------------
  // d03: MinHash + LSH banding. The full 128-permutation signature is
  // ONE codegen'd kernel (MinHashSig: shingle → h60 → affine mins in a
  // compiled per-row loop), so signature building is a narrow map with
  // no shuffle at all — at 100 TB nothing is exchanged until the
  // (doc, 128 longs) signatures hit the band-key bucket join. Band keys
  // (32 bands × 4 rows) bucket candidates; estimated Jaccard = signature
  // agreement (codegen'd MinHashAgree). Base hash is the portable
  // md5-derived h60, so the whole pipeline is hash-verified against a
  // DuckDB oracle.
  // ---------------------------------------------------------------------
  private def NumHashes = MinHash.NumHashes
  private def Bands = MinHash.Bands
  private def RowsPerBand = MinHash.RowsPerBand
  private def P = MinHash.P

  /** Band-bucket occupancy cap (d02's df-cap medicine applied to LSH):
    * buckets with more than this many members are dropped before pair
    * generation. Hot buckets are near-boilerplate collisions whose
    * members pair quadratically — the r8 sf1 audit measured candidate
    * pairs growing 3,658× for 10× data (26.8M pairs, hottest bucket
    * 810 members) with NO cap; at 64 the same corpus generates 4.0M
    * (6.7× fewer) and a true duplicate pair still surfaces through any
    * of its ~Bands cold buckets. At the correctness-gate scales the
    * hottest bucket holds 4 members, so the cap provably changes no
    * gate row. */
  private[ops] val BandCap = 64

  def d03(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
    // the signature map feeds the banding pass AND both pair-verify
    // joins — materialize the kernel's output once (the d02/t08
    // multi-consumer rule; previously a "narrow recompute" that ran the
    // 128-permutation kernel three times per query)
    val withSig = docs
      .select($"doc_id", MinHash.sigCol(spark, lower($"text")).as("sig"))
      .filter($"sig".isNotNull) // <3-token docs have no shingles
      .materialize
    val bandKeys = (0 until Bands).map { j =>
      struct(lit(j).as("j") +: (0 until RowsPerBand).map(r =>
        element_at($"sig", j * RowsPerBand + r + 1).as(s"k$r")): _*)
    }
    // the banding self-join exchanges only (doc_id, band_key) — carrying
    // the 128-long signature through the 32× explode would multiply the
    // shuffle by the fan-out; instead the (small) surviving pair list
    // re-joins the signature map, which AQE turns into broadcast joins.
    // bands feeds the occupancy count AND both self-join sides —
    // materialized once as well.
    val bands = withSig.select($"doc_id",
      explode(array(bandKeys: _*)).as("band_key")).materialize
    val cold = bands.groupBy($"band_key").agg(count(lit(1)).as("c"))
      .filter($"c" >= 2 && $"c" <= BandCap).select($"band_key")
    val idx = bands.join(cold, Seq("band_key"), "left_semi")
    val pairIds = idx.as("x").join(idx.as("y"),
        $"x.band_key" === $"y.band_key" && $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("doc_a"), $"y.doc_id".as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    pairIds
      .join(withSig.as("sa"), $"doc_a" === $"sa.doc_id")
      .join(withSig.as("sb"), $"doc_b" === $"sb.doc_id")
      .withColumn("est_jaccard",
        MinHash.agreeCol(spark, $"sa.sig", $"sb.sig").cast(DoubleType) / NumHashes)
      .filter($"est_jaccard" >= 0.5)
      .select($"doc_a", $"doc_b", $"est_jaccard")
      .orderBy($"doc_a", $"doc_b")
  }

  /** The pre-round-6 column-pipeline formulation of d03 (explode +
    * 128-column min aggregation + interpreted zip_with agreement), kept
    * as the independent semantics witness: DedupSpec asserts the codegen
    * kernels produce row-identical output. Not registered. */
  private[ops] def d03Interpreted(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
    // base hash reduced into [0, P) so a*h+b stays < 2^62 (ANSI-safe).
    val sh = docs.select($"doc_id",
        explode(shinglesInterpreted($"text")).as("w"))
      .withColumn("h", pmod(PortableSql.h60($"w"), lit(P)))
    val minExprs = MinHash.coefs.zipWithIndex.map { case ((a, b), i) =>
      min(pmod($"h" * lit(a) + lit(b), lit(P))).as(s"s$i")
    }
    val sigs = sh.groupBy($"doc_id").agg(minExprs.head, minExprs.tail: _*)
    val sigArr = array((0 until NumHashes).map(i => col(s"s$i")): _*)
    val withSig = sigs.select($"doc_id", sigArr.as("sig"))
    val bandKeys = (0 until Bands).map { j =>
      struct(lit(j).as("j") +: (0 until RowsPerBand).map(r =>
        element_at($"sig", j * RowsPerBand + r + 1).as(s"k$r")): _*)
    }
    val bands = withSig.select($"doc_id", $"sig",
      explode(array(bandKeys: _*)).as("band_key"))
    val cand = bands.as("x").join(bands.as("y"),
        $"x.band_key" === $"y.band_key" && $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("doc_a"), $"y.doc_id".as("doc_b"),
        $"x.sig".as("sig_a"), $"y.sig".as("sig_b"))
      .dropDuplicates("doc_a", "doc_b")
    cand
      .withColumn("est_jaccard",
        aggregate(zip_with($"sig_a", $"sig_b",
            (a, b) => when(a === b, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast(DoubleType) / NumHashes)
      .filter($"est_jaccard" >= 0.5)
      .select($"doc_a", $"doc_b", $"est_jaccard")
      .orderBy($"doc_a", $"doc_b")
  }

  /** d03's oracle CTE chain through the deduped candidate set — shared
    * with d10's calibration audit, which extends it with exact-Jaccard
    * verification. */
  private def d03CandCtes: String = {
    val sigEntries = MinHash.coefs.map { case (a, b) =>
      s"list_min(list_transform(H, h -> (h * $a + $b) % $P))"
    }.mkString(",\n    ")
    val h60 = PortableSql.h60Sql("w")
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS L FROM documents),
       |sh AS (
       |  SELECT doc_id, list_distinct([L[i] || ' ' || L[i+1] || ' ' || L[i+2] for i in range(1, len(L)-1)]) AS S
       |  FROM toks WHERE len(L) >= 3),
       |hs AS (SELECT doc_id, list_transform(S, w -> $h60 % $P) AS H FROM sh),
       |sigs AS (SELECT doc_id, [
       |    $sigEntries
       |  ] AS sig FROM hs),
       |bands AS MATERIALIZED (
       |  SELECT doc_id, sig, j,
       |    sig[j*$RowsPerBand + 1] AS k0, sig[j*$RowsPerBand + 2] AS k1,
       |    sig[j*$RowsPerBand + 3] AS k2, sig[j*$RowsPerBand + 4] AS k3
       |  FROM sigs CROSS JOIN (SELECT unnest(range(0, $Bands)) AS j)),
       |cold AS (
       |  SELECT j, k0, k1, k2, k3 FROM bands
       |  GROUP BY j, k0, k1, k2, k3
       |  HAVING COUNT(*) >= 2 AND COUNT(*) <= $BandCap),
       |bx AS MATERIALIZED (
       |  SELECT b.* FROM bands b SEMI JOIN cold USING (j, k0, k1, k2, k3)),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b, x.sig AS sig_a, y.sig AS sig_b
       |  FROM bx x JOIN bx y
       |    ON x.j = y.j AND x.k0 = y.k0 AND x.k1 = y.k1 AND x.k2 = y.k2 AND x.k3 = y.k3
       |    AND x.doc_id < y.doc_id)""".stripMargin
  }

  private def d03Sql: String =
    s"""$d03CandCtes
       |SELECT doc_a, doc_b,
       |  CAST(len(list_filter(range(1, ${NumHashes + 1}), i -> sig_a[i] = sig_b[i])) AS DOUBLE) / $NumHashes AS est_jaccard
       |FROM cand
       |WHERE CAST(len(list_filter(range(1, ${NumHashes + 1}), i -> sig_a[i] = sig_b[i])) AS DOUBLE) / $NumHashes >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------------
  // d04: SimHash — 60-bit signature (portable h60 token hash) from
  // token-frequency-weighted bit votes, built by the codegen'd
  // SimHashSig kernel as a narrow per-row map (no token explode, no
  // shuffle until banding — the same structural rewrite as d03's
  // MinHashSig); candidates from 4×15-bit band equality; verified by
  // Hamming distance (bit_count of XOR, codegen'd builtin).
  // Hash-verified against a DuckDB oracle.
  // ---------------------------------------------------------------------
  private def SimBits = graft.functions.SimHash.Bits
  private val SimChunks = 4
  private def SimChunkBits = SimBits / SimChunks

  /** The banding + Hamming verify back end over (doc_id, simhash) —
    * shared with m04, which runs the same 4×15-bit band join over
    * aHash signatures of the media bytes. */
  private[ops] def d04Pairs(sigs: DataFrame): DataFrame = {
    import sigs.sparkSession.implicits._
    val chunks = sigs.select($"doc_id", $"simhash",
      explode(array((0 until SimChunks).map(k =>
        struct(lit(k).as("k"),
          shiftrightunsigned($"simhash", k * SimChunkBits)
            .bitwiseAND((1L << SimChunkBits) - 1).as("v"))): _*))
        .as("chunk"))
    chunks.as("x").join(chunks.as("y"),
        $"x.chunk" === $"y.chunk" && $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("doc_a"), $"y.doc_id".as("doc_b"),
        bit_count($"x.simhash".bitwiseXOR($"y.simhash")).as("hamming"))
      .dropDuplicates("doc_a", "doc_b")
      .filter($"hamming" <= 6)
      .orderBy($"doc_a", $"doc_b")
  }

  def d04(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    d04Pairs(Tables.load(spark, dir, "documents")
      .select($"doc_id",
        graft.functions.SimHash.sigCol(spark, lower($"text")).as("simhash"))
      .filter($"simhash".isNotNull))
  }

  /** The pre-round-6 explode + 60-column vote aggregation formulation,
    * kept as the independent semantics witness for DedupSpec. */
  private[ops] def d04Interpreted(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
    val tok = docs.select($"doc_id", explode(TextOps.tokens(lower($"text"))).as("t"))
      .withColumn("h", PortableSql.h60($"t"))
    val bitSums = (0 until SimBits).map { j =>
      sum(when(shiftright($"h", j).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$j")
    }
    val agged = tok.groupBy($"doc_id").agg(bitSums.head, bitSums.tail: _*)
    val simhash = (0 until SimBits).map { j =>
      when(col(s"b$j") >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
    d04Pairs(agged.select($"doc_id", simhash.as("simhash")))
  }

  private def d04Sql: String = {
    val votes = (0 until SimBits).map(j =>
      s"SUM(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS b$j").mkString(",\n    ")
    val assemble = (0 until SimBits).map(j =>
      s"(CASE WHEN b$j >= 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS t
       |  FROM documents),
       |th AS (SELECT doc_id, ${PortableSql.h60Sql("t")} AS h FROM tok),
       |votes AS (SELECT doc_id,
       |    $votes
       |  FROM th GROUP BY doc_id),
       |sigs AS (SELECT doc_id, CAST($assemble AS BIGINT) AS simhash FROM votes),
       |chunks AS (
       |  SELECT doc_id, simhash, k, (simhash >> (k * $SimChunkBits)) & ${(1L << SimChunkBits) - 1} AS v
       |  FROM sigs CROSS JOIN (SELECT unnest(range(0, $SimChunks)) AS k)),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |    x.simhash AS sa, y.simhash AS sb
       |  FROM chunks x JOIN chunks y
       |    ON x.k = y.k AND x.v = y.v AND x.doc_id < y.doc_id)
       |SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
       |FROM cand
       |WHERE bit_count(xor(sa, sb)) <= 6
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // ---------------------------------------------------------------------
  // d05: embedding near-dup — multi-table SRP-LSH buckets (the codegen'd
  // SrpBuckets kernel, shared with s02/s04) generate candidates; exact
  // cosine (native codegen expression) verifies. The packed bucket key
  // is the shuffle key; the verify join touches only same-bucket pairs.
  // ---------------------------------------------------------------------
  /** SQL arms computing (vec_id, embedding, t, b) — one UNION arm per SRP
    * table, bucket assembled from the literal hyperplanes of the given
    * bits-per-table configuration. Shared by the d05/s02 oracles
    * (default bits) and s10's at-scale variant. Joining on (t, b) is
    * equivalent to the Spark side's packed `(t << bits) | b` long key. */
  private[ops] def srpKeysSql(source: String,
      bits: Int = SrpLsh.BitsPerTable): String =
    (0 until SrpLsh.Tables).map { t =>
      val bucket = (0 until bits).map { j =>
        val ws = PortableSql.weightedSumSql("embedding",
          SrpLsh.planesFor(bits)(t * bits + j))
        s"(CASE WHEN ($ws) >= 0.0 THEN ${1L << j} ELSE 0 END)"
      }.mkString(" + ")
      s"SELECT vec_id, embedding, $t AS t, $bucket AS b FROM $source"
    }.mkString("\n  UNION ALL ")

  // near-dup threshold 0.4: the synthetic embeddings are near-uniform
  // (max pairwise cosine ≈ 0.51 at sf0.01), so 0.4 marks the top ~1e-4
  // most-similar tail — the shape of the op matters, not the constant.
  def d05(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.load(spark, dir, "embeddings")
      .select($"vec_id", $"embedding",
        explode(SrpLsh.buckets(spark, $"embedding")).as("key"))
    emb.as("x").join(emb.as("y"),
        $"x.key" === $"y.key" && $"x.vec_id" < $"y.vec_id")
      .select($"x.vec_id".as("vec_a"), $"y.vec_id".as("vec_b"),
        VectorOps.cosineSim(spark, $"x.embedding", $"y.embedding").as("cosine"))
      .dropDuplicates("vec_a", "vec_b")
      .filter($"cosine" >= 0.4)
      .orderBy($"vec_a", $"vec_b")
  }

  private def d05Sql: String = {
    val dot = PortableSql.dotSql("ea", "eb", 64)
    val na = PortableSql.dotSql("ea", "ea", 64)
    val nb = PortableSql.dotSql("eb", "eb", 64)
    val cos = PortableSql.cosineFromPartsSql("dot", "na", "nb")
    s"""WITH keys AS MATERIALIZED (
       |  ${srpKeysSql("embeddings")}),
       |cand AS (
       |  SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b,
       |    x.embedding AS ea, y.embedding AS eb
       |  FROM keys x JOIN keys y
       |    ON x.t = y.t AND x.b = y.b AND x.vec_id < y.vec_id),
       |parts AS (SELECT vec_a, vec_b, $dot AS dot, $na AS na, $nb AS nb FROM cand)
       |SELECT vec_a, vec_b, $cos AS cosine
       |FROM parts
       |WHERE $cos >= 0.4
       |ORDER BY vec_a, vec_b""".stripMargin
  }

  // ---------------------------------------------------------------------
  // d06: duplicate CLUSTERS — near-dup pairs (d02's capped Jaccard
  // graph) grouped into exact connected components by min-label
  // propagation run to convergence: each round, every vertex takes the
  // minimum label among itself and its neighbors; the loop exits when a
  // round changes no label, which happens after at most
  // max-component-diameter rounds (labels only decrease and the fixed
  // point is the component minimum). All-integer arithmetic, so the
  // DuckDB oracle (reachability via a recursive CTE — exact components
  // by construction) matches hash-exactly.
  //
  // This is what a dedup pipeline actually consumes: "keep cluster_rep,
  // drop the rest", not a bag of pairs. Scale: O(diameter) rounds, each
  // one join + groupBy shuffled on vertex id — the standard distributed
  // connected-components loop (large-star/small-star is the same shape
  // with better skew behavior at extreme component sizes). Near-dup
  // graphs are overwhelmingly short chains, so the expected round count
  // is small and data-independent work per round is O(|E|).
  // ---------------------------------------------------------------------
  /** Safety cap only — the loop exits on the first no-change round. A
    * component of diameter > MaxLabelRounds would get split labels, but
    * hitting that would mean a near-dup chain 64 hops long. */
  private val MaxLabelRounds = 64

  /** Exact connected components of an undirected pair list (columns =
    * two vertex ids): returns (v, lbl) with lbl = min vertex id of v's
    * component. Runs min-label propagation until no label changes.
    *
    * Each round's labels are checkpointed: the checkpoint cuts the
    * lineage so (a) round k+1's plan doesn't re-execute rounds 1..k,
    * and (b) the input's lineage (for d06, the whole d02 pipeline) is
    * executed exactly once and released — no persist handle outlives the
    * call. Durability (reliable checkpoint dir vs executor-local
    * blocks) follows [[Materialize]] — as does every other corpus-scale
    * materialization in the ops package since r10. */
  private[graft] def connectedComponents(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    def cut(df: DataFrame): DataFrame = Materialize(df)
    val p = pairs.toDF("pa", "pb")
    val edges = cut(p.union(p.select($"pb", $"pa")).toDF("src", "dst"))
    var labels = cut(edges.select($"src".as("v")).distinct()
      .withColumn("lbl", $"v"))
    var changed = 1L
    var round = 0
    while (changed > 0 && round < MaxLabelRounds) {
      val nb = edges.join(labels.withColumnRenamed("v", "nv"), $"dst" === $"nv")
        .groupBy($"src").agg(min($"lbl").as("nlbl"))
      val next = cut(labels.join(nb, $"v" === $"src")
        .select($"v", least($"lbl", $"nlbl").as("lbl"), $"lbl".as("prev")))
      changed = next.filter($"lbl" < $"prev").count() // labels only decrease
      labels = next.select($"v", $"lbl")
      round += 1
    }
    if (changed > 0) {
      // cap hit with labels still moving: the result has split components
      // (a near-dup chain > MaxLabelRounds hops). Surface it here rather
      // than as a downstream oracle mismatch.
      System.err.println(
        s"[graft] connectedComponents hit MaxLabelRounds=$MaxLabelRounds " +
          s"with $changed labels still changing — components are SPLIT")
    }
    labels
  }

  // A winnow-fingerprint candidate prefilter for this edge source
  // (sample each doc's char-5-gram winnowing fingerprints, keep only
  // docs sharing a rare one) was built and MEASURED in round 6, then
  // rejected: at sf0.1 it pruned 59% of docs but dropped 61% of true
  // near-dup pairs, because this template-heavy corpus shares 8-char
  // substrings across unrelated documents (every fingerprint a missed
  // pair shared had df > 100), while word-3-gram shingles (~15-20 chars
  // of context) still discriminate. The codegen ShingleSet kernel
  // already took d06 from 19.6s to ~3.4s at sf0.1; exactness is worth
  // more than the remaining ~0.4s. The sampled-fingerprint machinery
  // ships where it is sound: t08_winnow_overlap (TextOps), winnowing's
  // native overlap-detection use case.
  def d06(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    connectedComponents(
      d02On(Tables.load(spark, dir, "documents")).select($"doc_a", $"doc_b"))
      .select($"lbl".as("cluster_rep"), $"v".as("doc_id"))
      .orderBy($"cluster_rep", $"doc_id")
  }

  // Oracle: exact components via reachability — `reach` closes the edge
  // list transitively (UNION dedups, so it terminates), then each vertex
  // takes the minimum reachable id (LEAST with v itself covers the
  // component-minimum vertex). Exact for any diameter, matching the
  // Spark side's run-to-convergence semantics.
  private def d06Sql: String =
    s"""WITH RECURSIVE ${d02Ctes("documents")},
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach(v, r) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT w.v, e.dst FROM reach w JOIN edges e ON e.src = w.r)
       |SELECT LEAST(v, MIN(r)) AS cluster_rep, v AS doc_id
       |FROM reach GROUP BY v
       |ORDER BY cluster_rep, doc_id""".stripMargin

  // ---------------------------------------------------------------------

  // ---------------------------------------------------------------------
  // d07: INCREMENTAL dedup — the production shape at 100 TB: nobody
  // re-deduplicates the whole corpus per ingest; the daily delta is
  // checked against the standing index. Here the delta is the
  // deterministic doc_id % 10 == 0 slice, the "index" is everything
  // else, and the check is d02's capped-shingle Jaccard run ACROSS the
  // two sets (delta shingles probe the corpus inverted index; the
  // df-cap comes from corpus statistics, as it would from the stored
  // index's metadata). Per delta document the verdict is emitted
  // directly: match count, best-matching corpus doc (highest Jaccard,
  // lowest id on ties), and the admit flag a pipeline acts on. Scale:
  // the corpus index is pre-built and bucketed by shingle; the delta is
  // tiny by comparison, so the probe join shuffles only delta rows into
  // the index's layout — cost tracks the DELTA size, not the corpus.
  // ---------------------------------------------------------------------
  def d07(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
    val delta = docs.filter($"doc_id" % 10 === 0)
    val corpus = docs.filter($"doc_id" % 10 =!= 0)
    def index(d: DataFrame) = d.select($"doc_id",
      explode(shingles(spark, $"text")).as("w"))
    // materialize each side's capped index ONCE (d02On's rationale: hot
    // feeds both sides, idxC feeds sizes AND the probe join, and Spark
    // would replan the kernel+explode subtree per consumer). In
    // production idxC IS the stored corpus index — only idxN is built
    // per ingest.
    val shC = index(corpus).materialize
    val hot = shC.groupBy($"w").agg(count(lit(1)).as("df"))
      .filter($"df" > DfCap).select($"w")
    val idxC = shC.join(hot, Seq("w"), "left_anti").materialize
    val idxN = index(delta).join(hot, Seq("w"), "left_anti").materialize
    val sizeC = idxC.groupBy($"doc_id".as("corpus_id")).agg(count(lit(1)).as("nc"))
    val sizeN = idxN.groupBy($"doc_id".as("new_id")).agg(count(lit(1)).as("nn"))
    val inter = idxN.as("a").join(idxC.as("b"), $"a.w" === $"b.w")
      .groupBy($"a.doc_id".as("new_id"), $"b.doc_id".as("corpus_id"))
      .agg(count(lit(1)).as("c"))
    val matches = inter.join(sizeN, Seq("new_id")).join(sizeC, Seq("corpus_id"))
      .withColumn("jaccard",
        $"c".cast(DoubleType) / ($"nn" + $"nc" - $"c"))
      .filter($"jaccard" >= 0.8)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"new_id").orderBy($"jaccard".desc, $"corpus_id".asc)
    val best = matches
      .withColumn("rk", row_number().over(w))
      .groupBy($"new_id")
      .agg(count(lit(1)).as("n_matches"),
        min(when($"rk" === 1, $"corpus_id")).as("best_match_id"),
        min(when($"rk" === 1, $"jaccard")).as("best_jaccard"))
    delta.select($"doc_id".as("new_id"))
      .join(best, Seq("new_id"), "left_outer")
      .select($"new_id",
        coalesce($"n_matches", lit(0L)).as("n_matches"),
        $"best_match_id", $"best_jaccard",
        ($"n_matches".isNull).as("admit"))
      .orderBy($"new_id")
  }

  private val d07Sql =
    s"""WITH delta AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
       |corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0),
       |tokN AS (
       |  SELECT doc_id, unnest(list_distinct([L[i] || ' ' || L[i+1] || ' ' || L[i+2] for i in range(1, len(L)-1)])) AS w
       |  FROM (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS L
       |        FROM delta) WHERE len(L) >= 3),
       |tokC AS (
       |  SELECT doc_id, unnest(list_distinct([L[i] || ' ' || L[i+1] || ' ' || L[i+2] for i in range(1, len(L)-1)])) AS w
       |  FROM (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS L
       |        FROM corpus) WHERE len(L) >= 3),
       |hot AS (SELECT w FROM tokC GROUP BY w HAVING COUNT(*) > $DfCap),
       |idxC AS (SELECT doc_id, w FROM tokC ANTI JOIN hot USING (w)),
       |idxN AS (SELECT doc_id, w FROM tokN ANTI JOIN hot USING (w)),
       |sizeC AS (SELECT doc_id AS corpus_id, COUNT(*) AS nc FROM idxC GROUP BY 1),
       |sizeN AS (SELECT doc_id AS new_id, COUNT(*) AS nn FROM idxN GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS new_id, b.doc_id AS corpus_id, COUNT(*) AS c
       |  FROM idxN a JOIN idxC b ON a.w = b.w GROUP BY 1, 2),
       |matches AS (
       |  SELECT new_id, corpus_id,
       |    CAST(c AS DOUBLE) / (nn + nc - c) AS jaccard
       |  FROM inter JOIN sizeN USING (new_id) JOIN sizeC USING (corpus_id)
       |  WHERE CAST(c AS DOUBLE) / (nn + nc - c) >= 0.8),
       |ranked AS (
       |  SELECT new_id, corpus_id, jaccard,
       |    ROW_NUMBER() OVER (PARTITION BY new_id
       |      ORDER BY jaccard DESC, corpus_id ASC) AS rk
       |  FROM matches),
       |best AS (
       |  SELECT new_id, COUNT(*) AS n_matches,
       |    MIN(CASE WHEN rk = 1 THEN corpus_id END) AS best_match_id,
       |    MIN(CASE WHEN rk = 1 THEN jaccard END) AS best_jaccard
       |  FROM ranked GROUP BY new_id)
       |SELECT d.doc_id AS new_id,
       |  COALESCE(b.n_matches, 0) AS n_matches,
       |  b.best_match_id, b.best_jaccard,
       |  b.n_matches IS NULL AS admit
       |FROM delta d LEFT JOIN best b ON d.doc_id = b.new_id
       |ORDER BY new_id""".stripMargin

  // ---------------------------------------------------------------------
  // d08: EDIT-DISTANCE near-dup — the character-level complement to the
  // token-level families: catches OCR noise, typo-level mutations, and
  // template fills that shift token boundaries (where shingle Jaccard
  // degrades). All-pairs Levenshtein is O(n²·len²) — never. Candidates
  // come from deterministic blocking (the same generate-by-key shape as
  // every other d-op): normalized text (letters+spaces, lowercased)
  // keyed by (length div 20, 20-char prefix); real near-dups land in
  // the same block because a small edit distance can't move the length
  // across a 20-wide bucket often, nor change a shared prefix. Within a
  // block, pairs are verified with the THRESHOLDED Levenshtein kernel
  // (Spark's 3-arg levenshtein): banded O(k·len) with early exit, not
  // the full O(len²) matrix. One shuffle on the block key. Block sizes
  // are NOT trusted to stay small (r7 finding: this corpus family is
  // template-heavy — d06's own comment — so a shared 20-char boilerplate
  // prefix + length bucket could degrade one block to O(B²) Levenshtein
  // calls): blocks larger than EditBlockCap are dropped outright before
  // the self-join — d02's df-cap medicine. A block that hot is
  // boilerplate-keyed, not a near-dup family (the stop-shingle
  // rationale), and the cap bounds candidates at EditBlockCap²/2 per
  // block. Oracle = identical blocking + identical cap + DuckDB's exact
  // levenshtein (same ASCII-normalized strings, so the distances are
  // engine-identical integers).
  // ---------------------------------------------------------------------
  private val EditMax = 20
  private[ops] val EditBlockCap = 64

  def d08(spark: SparkSession, dir: String): DataFrame =
    d08On(Tables.load(spark, dir, "documents"))

  private[ops] def d08On(documents: DataFrame): DataFrame = {
    import documents.sparkSession.implicits._
    val docs = documents
      .select($"doc_id",
        lower(regexp_replace($"text", "[^a-zA-Z ]", "")).as("nt"))
      .withColumn("lb", expr("length(nt) div 20"))
      .withColumn("pfx", substring($"nt", 1, 20))
    // oversized-block census: one partial-aggregated pass on the same
    // key the join shuffles on; the hot-block list is tiny → the
    // anti-join broadcasts it
    val hot = docs.groupBy($"lb", $"pfx").agg(count(lit(1)).as("bn"))
      .filter($"bn" > EditBlockCap).select($"lb", $"pfx")
    val capped = docs.join(hot, Seq("lb", "pfx"), "left_anti")
    val a = capped.select($"doc_id".as("doc_a"), $"nt".as("nt_a"), $"lb", $"pfx")
    val b = capped.select($"doc_id".as("doc_b"), $"nt".as("nt_b"), $"lb", $"pfx")
    a.join(b, Seq("lb", "pfx"))
      .filter($"doc_a" < $"doc_b")
      .withColumn("edit_dist", levenshtein($"nt_a", $"nt_b", EditMax))
      .filter($"edit_dist" =!= -1)
      .select($"doc_a", $"doc_b", $"edit_dist".cast(LongType).as("edit_dist"))
      .orderBy($"doc_a", $"doc_b")
  }

  private val d08Sql =
    s"""WITH n AS (
       |  SELECT doc_id,
       |    lower(regexp_replace(text, '[^a-zA-Z ]', '', 'g')) AS nt
       |  FROM documents),
       |b0 AS (
       |  SELECT doc_id, nt, length(nt) // 20 AS lb,
       |    substring(nt, 1, 20) AS pfx FROM n),
       |hot AS (
       |  SELECT lb, pfx FROM b0 GROUP BY lb, pfx
       |  HAVING COUNT(*) > $EditBlockCap),
       |b AS (SELECT * FROM b0 ANTI JOIN hot USING (lb, pfx))
       |SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b,
       |  CAST(levenshtein(a.nt, b2.nt) AS BIGINT) AS edit_dist
       |FROM b a JOIN b b2 ON a.lb = b2.lb AND a.pfx = b2.pfx
       |  AND a.doc_id < b2.doc_id
       |WHERE levenshtein(a.nt, b2.nt) <= $EditMax
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------------
  // d09: EXACT SUBSTRING dedup at n-token granularity — the Lee et al.
  // 2022 "Deduplicating Training Data Makes Language Models Better"
  // shape: find maximal spans of >= SubstrN consecutive tokens that
  // occur verbatim in more than one document (their suffix-array
  // ExactSubstr pass uses 50 tokens; so does this). The d-family's
  // other ops judge whole documents; d09 outputs the SPANS, which is
  // what a training-data pipeline actually cuts.
  //
  // Spark-first shape (a distributed suffix array is the wrong tool on
  // an engine built around shuffles): every n-token window is reduced
  // to ONE 8-byte key — xxhash64 over the slice of per-token hashes —
  // so the corpus-wide shuffle carries (doc_id, pos, h) rows, never the
  // 50-token strings. Windows whose key occurs in >1 document are the
  // candidates; ONLY those few re-materialize their actual token string
  // for an exact-equality verify (the collision shield — flagging stays
  // exact, collisions can only add candidates that verify then drops).
  // Verified duplicate window starts merge into maximal spans with the
  // standard islands trick (pos - row_number).
  //
  // 100 TB judgment: no pair generation anywhere — unlike d02/d03 this
  // op never joins documents against documents, so there is no
  // quadratic bucket to cap. Work is linear in corpus tokens: one
  // shuffle on the window key (count-distinct-docs is two-phase,
  // map-side partial), one semi-join of windows against the duplicated
  // keys (<< corpus), one doc_id-bounded window for the island merge.
  // A boilerplate gram in millions of docs just makes one hot
  // count-distinct key (absorbed by partial aggregation + AQE), not a
  // candidate explosion.
  // ---------------------------------------------------------------------
  private[ops] val SubstrN = 50

  def d09(spark: SparkSession, dir: String): DataFrame =
    d09On(Tables.load(spark, dir, "documents"))

  private[ops] def d09On(documents: DataFrame): DataFrame = {
    import documents.sparkSession.implicits._
    val n = SubstrN
    val toks = documents
      .select($"doc_id", split($"text", " ").as("t"))
      .filter(size($"t") >= n)
    // (doc_id, pos, h): pos is 1-based like the oracle's generate_series.
    // Window keys come from the codegen'd rolling-hash kernel
    // ([[graft.functions.TextKernels.substrWindowKeys]]): O(tokens) per
    // document vs the O(tokens × n) slice-hash it replaced — at n = 50
    // that is 50× less hash work on the one corpus-wide map stage. A
    // weaker-mixing key is safe here because equal grams always collide
    // and unequal-gram collisions are dropped by the exact-string
    // verify below.
    // materialized once — the corpus-wide tokenize + rolling-hash +
    // posexplode stage feeds BOTH the duplicate-key census and the
    // semi-join side below; without the cut Spark plans the heaviest
    // map stage twice (the aggregate side shuffles partial rows, the
    // join side raw rows, so ReuseExchange cannot merge them) — the
    // same multi-consumer rule as d02's shc and d03's bands
    val windows = documents
      .select($"doc_id", posexplode(
        graft.functions.TextKernels.substrWindowKeysCol(
          documents.sparkSession, $"text", n)))
      .select($"doc_id", ($"pos" + 1).cast(LongType).as("pos"), $"col".as("h"))
      .materialize
    val dupH = windows.groupBy($"h")
      .agg(countDistinct($"doc_id").as("nd")).filter($"nd" > 1).select($"h")
    val cand = windows.join(dupH, Seq("h"), "left_semi")
    // exact-string verify for candidates only; materialized once — it
    // feeds both the duplicate-gram census and the final semi-join
    val candG = cand.join(toks, Seq("doc_id"))
      .select($"doc_id", $"pos",
        array_join(slice($"t", $"pos".cast(IntegerType), lit(n)), " ").as("g"))
      .materialize
    val dupG = candG.groupBy($"g")
      .agg(countDistinct($"doc_id").as("nd")).filter($"nd" > 1).select($"g")
    val flagged = candG.join(dupG, Seq("g"), "left_semi")
      .select($"doc_id", $"pos")
    val w = Window.partitionBy($"doc_id").orderBy($"pos")
    flagged
      .withColumn("grp", $"pos" - row_number().over(w))
      .groupBy($"doc_id", $"grp")
      .agg(min($"pos").as("span_start"),
        (max($"pos") + (n - 1)).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select($"doc_id", $"span_start", $"span_end", $"n_windows")
      .orderBy($"doc_id", $"span_start")
  }

  private val d09Sql =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS t
       |  FROM documents
       |  WHERE len(string_split(text, ' ')) >= $SubstrN),
       |grams AS (
       |  SELECT doc_id, unnest(generate_series(1, len(t) - ${SubstrN - 1})) AS pos, t
       |  FROM toks),
       |g2 AS (
       |  SELECT doc_id, pos, array_to_string(t[pos:pos+${SubstrN - 1}], ' ') AS g
       |  FROM grams),
       |dup AS (SELECT g FROM g2 GROUP BY g HAVING COUNT(DISTINCT doc_id) > 1),
       |flagged AS (SELECT doc_id, pos FROM g2 WHERE g IN (SELECT g FROM dup)),
       |islands AS (
       |  SELECT doc_id, pos,
       |    pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       |  FROM flagged)
       |SELECT doc_id, MIN(pos) AS span_start,
       |  MAX(pos) + ${SubstrN - 1} AS span_end, COUNT(*) AS n_windows
       |FROM islands GROUP BY doc_id, grp
       |ORDER BY doc_id, span_start""".stripMargin

  val queries: ListMap[String, (SparkSession, String) => DataFrame] = ListMap(
    "d01_exact_dedup" -> (d01 _),
    "d02_ngram_jaccard" -> (d02 _),
    "d03_minhash_lsh" -> (d03 _),
    "d04_simhash" -> (d04 _),
    "d05_embed_neardup" -> (d05 _),
    "d06_dup_clusters" -> (d06 _),
    "d07_incremental_dedup" -> (d07 _),
    "d08_editdist_dedup" -> (d08 _),
    "d09_substring_dedup" -> (d09 _),
    "d10_minhash_calibration" -> (d10 _),
    "d11_source_overlap" -> (d11 _),
    "d12_lsh_tuning" -> (d12 _))

  val oracle: ListMap[String, String] = ListMap(
    "d01_exact_dedup" -> d01Sql,
    "d02_ngram_jaccard" -> d02Sql,
    "d03_minhash_lsh" -> d03Sql,
    "d04_simhash" -> d04Sql,
    "d05_embed_neardup" -> d05Sql,
    "d06_dup_clusters" -> d06Sql,
    "d07_incremental_dedup" -> d07Sql,
    "d08_editdist_dedup" -> d08Sql,
    "d09_substring_dedup" -> d09Sql,
    "d10_minhash_calibration" -> d10Sql,
    "d11_source_overlap" -> d11Sql,
    "d12_lsh_tuning" -> d12Sql)

  // ---------------------------------------------------------------------
  // d12: LSH BANDING TUNING TABLE — the parameter study an operator
  // runs on a SAMPLE before committing a banding to a 100 TB pass: with
  // the 128-hash signature FIXED, sweep (bands × rows-per-band) ∈
  // {16×8, 32×4, 64×2} and measure, from the same signatures, what each
  // config actually buys — occupied buckets, the capped candidate-pair
  // volume (the shuffle/verify bill), admitted pairs (est ≥ 0.5), and
  // the admitted pairs a config MISSES vs the most permissive one
  // (64×2). For the UNCAPPED banding the superset argument is exact —
  // the S-curve threshold (1/b)^(1/r) only falls as rows shrink, so any
  // pair invisible to 64×2 is invisible to every coarser config. Under
  // the d03 occupancy cap (2 ≤ occupancy ≤ 64, applied to all configs
  // so the numbers are the production bill, not the uncapped fantasy)
  // monotonicity can break at the margin: a hot 2-row bucket dropped by
  // the cap in 64×2 may sit inside an under-cap 8-row band in 16×8, so
  // a coarser config CAN admit a pair 64×2 misses — n_missed_vs_64x2 is
  // therefore an estimate of the recall gap, not a strict lower bound.
  // Both engines compute the identical capped number, so the metric
  // stays hash-verified either way. At sf0.01 this table IS the evidence for d03's 32×4
  // default; at a new corpus, rerun it on a slice.
  // ---------------------------------------------------------------------
  private lazy val D12Configs = Seq((16, 8), (32, 4), (64, 2))

  def d12(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val withSig = Tables.load(spark, dir, "documents")
      .select($"doc_id", MinHash.sigCol(spark, lower($"text")).as("sig"))
      .filter($"sig".isNotNull)
      .materialize
    val perConfig = D12Configs.map { case (b, r) =>
      val bandKeys = (0 until b).map { j =>
        struct(lit(j).as("j") +: (0 until r).map(k =>
          element_at($"sig", j * r + k + 1).as(s"k$k")): _*)
      }
      val bands = withSig.select($"doc_id",
        explode(array(bandKeys: _*)).as("band_key")).materialize
      val cold = bands.groupBy($"band_key").agg(count(lit(1)).as("c"))
        .filter($"c" >= 2 && $"c" <= BandCap).select($"band_key")
      val idx = bands.join(cold, Seq("band_key"), "left_semi")
      val pairs = idx.as("x").join(idx.as("y"),
          $"x.band_key" === $"y.band_key" && $"x.doc_id" < $"y.doc_id")
        .select($"x.doc_id".as("doc_a"), $"y.doc_id".as("doc_b"))
        .dropDuplicates("doc_a", "doc_b")
      val admitted = pairs
        .join(withSig.as("sa"), $"doc_a" === $"sa.doc_id")
        .join(withSig.as("sb"), $"doc_b" === $"sb.doc_id")
        .filter(MinHash.agreeCol(spark, $"sa.sig", $"sb.sig")
          .cast(DoubleType) / NumHashes >= 0.5)
        .select($"doc_a", $"doc_b")
      (b, r, cold, pairs, admitted)
    }
    val fullest = perConfig.last._5 // 64×2: the most permissive admit set
    perConfig.map { case (b, r, cold, pairs, admitted) =>
      cold.agg(count(lit(1)).as("n_active_buckets")).crossJoin(
          pairs.agg(count(lit(1)).as("n_cand_pairs")))
        .crossJoin(admitted.agg(count(lit(1)).as("n_admitted")))
        .crossJoin(fullest.join(admitted, Seq("doc_a", "doc_b"), "left_anti")
          .agg(count(lit(1)).as("n_missed_vs_64x2")))
        .select(lit(b.toLong).as("bands"), lit(r.toLong).as("rows_per_band"),
          $"n_active_buckets", $"n_cand_pairs", $"n_admitted",
          $"n_missed_vs_64x2")
    }.reduce(_ unionByName _).orderBy($"bands")
  }

  private def d12Sql: String = {
    val sigEntries = MinHash.coefs.map { case (a, b) =>
      s"list_min(list_transform(H, h -> (h * $a + $b) % $P))"
    }.mkString(",\n    ")
    val h60 = PortableSql.h60Sql("w")
    def configCtes(b: Int, r: Int): String = {
      val ks = (0 until r).map(k => s"sig[j*$r + ${k + 1}] AS k$k").mkString(", ")
      val kCols = (0 until r).map(k => s"k$k").mkString(", ")
      val eq = (0 until r).map(k => s"x.k$k = y.k$k").mkString(" AND ")
      s"""bands_${b} AS (
         |  SELECT doc_id, sig, j, $ks
         |  FROM sigs CROSS JOIN (SELECT unnest(range(0, $b)) AS j)),
         |cold_${b} AS (
         |  SELECT j, $kCols FROM bands_${b}
         |  GROUP BY j, $kCols HAVING COUNT(*) >= 2 AND COUNT(*) <= $BandCap),
         |bx_${b} AS (
         |  SELECT b.* FROM bands_${b} b SEMI JOIN cold_${b} USING (j, $kCols)),
         |pairs_${b} AS (
         |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
         |    x.sig AS sig_a, y.sig AS sig_b
         |  FROM bx_${b} x JOIN bx_${b} y ON x.j = y.j AND $eq AND x.doc_id < y.doc_id),
         |adm_${b} AS (
         |  SELECT doc_a, doc_b FROM pairs_${b}
         |  WHERE CAST(len(list_filter(range(1, ${NumHashes + 1}), i -> sig_a[i] = sig_b[i])) AS DOUBLE) / $NumHashes >= 0.5)""".stripMargin
    }
    val arms = D12Configs.map { case (b, r) =>
      s"""SELECT CAST($b AS BIGINT) AS bands, CAST($r AS BIGINT) AS rows_per_band,
         |  (SELECT COUNT(*) FROM cold_${b}) AS n_active_buckets,
         |  (SELECT COUNT(*) FROM pairs_${b}) AS n_cand_pairs,
         |  (SELECT COUNT(*) FROM adm_${b}) AS n_admitted,
         |  (SELECT COUNT(*) FROM adm_64 f ANTI JOIN adm_${b} a USING (doc_a, doc_b))
         |    AS n_missed_vs_64x2""".stripMargin
    }
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS L FROM documents),
       |sh AS (
       |  SELECT doc_id, list_distinct([L[i] || ' ' || L[i+1] || ' ' || L[i+2] for i in range(1, len(L)-1)]) AS S
       |  FROM toks WHERE len(L) >= 3),
       |hs AS (SELECT doc_id, list_transform(S, w -> $h60 % $P) AS H FROM sh),
       |sigs AS MATERIALIZED (SELECT doc_id, [
       |    $sigEntries
       |  ] AS sig FROM hs),
       |${D12Configs.map { case (b, r) => configCtes(b, r) }.mkString(",\n")}
       |${arms.mkString("\nUNION ALL\n")}
       |ORDER BY bands""".stripMargin
  }

  // ---------------------------------------------------------------------
  // d11: CROSS-SOURCE DUPLICATION MATRIX — the provenance question the
  // per-pair dedup output doesn't answer: WHICH sources duplicate WHICH
  // (mirror sites, scraped re-posts, licensing leakage). d03's admitted
  // near-dup pairs are lifted to the source level — an UNORDERED source
  // pair (alphabetical normalization so (a,b) and (b,a) collapse) with
  // the pair count and the share of each source's corpus involved.
  // Within-source duplication sits on the diagonal. The matrix is
  // O(sources²) rows regardless of corpus size — the aggregation is the
  // cheap tail of the LSH pipeline, and it's the number a curation team
  // reads before deciding which source to drop wholesale.
  // ---------------------------------------------------------------------
  def d11(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
      .select($"doc_id", $"source")
    val pairs = d03(spark, dir)
      .join(docs.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("source", "src_a"), Seq("doc_a"))
      .join(docs.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("source", "src_b"), Seq("doc_b"))
      .select(least($"src_a", $"src_b").as("source_x"),
        greatest($"src_a", $"src_b").as("source_y"))
    val sizes = docs.groupBy($"source").agg(count(lit(1)).as("n_docs"))
    pairs.groupBy($"source_x", $"source_y")
      .agg(count(lit(1)).as("n_dup_pairs"))
      .join(sizes.withColumnRenamed("source", "source_x")
        .withColumnRenamed("n_docs", "nx"), Seq("source_x"))
      .join(sizes.withColumnRenamed("source", "source_y")
        .withColumnRenamed("n_docs", "ny"), Seq("source_y"))
      .select($"source_x", $"source_y", $"n_dup_pairs",
        ($"n_dup_pairs".cast(DoubleType) / $"nx".cast(DoubleType))
          .as("rate_vs_x"),
        ($"n_dup_pairs".cast(DoubleType) / $"ny".cast(DoubleType))
          .as("rate_vs_y"))
      .orderBy($"source_x", $"source_y")
  }

  private def d11Sql: String =
    s"""$d03CandCtes,
       |adm AS (
       |  SELECT doc_a, doc_b FROM cand
       |  WHERE CAST(len(list_filter(range(1, ${NumHashes + 1}), i -> sig_a[i] = sig_b[i])) AS DOUBLE) / $NumHashes >= 0.5),
       |src AS (SELECT doc_id, source FROM documents),
       |lifted AS (
       |  SELECT least(sa.source, sb.source) AS source_x,
       |    greatest(sa.source, sb.source) AS source_y
       |  FROM adm JOIN src sa ON sa.doc_id = adm.doc_a
       |           JOIN src sb ON sb.doc_id = adm.doc_b),
       |sizes AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source)
       |SELECT l.source_x, l.source_y, COUNT(*) AS n_dup_pairs,
       |  CAST(COUNT(*) AS DOUBLE) / ANY_VALUE(sx.n) AS rate_vs_x,
       |  CAST(COUNT(*) AS DOUBLE) / ANY_VALUE(sy.n) AS rate_vs_y
       |FROM lifted l
       |JOIN sizes sx ON sx.source = l.source_x
       |JOIN sizes sy ON sy.source = l.source_y
       |GROUP BY l.source_x, l.source_y
       |ORDER BY l.source_x, l.source_y""".stripMargin

  // ---------------------------------------------------------------------
  // d10: MINHASH CALIBRATION AUDIT — s06's honesty discipline applied to
  // the dedup family: every pair d03's banded MinHash admits is
  // re-scored against the EXACT shingle-set Jaccard (|∩| and |∪| as
  // integer set sizes over the pair's own shingle arrays — the pair
  // list is post-LSH, so the exact verification is candidate-bounded,
  // never corpus-quadratic), emitting estimate, truth, and the error
  // side by side. Portability: est = k/128 (exact binary fractions),
  // set sizes are ints, exact Jaccard and the error are single fixed
  // IEEE ops. This is the number that justifies (or indicts) the 0.5
  // estimate threshold: an estimator that systematically over-reads
  // near the cut admits junk pairs at 100 TB, and only an in-band audit
  // shows it.
  // ---------------------------------------------------------------------
  def d10(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
    val sh = docs
      .select($"doc_id", shingles(spark, $"text").as("S"))
      .filter(size($"S") > 0)
    val est = d03(spark, dir) // the admitted pairs with their estimates
    est
      .join(sh.as("sa"), $"doc_a" === $"sa.doc_id")
      .join(sh.as("sb"), $"doc_b" === $"sb.doc_id")
      .withColumn("n_inter",
        size(array_intersect($"sa.S", $"sb.S")).cast("long"))
      .withColumn("n_union",
        (size($"sa.S") + size($"sb.S")).cast("long") - $"n_inter")
      .withColumn("exact_jaccard",
        $"n_inter".cast(DoubleType) / $"n_union".cast(DoubleType))
      .select($"doc_a", $"doc_b", $"est_jaccard", $"n_inter", $"n_union",
        $"exact_jaccard",
        abs($"est_jaccard" - $"exact_jaccard").as("abs_err"))
      .orderBy($"doc_a", $"doc_b")
  }

  private def d10Sql: String =
    s"""$d03CandCtes,
       |est AS (
       |  SELECT doc_a, doc_b,
       |    CAST(len(list_filter(range(1, ${NumHashes + 1}), i -> sig_a[i] = sig_b[i])) AS DOUBLE) / $NumHashes AS est_jaccard
       |  FROM cand
       |  WHERE CAST(len(list_filter(range(1, ${NumHashes + 1}), i -> sig_a[i] = sig_b[i])) AS DOUBLE) / $NumHashes >= 0.5),
       |ex AS (
       |  SELECT e.doc_a, e.doc_b, e.est_jaccard,
       |    CAST(len(list_intersect(sa.S, sb.S)) AS BIGINT) AS n_inter,
       |    CAST(len(sa.S) + len(sb.S) - len(list_intersect(sa.S, sb.S)) AS BIGINT) AS n_union
       |  FROM est e
       |  JOIN sh sa ON sa.doc_id = e.doc_a
       |  JOIN sh sb ON sb.doc_id = e.doc_b)
       |SELECT doc_a, doc_b, est_jaccard, n_inter, n_union,
       |  CAST(n_inter AS DOUBLE) / n_union AS exact_jaccard,
       |  ABS(est_jaccard - CAST(n_inter AS DOUBLE) / n_union) AS abs_err
       |FROM ex
       |ORDER BY doc_a, doc_b""".stripMargin
}
