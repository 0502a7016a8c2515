package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Gopher-style repetition statistics of a document as ONE native
  * Catalyst expression: whitespace-tokenize, form adjacent word 2-grams,
  * and in a single sorted pass compute the 2-gram count, the duplicate
  * fraction `(n - distinct)/n` and the top-gram share `max_mult/n`.
  *
  * The interpreted predecessor (t07's `transform`/`array_sort`/
  * `aggregate` higher-order-function chain) dispatched a lambda closure
  * per token, per gram, and per fold step — the same anti-pattern whose
  * removal bought s02 a 25× win via [[SrpBuckets]]. This compiles to one
  * static-kernel call per row inside the generated stage; the kernel is
  * a plain JIT-compiled sort + linear scan, O(d log d) per document and
  * embarrassingly parallel over the corpus scan at 100 TB.
  *
  * Both `eval` and the generated code call the same
  * [[TextKernels.repetitionStats]] kernel, so interpreted and codegen
  * paths cannot diverge.
  */
case class RepetitionStats(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"repetition_stats expects STRING, got ${other.catalogString}")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("n_2grams", IntegerType, nullable = false),
    StructField("dup_2gram_frac", DoubleType, nullable = false),
    StructField("top_2gram_frac", DoubleType, nullable = false)))
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "repetition_stats"

  override def nullSafeEval(input: Any): Any =
    TextKernels.repetitionStats(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextKernels.repetitionStats($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Distinct word-3-gram shingles of a document as a native Catalyst
  * expression — the candidate-generation front end of the Jaccard dedup
  * family (d02, and d06's edge source). Returns the shingles in first-
  * appearance order, matching the `array_distinct(transform(...))`
  * column formulation it replaces; empty array for documents with fewer
  * than 3 tokens. Same interpreted-HOF-removal rationale as
  * [[RepetitionStats]]: one compiled pass per row instead of a lambda
  * dispatch per token.
  */
case class ShingleSet(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"shingle_set expects STRING, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "shingle_set"

  override def nullSafeEval(input: Any): Any =
    TextKernels.shingleSet(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextKernels.shingleSet($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Winnowing fingerprint summary (Schleimer et al., SIGMOD'03) of a
  * document as ONE native Catalyst expression: rolling char-5-gram h60
  * hashes, min per 4-hash window, then the distinct-min set's size,
  * minimum, and xor fold. Returns NULL for documents shorter than 8
  * characters (no complete window), matching t06's `length >= 8` gate.
  *
  * The interpreted predecessor was t06's `transform(sequence(...))` HOF
  * chain — which additionally re-evaluated the inlined `lower(text)`
  * expression for EVERY sequence element, i.e. O(n²) character work per
  * document on top of per-element lambda dispatch (a single sf0.1
  * partition burned 700+ s of CPU in `Lower.nullSafeEval`). The kernel
  * is one compiled pass: O(n) md5 calls and a 4-wide window min, no
  * per-element expression tree walks.
  */
case class WinnowFp(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"winnow_fp expects STRING, got ${other.catalogString}")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("n_kgrams", IntegerType, nullable = false),
    StructField("n_fp", IntegerType, nullable = false),
    StructField("fp_min", LongType, nullable = false),
    StructField("fp_xor", LongType, nullable = false)))
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "winnow_fp"

  override def nullSafeEval(input: Any): Any =
    TextKernels.winnowFp(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |${ev.value} = graft.functions.TextKernels.winnowFp($c);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The mod-sampled winnowing fingerprint SET of a document — the
  * candidate-generation front end of t08's overlap detection: distinct
  * window-min fingerprints whose value is ≡ 0 (mod `mod`), as
  * `ARRAY<BIGINT>`.
  * Value-based ("mod") sampling keeps the same fingerprints across
  * documents, so two documents sharing content share sampled
  * fingerprints; a near-dup pair (word-3-gram Jaccard ≥ 0.8) shares the
  * bulk of its winnow set and therefore, w.h.p., at least one sampled
  * member.
  *
  * Documents with at most `minKeep` distinct fingerprints keep the FULL
  * set: a short document has so few fingerprints that mod sampling can
  * miss every shared one (near-dup pairs are length-matched — Jaccard
  * ≥ 0.8 bounds the size ratio — so short docs pair with short docs,
  * and both keep everything). The sample only thins fingerprint-rich
  * documents, which are exactly the ones where it pays. NULL for
  * documents shorter than 8 characters (no window), matching
  * [[WinnowFp]].
  */
case class WinnowFpSample(child: Expression, mod: Int, minKeep: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"winnow_fp_sample expects STRING, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "winnow_fp_sample"

  override def nullSafeEval(input: Any): Any =
    TextKernels.winnowFpSample(input.asInstanceOf[UTF8String], mod, minKeep)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |${ev.value} = graft.functions.TextKernels.winnowFpSample($c, $mod, $minKeep);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** d09's window-key kernel: one 8-byte key per n-token window of a
  * text, via a BUZHASH-style rolling combine over per-token FNV-1a
  * hashes — O(tokens) per document instead of the O(tokens × n)
  * slice-hash it replaced (n = 50, so 50× less hash work on the
  * corpus-wide map stage, the heaviest part of substring dedup at
  * 100 TB). Key contract: equal n-grams always get equal keys (the
  * combine is a pure function of the token sequence); unequal n-grams
  * collide only at hash probability, and d09's exact-string verify
  * pass drops any such false candidate — so the WEAKER-than-slice-hash
  * mixing is free, correctness-wise. Token split matches the oracle's
  * `string_split(text, ' ')`: single-space separators, EMPTY tokens
  * kept. Empty array when the text has fewer than n tokens. */
case class SubstrWindowKeys(child: Expression, n: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _ if n < 1 => TypeCheckResult.TypeCheckFailure(
      s"substr_window_keys window size must be >= 1, got $n")
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"substr_window_keys expects STRING, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "substr_window_keys"

  override def nullSafeEval(input: Any): Any =
    TextKernels.substrWindowKeys(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextKernels.substrWindowKeys($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Compiled text kernels + SQL-function registration. Static forwarders
  * make these callable from generated Java code. */
object TextKernels {

  /** The t07 kernel: tokens → adjacent 2-grams → sort → one-pass
    * distinct count and longest equal-run. Token split matches Spark's
    * `split(text, " ")` + non-empty filter (single-space separators,
    * consecutive spaces yield no token). Grouping 2-grams by sorted
    * String order partitions identically to the old `array_sort` over
    * `concat_ws(" ", ...)` grams: tokens never contain spaces, so gram
    * string equality is pair equality, and any total order groups equal
    * grams contiguously. */
  def repetitionStats(s: UTF8String): InternalRow = {
    val toks = s.toString.split(" ", -1)
    // compact non-empty tokens in place
    var nTok = 0
    var i = 0
    while (i < toks.length) {
      if (!toks(i).isEmpty) { toks(nTok) = toks(i); nTok += 1 }
      i += 1
    }
    val n = nTok - 1 // number of adjacent 2-grams
    if (n < 1) return new GenericInternalRow(Array[Any](0, 0.0, 0.0))
    val grams = new Array[String](n)
    i = 0
    while (i < n) { grams(i) = toks(i) + " " + toks(i + 1); i += 1 }
    java.util.Arrays.sort(grams.asInstanceOf[Array[AnyRef]])
    var distinct = 1
    var run = 1
    var best = 1
    i = 1
    while (i < n) {
      if (grams(i) == grams(i - 1)) {
        run += 1
        if (run > best) best = run
      } else { distinct += 1; run = 1 }
      i += 1
    }
    new GenericInternalRow(Array[Any](
      n, (n - distinct).toDouble / n, best.toDouble / n))
  }

  /** The shingle kernel behind [[ShingleSet]]: distinct adjacent word
    * 3-grams in first-appearance order (insertion-ordered set). */
  def shingleSet(s: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    val toks = s.toString.split(" ", -1)
    var nTok = 0
    var i = 0
    while (i < toks.length) {
      if (!toks(i).isEmpty) { toks(nTok) = toks(i); nTok += 1 }
      i += 1
    }
    val out = new java.util.LinkedHashSet[String]
    i = 0
    while (i <= nTok - 3) {
      out.add(toks(i) + " " + toks(i + 1) + " " + toks(i + 2))
      i += 1
    }
    val arr = new Array[AnyRef](out.size)
    val it = out.iterator()
    i = 0
    while (it.hasNext) { arr(i) = UTF8String.fromString(it.next()); i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(arr)
  }

  /** Winnowing parameters: char k-gram width and window size. With
    * k = 5, w = 4 any common substring of length ≥ k + w - 1 = 8 chars
    * is guaranteed to share a fingerprint (the winnowing guarantee). */
  private val WinK = 5
  private val WinW = 4

  /** The t06 kernel behind [[WinnowFp]]: rolling char-[[WinK]]-gram h60
    * hashes over the (already lowercased) text, min per [[WinW]]-hash
    * window, distinct mins summarized as (count, min, xor). Character
    * positions are Unicode code points, matching Spark's `substring`/
    * `length` semantics (and DuckDB's). Null for < 8 chars (no window).
    */
  def winnowFp(s: UTF8String): InternalRow = {
    val md = winnowDistinctMins(s)
    if (md == null) return null
    val (m, mins) = md
    var fpXor = mins(0)
    var j = 1
    while (j < mins.length) { fpXor ^= mins(j); j += 1 }
    new GenericInternalRow(Array[Any](m, mins.length, mins(0), fpXor))
  }

  /** The kernel behind [[WinnowFpSample]]: the distinct window-min
    * fingerprints with value ≡ 0 (mod `mod`), sorted ascending — or the
    * full distinct set when it has at most `minKeep` members; null for
    * texts shorter than 8 characters. Value-based sampling — the same
    * fingerprint survives in every document that contains it. */
  def winnowFpSample(s: UTF8String, mod: Int,
      minKeep: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val md = winnowDistinctMins(s)
    if (md == null) return null
    val mins = md._2
    if (mins.length <= minKeep)
      return UnsafeArrayData.fromPrimitiveArray(mins)
    var kept = 0
    var j = 0
    while (j < mins.length) {
      if (mins(j) % mod == 0) { mins(kept) = mins(j); kept += 1 }
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(mins, kept))
  }

  /** Shared winnowing core: (k-gram count, sorted distinct window-min
    * fingerprints), or null for texts shorter than k + w - 1 = 8
    * characters (no complete window). */
  private def winnowDistinctMins(s: UTF8String): (Int, Array[Long]) = {
    val bytes = s.getBytes
    // code-point start offsets (UTF-8 lead bytes); off(n) = total length
    val off = new Array[Int](bytes.length + 1)
    var n = 0
    var p = 0
    while (p < bytes.length) {
      off(n) = p
      n += 1
      val b = bytes(p) & 0xff
      p += (if (b < 0x80) 1 else if (b < 0xe0) 2 else if (b < 0xf0) 3 else 4)
    }
    off(n) = bytes.length
    if (n < WinK + WinW - 1) return null
    val m = n - (WinK - 1) // k-gram count
    val hashes = new Array[Long](m)
    val md = TextKernels.md5.get()
    var i = 0
    while (i < m) {
      md.reset()
      md.update(bytes, off(i), off(i + WinK) - off(i))
      val d = md.digest()
      var h = 0L
      var k = 0
      while (k < 7) { h = (h << 8) | (d(k) & 0xffL); k += 1 }
      hashes(i) = (h << 4) | ((d(7) & 0xffL) >>> 4)
      i += 1
    }
    val nWin = m - (WinW - 1)
    val mins = new Array[Long](nWin)
    var j = 0
    while (j < nWin) {
      var mn = hashes(j)
      var q = 1
      while (q < WinW) {
        if (hashes(j + q) < mn) mn = hashes(j + q)
        q += 1
      }
      mins(j) = mn
      j += 1
    }
    java.util.Arrays.sort(mins)
    var nFp = 1
    j = 1
    while (j < nWin) {
      if (mins(j) != mins(j - 1)) { mins(nFp) = mins(j); nFp += 1 }
      j += 1
    }
    (m, java.util.Arrays.copyOf(mins, nFp))
  }

  private val md5 = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("MD5"))

  /** The [[SubstrWindowKeys]] kernel. Window key for 0-based start i:
    *   K(i) = XOR over k in [0, n) of rotl(h(tok[i+k]), (n-1-k) mod 64)
    * with h = FNV-1a 64 over the token's UTF-8 bytes. Rolled forward in
    * O(1): K(i+1) = rotl(K(i), 1) ^ rotl(h(tok[i]), n mod 64) ^
    * h(tok[i+n]). Per-token hashes are computed once (O(tokens) total),
    * never per window. */
  def substrWindowKeys(s: UTF8String,
      n: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    // analysis rejects n < 1 (checkInputDataTypes); re-guard here since
    // this static is also the codegen target and a public entry point —
    // n <= 0 would otherwise read h(negative) in the roll loop
    require(n >= 1, s"window size must be >= 1, got $n")
    val toks = s.toString.split(" ", -1) // keep empties: oracle parity
    val nt = toks.length
    val m = nt - n + 1
    if (m <= 0)
      return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val h = new Array[Long](nt)
    var i = 0
    while (i < nt) {
      val b = toks(i).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var x = 0xcbf29ce484222325L
      var k = 0
      while (k < b.length) { x = (x ^ (b(k) & 0xffL)) * 0x100000001b3L; k += 1 }
      // finalize: plain FNV leaves low bits weakly mixed for short keys
      x ^= x >>> 33; x *= 0xff51afd7ed558ccdL; x ^= x >>> 33
      h(i) = x
      i += 1
    }
    val out = new Array[Long](m)
    var key = 0L
    var k = 0
    while (k < n) {
      key ^= java.lang.Long.rotateLeft(h(k), (n - 1 - k) & 63); k += 1
    }
    out(0) = key
    i = 1
    while (i < m) {
      key = java.lang.Long.rotateLeft(key, 1) ^
        java.lang.Long.rotateLeft(h(i - 1), n & 63) ^ h(i + n - 1)
      out(i) = key
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Idempotently register the SQL-callable kernels on the session (a
    * guard, not create-or-replace, so repeated query construction leaves
    * the registry untouched and warning-free). */
  def register(spark: SparkSession): Unit =
    GraftExtensions.register(spark,
      "repetition_stats", "shingle_set", "winnow_fp", "winnow_fp_sample",
      "substr_window_keys")

  /** `ARRAY<STRING>` of distinct word-3-gram shingles of a (lowercased)
    * text column (registers on first use). */
  def shingleSetCol(spark: SparkSession, text: Column): Column = {
    register(spark)
    call_function("shingle_set", text)
  }

  /** Struct column `(n_2grams, dup_2gram_frac, top_2gram_frac)` for a
    * string column (registers on first use). */
  def repetitionStatsCol(spark: SparkSession, text: Column): Column = {
    register(spark)
    call_function("repetition_stats", text)
  }

  /** Struct column `(n_kgrams, n_fp, fp_min, fp_xor)` — winnowing
    * fingerprint summary of a (lowercased) text column (registers on
    * first use); NULL for texts shorter than 8 characters. */
  def winnowFpCol(spark: SparkSession, text: Column): Column = {
    register(spark)
    call_function("winnow_fp", text)
  }

  /** `ARRAY<BIGINT>` of the mod-`mod` sampled winnowing fingerprints of
    * a (lowercased) text column — full set for documents with ≤
    * `minKeep` fingerprints (registers on first use); NULL for texts
    * shorter than 8 characters. */
  def winnowFpSampleCol(
      spark: SparkSession, text: Column, mod: Int, minKeep: Int): Column = {
    register(spark)
    call_function("winnow_fp_sample", text,
      org.apache.spark.sql.functions.lit(mod),
      org.apache.spark.sql.functions.lit(minKeep))
  }

  /** `ARRAY<BIGINT>` of rolling n-token window keys of a text column —
    * d09's candidate-generation kernel (registers on first use); empty
    * array for texts with fewer than n tokens. */
  def substrWindowKeysCol(spark: SparkSession, text: Column, n: Int): Column = {
    register(spark)
    call_function("substr_window_keys", text,
      org.apache.spark.sql.functions.lit(n))
  }
}
