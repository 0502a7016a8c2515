package graft.brotli

import java.io.ByteArrayOutputStream

/** Streaming Brotli encoder (RFC 7932). The quality knob selects a rung
  * of the ladder (SURVEY.md §7.0), all emitting spec-valid streams:
  *   - q0:  uncompressed meta-blocks (store mode, ratio ~1.0 at GB/s —
  *          the one deliberate divergence from libbrotli, whose q0 also
  *          compresses; callers wanting raw-speed framing get it here);
  *   - q1+: LZ77 over a persistent lgwin-wide sliding window with
  *          quality-scaled hash chains, rep-match search, and all three
  *          alphabets Huffman-coded from block histograms (emitLzBlock).
  *          q1 is the greedy fast tier (depth-1 chains, early skip
  *          ramp, short nice-length) matching libbrotli's fast modes;
  *          depth/niceLen/skip/hash width all scale with quality.
  *   - q10+: literal context modeling (multi-tree coding by UTF8
  *          context with a clustered context map) when literals carry
  *          enough mass; q11 additionally swaps the greedy parse for
  *          the iterated zopfli-style shortest-path parse — the
  *          cost-no-object rung, like libbrotli's own q11.
  *   - q12: graft extension past libbrotli's ladder (streams stay
  *          RFC 7932-standard — any decoder reads them): q11 plus
  *          copy-boundary relaxation in the zopfli DP (cutExplicit
  *          mode 1, refine-sweep cuts),
  *          converting literal runs into boundary-aligned copies the
  *          way native's q11 parse shapes its stream. Measured on the
  *          bench corpus: 100.2% of native's q11 ratio (6.265 vs
  *          6.25; q11 = 99.1% at 6.194) for ~30% lower encode
  *          throughput (0.43 vs 0.58 MB/s, r10 with insert-run-aware
  *          pricing + 8-slot candidate frontier + refine-sweep cuts)
  *          — q11 for speed parity with native, q12 for maximum
  *          ratio.
  *
  * Mirrors the reference's block-granular encode semantics
  * (BroCompressor.java:117-148: stage until a block is full, then emit)
  * without its JNI copies (SURVEY.md §3.1 cost model).
  */
final class BrotliEncoder(quality: Int = 6, lgwin: Int = 22) {
  require(quality >= 0 && quality <= 12, s"quality $quality out of range 0..12")
  require(lgwin >= 10 && lgwin <= 24, s"lgwin $lgwin out of range 10..24")

  /** Input staged per meta-block. Uncompressed meta-blocks allow MLEN up
    * to 2^24; entropy-coded blocks use 1 MiB so histograms adapt.
    * (4 MiB blocks at q >= 10 were measured in r8 and rejected: the
    * saved tree headers exactly cancel the lost per-MiB histogram
    * adaptation, at 4× the DP memory. Re-evaluated in r9 once §6 block
    * splitting existed to do the adapting INSIDE a meta-block.) */
  val blockSize: Int = if (quality == 0) 1 << 16 else 1 << 20

  private val staging = new Array[Byte](blockSize)
  private var staged = 0
  private val bits = new BitWriter
  private var headerWritten = false
  private var streamFinished = false

  private def writeStreamHeader(): Unit = {
    // RFC 7932 §9.1 WBITS encoding; lgwin in 18..24 → '1' + 3 bits of
    // (lgwin - 17); lgwin 17 → '1' + 000 + 000; lgwin 16 → '0'.
    if (lgwin == 16) bits.writeBits(0, 1)
    else if (lgwin == 17) { bits.writeBits(1, 1); bits.writeBits(0, 3); bits.writeBits(0, 3) }
    else if (lgwin >= 18) { bits.writeBits(1, 1); bits.writeBits(lgwin - 17, 3) }
    else { // 10..15 → '1' + 000 + 3 bits of (lgwin - 8)
      bits.writeBits(1, 1); bits.writeBits(0, 3); bits.writeBits(lgwin - 8, 3)
    }
    headerWritten = true
  }

  private def emitUncompressedBlock(data: Array[Byte], off: Int, len: Int,
      sink: ByteArrayOutputStream): Unit = {
    require(len >= 1 && len <= (1 << 24))
    if (!headerWritten) writeStreamHeader()
    bits.writeBits(0, 1) // ISLAST = 0
    val mlenMinus1 = len - 1
    val nibbles = if (mlenMinus1 < (1 << 16)) 4
      else if (mlenMinus1 < (1 << 20)) 5 else 6
    bits.writeBits(nibbles - 4, 2) // MNIBBLES code
    bits.writeBits(mlenMinus1.toLong, nibbles * 4)
    bits.writeBits(1, 1) // ISUNCOMPRESSED
    bits.alignToByte()
    bits.writeBytes(data, off, len)
    bits.drainTo(sink)
  }

  // -------------------------------------------------------------------
  // Entropy-coded meta-block machinery (RFC 7932 §9.2/9.3). Prefix
  // codes use the §3.4 simple form for ≤4 symbols and the §3.5 complex
  // form (no repeat codes) otherwise.
  // -------------------------------------------------------------------
  import Tables7932._

  /** Serialize a prefix code for `lengths`/`freqs` over `alphabetBits`-wide
    * symbols (§3.4 simple form, §3.5 complex form without repeat codes). */
  private def writePrefixCode(freqs: Array[Long], alphabetBits: Int): (Array[Int], Array[Int]) = {
    val nz = freqs.indices.filter(freqs(_) > 0)
    if (nz.size <= 4) {
      // simple form: 2-bit marker 1, NSYM-1, symbols ascending; lengths
      // are the spec's fixed sets ((2,2,2,2) for NSYM=4).
      bits.writeBits(1, 2)
      bits.writeBits(nz.size - 1, 2)
      nz.foreach(s => bits.writeBits(s, alphabetBits))
      if (nz.size == 4) bits.writeBits(0, 1) // tree-select: flat (2,2,2,2)
      val lengths = new Array[Int](freqs.length)
      nz.size match {
        case 1 => // zero-bit code
        case 2 => lengths(nz(0)) = 1; lengths(nz(1)) = 1
        case 3 => lengths(nz(0)) = 1; lengths(nz(1)) = 2; lengths(nz(2)) = 2
        case 4 => nz.foreach(lengths(_) = 2)
      }
      (lengths, Huffman.canonicalCodes(lengths))
    } else {
      val lengths = Huffman.buildLengths(freqs, MaxCodeLength)
      val codes = Huffman.canonicalCodes(lengths)
      // emission prefix: symbol lengths until the code is Kraft-complete
      val emitted = scala.collection.mutable.ArrayBuffer.empty[Int]
      var space = 32768
      var s = 0
      while (space > 0 && s < lengths.length) {
        emitted += lengths(s)
        if (lengths(s) > 0) space -= 32768 >> lengths(s)
        s += 1
      }
      // RLE the emitted length sequence with the §3.5 repeat codes:
      // zero runs → 17 (3-10 zeros, 3 extra bits), nonzero repeats → 16
      // (3-6 copies of the previous nonzero length, 2 extra bits). Big
      // alphabets (704 command symbols) are mostly zero runs, so this
      // shrinks every tree description. Same-code repeats are never
      // emitted back-to-back — a chained repeat RESCALES
      // (((total-2) << ebits) + 3 + extra, §3.5) rather than adds, so
      // long runs interleave one literal symbol as a chain breaker.
      val tokens = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int)] // (sym, extra, ebits)
      var idx = 0
      while (idx < emitted.length) {
        val v = emitted(idx)
        var run = 1
        while (idx + run < emitted.length && emitted(idx + run) == v) run += 1
        if (v == 0) {
          var left = run
          while (left > 0) {
            if (left >= 3) {
              val k = math.min(10, left)
              tokens += ((17, k - 3, 3))
              left -= k
              if (left > 0) { tokens += ((0, 0, 0)); left -= 1 } // break chain
            } else { tokens += ((0, 0, 0)); left -= 1 }
          }
        } else {
          tokens += ((v, 0, 0)) // sets the decoder's prevNonZero
          var left = run - 1
          while (left > 0) {
            if (left >= 3) {
              val k = math.min(6, left)
              tokens += ((16, k - 3, 2))
              left -= k
              if (left > 0) { tokens += ((v, 0, 0)); left -= 1 } // break chain
            } else { tokens += ((v, 0, 0)); left -= 1 }
          }
        }
        idx += run
      }
      val clcFreq = new Array[Long](18)
      tokens.foreach(t => clcFreq(t._1) += 1)
      val clcLen = Huffman.buildLengths(clcFreq, 5)
      val clcCodes = Huffman.canonicalCodes(clcLen)
      bits.writeBits(0, 2) // complex form, HSKIP = 0
      val static = CodeLengthCodeLengths
      val staticCodes = Huffman.canonicalCodes(static)
      var space32 = 32
      var i = 0
      while (i < CodeLengthCodeOrder.length && space32 > 0) {
        val sym = CodeLengthCodeOrder(i)
        val l = clcLen(sym)
        bits.writeCodeBits(staticCodes(l), static(l))
        if (l > 0) space32 -= 32 >> l
        i += 1
      }
      // a code-length code with a single used symbol decodes as a 0-bit
      // code on the read side — mirror that by emitting nothing.
      val clcSingle = clcLen.count(_ > 0) == 1
      if (!clcSingle) tokens.foreach { case (sym, extra, ebits) =>
        bits.writeCodeBits(clcCodes(sym), clcLen(sym))
        if (ebits > 0) bits.writeBits(extra.toLong, ebits)
      }
      (lengths, codes)
    }
  }

  // -------------------------------------------------------------------
  // LZ77 rungs (quality ≥ 1): hash-chain matching over a persistent
  // sliding window that spans meta-blocks (up to lgwin, like native
  // brotli — matches reach back across block boundaries into the
  // decoder's backward-reference window), real insert+copy commands with
  // explicit distances, all three alphabets Huffman-coded from block
  // histograms. Chain depth scales with quality.
  // -------------------------------------------------------------------
  private val HashBits = 19
  /** Little-endian long view over `hist`: match extension compares
    * 8 bytes per load (mismatch position from the XOR's trailing zeros).
    * ByteBuffer.getLong is JIT-intrinsified to an unaligned load (a
    * VarHandle view would box under Scala 2.x's lack of
    * signature-polymorphic calls). */
  private lazy val histLongs =
    java.nio.ByteBuffer.wrap(hist).order(java.nio.ByteOrder.LITTLE_ENDIAN)
  /** Length of the common prefix of hist(a..) and hist(b..), capped at
    * maxLen; a, b, and the compared range must lie within the array. */
  private def matchLen(a: Int, b: Int, maxLen: Int): Int = {
    var m = 0
    val wordEnd = maxLen - 7
    while (m < wordEnd) {
      val x = histLongs.getLong(a + m) ^ histLongs.getLong(b + m)
      if (x != 0L) return m + (java.lang.Long.numberOfTrailingZeros(x) >> 3)
      m += 8
    }
    while (m < maxLen && hist(a + m) == hist(b + m)) m += 1
    m
  }
  private lazy val hashTable = {
    val a = new Array[Int](1 << HashBits)
    java.util.Arrays.fill(a, -1)
    a
  }
  // sliding history: blocks are appended at `histTail`; when the buffer
  // is full the newest `winSize` bytes slide to the front and all table
  // positions rebase. Slides cost O(winSize) once per winSize+ bytes.
  private val winSize = 1 << math.min(lgwin, 22)
  private val maxBackward = (1 << math.min(lgwin, 22)) - 16
  /** Absolute stream offset of hist index 0 — slides advance it, so
    * `histShift + p` is a position's offset in the decompressed stream
    * (counting any preloaded prefix dictionary, which the decoder also
    * counts into totalOut). The §8 static-dictionary reference bound is
    * position-dependent: a distance is a dictionary reference iff it
    * exceeds min(streamPos, declared window) — the DECODER's declared
    * window, not the encoder's internal 22-bit cap. */
  private var histShift = 0L
  private val declaredMaxBackward = (1L << lgwin) - 16
  private def dictBoundAt(p: Int): Long =
    math.min(histShift + p, declaredMaxBackward)
  /** +8 tail pad so hash loads near the end can use a single getLong. */
  private lazy val hist = new Array[Byte](2 * winSize + blockSize + 8)
  private lazy val chain = new Array[Int](2 * winSize + blockSize)
  private var histTail = 0
  /** Chain-walk depth per match attempt (quality ladder). q5 moved
    * off the depth-1 row in r10: the old q5 compressed exactly like q1
    * (ratio 3.76 on the bench payload — below even native q1's 4.14),
    * so the rung bought nothing over q1 but a 5-byte hash. Swept
    * same-run against q1/q6: depth 32 WITHOUT insert-all lands at
    * ratio 4.38 (97.7% of native q5's 4.48, past native q1) at ~1.3×
    * our q6 speed and ~1.2× native q5's — sparse insertion is what
    * keeps the rung fast (depth 8 + insert-all measured q6-speed at
    * worse ratio: dominated; depth 64 sparse closed to 1.03× q6:
    * pointless spacing; context modeling at q5 was ratio-NEUTRAL here
    * at −45% speed, rejected). */
  private val chainDepth =
    if (quality >= 10) 512 else if (quality >= 8) 128
    else if (quality >= 5) 32 else 1
  private val insertAllPositions = quality >= 6
  /** Stop the chain walk once a match this long is found (zlib's
    * nice_length): longer candidates are possible but the marginal bit
    * savings don't pay for the cache-missing walk. */
  private val niceLen =
    if (quality >= 10) Int.MaxValue else if (quality >= 8) 512
    else if (quality >= 2) 128 else 64
  /** Skip-ahead ramp on unmatched positions: after 2^skipShift
    * consecutive misses the parse starts stepping >1 byte. Higher
    * qualities ramp later (better ratio on barely-compressible data). */
  private val skipShift =
    if (quality >= 10) 30 else if (quality >= 8) 9 else if (quality >= 6) 7
    else if (quality >= 2) 5 else 4
  // q3-4: 4-byte hash (catches minimum-length matches). q5+: 5-byte
  // hash — on low-entropy data (CSV digits, spaces) 4-gram chains are
  // pathologically collision-heavy; hashing 5 bytes thins them at the
  // cost of never finding exactly-4-byte matches via the chain (the
  // rep-match path still catches those at the last distance).
  private val hash5 = quality >= 5
  /** Bytes a position's hash reads past itself (bounds insertable range). */
  private def hashSpan: Int = if (hash5) 5 else 4

  /** Hash of the 4/5 bytes at `i` — a single unaligned load (hist is
    * tail-padded by 8) instead of 4-5 byte loads. */
  private def hashAt(i: Int): Int =
    if (hash5) {
      val v = histLongs.getLong(i) & 0xffffffffffL
      ((v * 0x9E3779B97F4A7C15L) >>> (64 - HashBits)).toInt
    } else {
      val v = histLongs.getLong(i).toInt
      (v * 0x9E3779B1) >>> (32 - HashBits)
    }

  /** Link `i` into its hash chain. chain(i) holds the DELTA to the
    * previous position with the same hash (i - prev); an empty bucket
    * (-1) yields delta i+1, so the walk's next candidate is -1 and
    * terminates naturally. */
  private def insertHash(i: Int): Unit = {
    val h = hashAt(i)
    chain(i) = i - hashTable(h)
    hashTable(h) = i
  }

  /** Preload the LZ window with a shared (prefix) dictionary so backward
    * references reach into it from the stream's first byte — the
    * reference's sole TODO (README.md:4-5): its native API plumbs
    * `dict, dictSize` end-to-end (bro.cc:46-48) but the Java layer's
    * `setDictionary` is a no-op (BroCompressor.java:79-81). Only the LZ
    * rungs (quality >= 1) emit backward references; the store rung ignores
    * the dictionary (streams stay valid either way). Must precede the
    * first write; a decoder needs the same dictionary to reproduce the
    * stream. */
  /** True while a `setDictionary` preload is armed and no payload has
    * been written yet (histTail doubles as the general history tail once
    * encoding starts, so this is only meaningful pre-write — exactly the
    * pool-reuse seam that needs it, see BrotliCompressor). */
  def hasPreload: Boolean = !headerWritten && staged == 0 && histTail > 0

  def setDictionary(b: Array[Byte], off: Int, len: Int): Unit = {
    require(!headerWritten && staged == 0 && histTail == 0,
      "setDictionary must precede writes")
    if (quality < 1 || len == 0) return
    val n = math.min(len, maxBackward) // beyond-window prefix is unreachable
    System.arraycopy(b, off + len - n, hist, 0, n)
    histTail = n
    // index every dictionary position whose full hash window fits inside
    // the dictionary (boundary-spanning positions are simply not
    // indexed) — into the structure the active parse actually reads:
    // the zopfli tier (q >= 11) searches ONLY the suffix tree, so
    // dictionary positions must enter it via insert-only descents or
    // the preload would be silently unreachable at the max-ratio tier
    var i = 0
    val last = n - hashSpan
    if (quality >= 11)
      while (i <= last) {
        btStoreAndFind(i, math.min(16383, n - i), -1); i += 1
      }
    else
      while (i <= last) { insertHash(i); i += 1 }
  }

  // -------------------------------------------------------------------
  // Literal CONTEXT MODELING (quality >= 10): literals are coded from
  // one of several Huffman trees selected by the UTF8 context of the
  // previous two output bytes (RFC 7932 §7.1) — the decoder-side
  // machinery (cmodes/NTREESL/context map) has been in place since the
  // beginning; this is the encoder side, and it is where native brotli
  // gets most of its q10/q11 ratio jump on text. The 64 per-context
  // histograms are clustered greedily into few trees; the context map
  // is written in the simplest valid §7.3 form (no RLE, no inverse
  // MTF — tree indices are the symbols).
  // -------------------------------------------------------------------
  private val contextModeling = quality >= 10
  /** Zopfli DP (quality >= 10): refine-loop count; the per-block DP
    * state (cost-to-reach, arrival edge, arrival distance) is
    * declared below, sized blockSize+1 and reused across blocks. */
  private val ZopfliIters = 3
  /** Max-ratio dial: relax explicit candidates at their copy-code
    * boundaries too, not just full length — the DP then cuts copies to
    * align successor matches, converting literal runs into copies the
    * way native's q11 parse does. With insert-run-aware pricing
    * (both r10): +1.1% ratio (6.194 → 6.265, past native's 6.25) for
    * ~30% encode throughput (0.58 → 0.43 MB/s) — the faithful pricing
    * is what made the cuts pay; under the r9 icode=0 model the dial
    * only reached 6.186. Surfaced as the q12 rung; q11 keeps it off
    * and stays speed-dominant over native (faster at 99.1% of its
    * ratio). q12 runs mode 1 — cuts in the REFINE sweeps only — which
    * measured both better ratio (6.2646 vs 6.2616 bench payload, tie
    * on natural prose) and ~10% more speed than every-sweep mode 2
    * once the 8-slot frontier landed: insert-pass cuts feed the first
    * histogram a parse shape the refine passes then overfit to.
    * 1 = refine sweeps only (q12), 0 = off. */
  private val ZopfliCutExplicit = if (quality >= 12) 1 else 0
  /** Copy-code boundaries below the top code that an explicit cut may
    * land on. Swept r10 at cutExplicit=2: with insert-run pricing,
    * span 2 measured 6.2349 (+0.04% over span 1's 6.2322) at −10%
    * speed and span 3 was flat at −30% — span 1 keeps q12 above
    * 0.4 MB/s; deeper refine sweeps (iters 4/6) were flat-to-worse.
    * (Under the old icode=0 pricing, span 2 was ratio-NEGATIVE —
    * mispriced cut options misled the histogram refine.) */
  private val ZopfliCutSpan = 1
  /** Binary-tree match finder for the zopfli pass (the published
    * H10/BT shape libbrotli uses at q10+ and zstd uses in btopt):
    * positions sharing a 4-byte hash bucket form a binary SEARCH tree
    * ordered lexicographically by suffix, most recent position at the
    * root. ONE descent both inserts the current position and visits its
    * lexicographic neighbors — where the longest matches live — so
    * ~[[BtMaxComps]] comparisons replace r8's two chain walks
    * (512-deep 8-byte + 48-deep 5-byte), and each comparison resumes
    * from the subtree boundary's agreement length instead of byte 0.
    * Replaced the chains in r9: same candidate-cache interface,
    * measured ~4× less match-search work per block at equal ratio. */
  private val BtMaxComps = 64
  /** Suffix-agreement horizon: suffixes equal this far are
    * indistinguishable to the tree — the newer position adopts the
    * older's subtrees and replaces it (which is also what terminates
    * descents in ~1 node inside long repeats). */
  private val BtCompLenMax = 128
  private val BtBucketBits = 17
  private lazy val btBuckets = {
    val a = new Array[Int](1 << BtBucketBits)
    java.util.Arrays.fill(a, -1)
    a
  }
  /** btForest(2p) / btForest(2p+1) = roots of position p's two
    * subtrees: 2p holds suffixes SMALLER than p's at the divergence
    * byte, 2p+1 suffixes greater-or-equal (the descent writes the
    * smaller side through nodeL, initialized to 2p). Cells are always
    * written before they become reachable from a bucket, so the array
    * needs no initialization. */
  private lazy val btForest = new Array[Int](2 * (2 * winSize + blockSize))
  private def btHash(i: Int): Int = {
    val v = histLongs.getLong(i).toInt // 4 bytes — the tree refines the rest
    (v * 0x9E3779B1) >>> (32 - BtBucketBits)
  }

  /** One tree descent at `p`: inserts p when ≥[[BtCompLenMax]] bytes
    * remain (shorter horizons search without modifying the tree — the
    * H10 rule, keeping under-compared nodes out of the order) and
    * records ascending-length candidates into the zCand slots at `ci4`
    * (pass ci4 < 0 to insert/search without recording — the dictionary
    * preload path, which also FORCES insertion: a preloaded dictionary
    * shorter than the horizon would otherwise never enter the tree at
    * all; its comparisons simply bottom out at the dictionary end).
    * Returns (slotsUsed << 16) | bestLen. */
  private def btStoreAndFind(p: Int, maxLen: Int, ci4: Int): Int = {
    val reroot = maxLen >= BtCompLenMax || ci4 < 0
    val stopLen = math.min(maxLen, BtCompLenMax)
    val key = btHash(p)
    var prev = btBuckets(key)
    if (reroot) btBuckets(key) = p
    var nodeL = 2 * p
    var nodeR = 2 * p + 1
    var lenL = 0
    var lenR = 0
    var best = 0
    var nc = 0
    var depth = BtMaxComps
    while (true) {
      if (prev < 0 || p - prev > maxBackward || depth <= 0) {
        if (reroot) { btForest(nodeL) = -1; btForest(nodeR) = -1 }
        return (nc << 16) | best
      }
      depth -= 1
      val cur = math.min(lenL, lenR) // agreement guaranteed this far
      val len = cur + matchLen(prev + cur, p + cur, maxLen - cur)
      if (len > best && len >= 4) { // MinMatch
        best = len
        if (ci4 >= 0) {
          val slot =
            if (nc < ZCandSlots) { nc += 1; nc - 1 } else ZCandSlots - 1
          zCandD(ci4 + slot) = p - prev
          zCandL(ci4 + slot) = len
        }
      }
      if (len >= stopLen) {
        if (reroot) {
          if (stopLen >= BtCompLenMax) {
            // suffixes equal to the full horizon: p replaces prev
            btForest(nodeL) = btForest(2 * prev)
            btForest(nodeR) = btForest(2 * prev + 1)
          } else {
            // TRUNCATED terminal (dictionary-preload positions whose
            // horizon ends at the dictionary end): p and prev agree on
            // every byte that exists NOW, but a dictionary suffix later
            // EXTENDS with the first stream bytes, so no p-vs-prev
            // ordering claim made here is durable — and a mis-ordered
            // tree breaks the descent's min(lenL, lenR) agreement
            // invariant, which candidates' first `cur` bytes are never
            // re-verified against (NOT ratio-only: an unverified prefix
            // can reach the DP as a false match). The rewires made on
            // the way down were all divergence-based (durable); only
            // this terminal placement is not, so drop prev's remaining
            // subtree instead of adopting it — the loss is bounded to
            // hash-colliding positions that agree to the data end
            // (rare; small ratio cost, never correctness).
            btForest(nodeL) = -1
            btForest(nodeR) = -1
          }
        }
        return (nc << 16) | best
      }
      if ((hist(p + len) & 0xff) > (hist(prev + len) & 0xff)) {
        lenL = len
        if (reroot) btForest(nodeL) = prev
        nodeL = 2 * prev + 1
        prev = btForest(nodeL)
      } else {
        lenR = len
        if (reroot) btForest(nodeR) = prev
        nodeR = 2 * prev
        prev = btForest(nodeR)
      }
    }
    0 // unreachable
  }
  private val CmdOverheadBits = 4.0
  private lazy val zCost = new Array[Double](blockSize + 1)
  private lazy val zFromLen = new Array[Int](blockSize + 1)
  /** Emitted copy length of the arrival edge — equals zFromLen except
    * for suffix-transformed §8 references, where the command's copy
    * length selects the WORD list but the output advances by word +
    * suffix. */
  private lazy val zFromCLen = new Array[Int](blockSize + 1)
  private lazy val zFromDist = new Array[Int](blockSize + 1)
  private lazy val zArrDist = new Array[Int](blockSize + 1)
  /** Literals on the best path since its last copy — lets the DP price
    * a copy edge's command symbol by its TRUE (icode, ccode) cell plus
    * the insert extra bits, instead of the icode=0 column the r9 model
    * used (whose systematic literal underpricing the calibrated litBias
    * approximated). Native's zopfli carries exactly this per-node state
    * (ZopfliNode's insert length). Adopted as default in r10 on
    * measurement — bench ratio payload: q11 6.141 → 6.156 at equal
    * speed; q12 6.186 → 6.232 (99.0% → 99.7% of native's 6.25) at
    * ~0.46 MB/s; natural English: q11 11.747 → 11.778, q12 11.781 →
    * 11.811. The faithful joint pricing is what unlocked the q12 cut
    * economics — with the icode=0 column, boundary cuts were priced as
    * if the insert run they avoid were free. */
  private lazy val zInsRun = new Array[Int](blockSize + 1)
  /** Per-position candidate cache (up to ZCandSlots (dist, len) pairs),
    * filled during the insert pass while the chain tips are temporally
    * correct — pass 2's tips point at positions AFTER p (the whole block
    * is inserted), so a fresh walk there would burn its depth budget
    * skipping future candidates and find nothing. The BT descent visits
    * nodes nearest-first and records ascending lengths, so the slots
    * hold the (distance, length) Pareto frontier at p; 4 slots evicted
    * mid-frontier points (slot 3 churned by each longer match), forcing
    * the DP to cut long copies from the FARTHEST candidate — measured
    * +0.33 avg log2(dist) vs native's streams on the bench payload. 8
    * slots close that: q11 6.156 -> 6.194 (99.1% of native's 6.25),
    * q12 6.234 -> 6.262 (100.2% -- past native) at ~6% encode cost;
    * 16 slots changed nothing (frontier fits in 8). A 4-deep
    * distance-ring DP state (libbrotli's dist_cache shape) was also
    * built and measured: +0.03% at 4 slots, nothing at 8 -- the wider
    * frontier subsumes it; not kept. */
  private val ZCandSlots = 8
  private lazy val zCandD = new Array[Int](ZCandSlots * (blockSize + 1))
  private lazy val zCandL = new Array[Int](ZCandSlots * (blockSize + 1))
  /** Cached §8 static-dictionary matches per position, the two longest
    * identity-transform words starting there, packed (len << 16 | idx);
    * 0 = none. Filled in pass 1, relaxed in every sweep. */
  private lazy val zDict1 = new Array[Int](blockSize + 1)
  private lazy val zDict2 = new Array[Int](blockSize + 1)
  private val MaxLitTrees = 12
  /** Distance trees are cheaper (64-symbol alphabet) than literal ones. */
  private val DistTreeCostBits = 150.0
  /** ~bits one extra literal tree costs (code description); merges stop
    * when the entropy growth of the best merge exceeds this. */
  private val TreeCostBits = 240.0

  private def utf8Ctx(p1: Int, p2: Int): Int =
    SpecData.ContextLut((2 << 9) + p1) | SpecData.ContextLut((2 << 9) + 256 + p2)

  /** Shannon bits of a histogram. */
  private def entropyBits(h: Array[Long]): Double = {
    var total = 0L
    var i = 0
    while (i < h.length) { total += h(i); i += 1 }
    if (total == 0L) return 0.0
    val lnT = math.log(total.toDouble)
    var b = 0.0
    i = 0
    while (i < h.length) {
      val c = h(i)
      if (c > 0L) b += c * (lnT - math.log(c.toDouble))
      i += 1
    }
    b / math.log(2.0)
  }

  /** Shannon bits of h1+h2 without materializing the merged histogram. */
  private def mergedEntropyBits(h1: Array[Long], h2: Array[Long]): Double = {
    var total = 0L
    var i = 0
    while (i < h1.length) { total += h1(i) + h2(i); i += 1 }
    if (total == 0L) return 0.0
    val lnT = math.log(total.toDouble)
    var b = 0.0
    i = 0
    while (i < h1.length) {
      val c = h1(i) + h2(i)
      if (c > 0L) b += c * (lnT - math.log(c.toDouble))
      i += 1
    }
    b / math.log(2.0)
  }

  /** Greedy agglomerative clustering of per-context histograms:
    * repeatedly merge the pair whose combined entropy grows least, while
    * more than `maxTrees` clusters remain OR the growth is cheaper than
    * a tree header (`treeCostBits`). Returns (context → tree id,
    * per-tree histograms), or null when a single tree suffices. */
  private def clusterContexts(ctxFreq: Array[Array[Long]], maxTrees: Int,
      treeCostBits: Double): (Array[Int], Array[Array[Long]]) = {
    val hists = scala.collection.mutable.ArrayBuffer[Array[Long]]()
    val members = scala.collection.mutable.ArrayBuffer[List[Int]]()
    var c = 0
    while (c < ctxFreq.length) {
      if (ctxFreq(c).exists(_ != 0L)) {
        hists += ctxFreq(c); members += List(c)
      }
      c += 1
    }
    if (hists.length <= 1) return null
    val ent = hists.map(entropyBits)
    var continueMerging = true
    while (continueMerging && hists.length > 1) {
      var bi = -1; var bj = -1
      var best = Double.MaxValue
      var i = 0
      while (i < hists.length) {
        var j = i + 1
        while (j < hists.length) {
          val d = mergedEntropyBits(hists(i), hists(j)) - ent(i) - ent(j)
          if (d < best) { best = d; bi = i; bj = j }
          j += 1
        }
        i += 1
      }
      if (best <= treeCostBits || hists.length > maxTrees) {
        val hb = hists(bj)
        val ha = hists(bi)
        var k = 0
        while (k < ha.length) { ha(k) += hb(k); k += 1 }
        ent(bi) = entropyBits(ha)
        members(bi) = members(bi) ++ members(bj)
        hists.remove(bj); ent.remove(bj); members.remove(bj)
      } else continueMerging = false
    }
    if (hists.length <= 1) return null
    val cmap = new Array[Int](ctxFreq.length)
    var t = 0
    while (t < hists.length) {
      members(t).foreach(ctx => cmap(ctx) = t)
      t += 1
    }
    (cmap, hists.toArray)
  }

  /** §9.2 variable-length count (inverse of the decoder's readVarCount). */
  private def writeVarCount(n: Int): Unit =
    if (n == 1) bits.writeBits(0, 1)
    else {
      bits.writeBits(1, 1)
      val nbits = 31 - Integer.numberOfLeadingZeros(n - 1)
      bits.writeBits(nbits.toLong, 3)
      bits.writeBits((n - 1 - (1 << nbits)).toLong, nbits)
    }

  /** §7.3 context map, simplest valid form: RLEMAX = 0 (tree indices are
    * the symbols directly), no inverse-MTF. */
  private def writeContextMap(cmap: Array[Int], nTrees: Int): Unit = {
    bits.writeBits(0, 1) // no RLE codes
    val freqs = new Array[Long](nTrees)
    cmap.foreach(v => freqs(v) += 1)
    val alphabetBits = 32 - Integer.numberOfLeadingZeros(nTrees - 1)
    val (lens, codes) = writePrefixCode(freqs, alphabetBits)
    cmap.foreach(v => bits.writeCodeBits(codes(v), lens(v)))
    bits.writeBits(0, 1) // no inverse MTF
  }

  /** Largest block-length code whose base fits `len` (§6 table; extras
    * are contiguous so the greatest base ≤ len always covers it). */
  private def blockLenCode(len: Int): Int = {
    var c = BlockLengthBase.length - 1
    while (c > 0 && BlockLengthBase(c) > len) c -= 1
    c
  }

  /** BLOCK SPLITTING (§6, q >= 10): segment a symbol stream into up to
    * `maxTypes` block types so each type gets its own prefix code —
    * positional adaptation that a single per-meta-block tree cannot
    * express (measured on the bench text: native q11 uses 6 command and
    * 8 distance block types and beats our single-tree stream by ~4%).
    *
    * Deterministic k-means over fixed-size chunk histograms: seeds are
    * evenly spaced chunks, cost is the Huffman code length of a chunk
    * under a type's code (17 bits for absent symbols — the same price
    * the zopfli DP uses), 3 assignment rounds, ties to the lower type.
    * Adopted only when the split total (including per-tree descriptions
    * and per-boundary switch costs) beats the single-tree total.
    *
    * Returns (blockTypes, blockLens in symbols, per-type histograms),
    * types renumbered in first-appearance order (the decoder starts in
    * type 0), or null when splitting doesn't pay. */
  private def splitBlocks(syms: Array[Int], nSyms: Int, alphabet: Int,
      chunkSize: Int, maxTypes: Int, treeDescBits: Double):
      (Array[Int], Array[Int], Array[Array[Long]]) = {
    if (nSyms < chunkSize * 8) return null
    val nChunks = (nSyms + chunkSize - 1) / chunkSize
    val chunkHist = Array.fill(nChunks)(new Array[Long](alphabet))
    var s = 0
    while (s < nSyms) { chunkHist(s / chunkSize)(syms(s)) += 1; s += 1 }
    val global = new Array[Long](alphabet)
    var c = 0
    while (c < nChunks) {
      val h = chunkHist(c)
      var a = 0
      while (a < alphabet) { global(a) += h(a); a += 1 }
      c += 1
    }
    def costWith(h: Array[Long], lens: Array[Int]): Long = {
      var bitsN = 0L
      var a = 0
      while (a < alphabet) {
        if (h(a) > 0) bitsN += h(a) * (if (lens(a) > 0) lens(a) else 17)
        a += 1
      }
      bitsN
    }
    val singleBits = costWith(global, Huffman.buildLengths(global, 15))
    val K0 = math.min(maxTypes, nChunks)
    var assign = Array.tabulate(nChunks)(c2 => c2 * K0 / nChunks)
    // alternate type-code fitting (k-means step) with a Viterbi pass
    // that charges every type flip its real switch cost — independent
    // per-chunk argmin oscillates on small chunks, paying ~14 bits per
    // flip for marginal code wins (measured: worse than no split)
    val SwitchBits = 14.0
    var iter = 0
    while (iter < 4) {
      val th = Array.fill(K0)(new Array[Long](alphabet))
      var c2 = 0
      while (c2 < nChunks) {
        val h = chunkHist(c2); val t = assign(c2)
        var a = 0
        while (a < alphabet) { th(t)(a) += h(a); a += 1 }
        c2 += 1
      }
      val lens = th.map(h =>
        if (h.exists(_ > 0)) Huffman.buildLengths(h, 15) else null)
      // Viterbi over (chunk, type): emission = chunk coded by type,
      // transition = SwitchBits on type change
      val cost = Array.fill(K0)(0.0)
      val prevCost = Array.fill(K0)(0.0)
      val back = Array.ofDim[Byte](nChunks, K0)
      var t0 = 0
      while (t0 < K0) {
        prevCost(t0) =
          if (lens(t0) == null) Double.MaxValue / 4
          else costWith(chunkHist(0), lens(t0)).toDouble
        t0 += 1
      }
      c2 = 1
      while (c2 < nChunks) {
        var bestPrev = 0
        var t = 1
        while (t < K0) { if (prevCost(t) < prevCost(bestPrev)) bestPrev = t; t += 1 }
        t = 0
        while (t < K0) {
          if (lens(t) == null) { cost(t) = Double.MaxValue / 4; back(c2)(t) = bestPrev.toByte }
          else {
            val stay = prevCost(t)
            val switch = prevCost(bestPrev) + SwitchBits
            val (base, from) =
              if (stay <= switch || bestPrev == t) (stay, t) else (switch, bestPrev)
            cost(t) = base + costWith(chunkHist(c2), lens(t))
            back(c2)(t) = from.toByte
          }
          t += 1
        }
        System.arraycopy(cost, 0, prevCost, 0, K0)
        c2 += 1
      }
      var cur = 0
      var t1 = 1
      while (t1 < K0) { if (prevCost(t1) < prevCost(cur)) cur = t1; t1 += 1 }
      c2 = nChunks - 1
      while (c2 >= 0) {
        assign(c2) = cur
        if (c2 > 0) cur = back(c2)(cur)
        c2 -= 1
      }
      iter += 1
    }
    // renumber in first-appearance order (first block must be type 0)
    val remap = new Array[Int](K0)
    java.util.Arrays.fill(remap, -1)
    var next = 0
    var c3 = 0
    while (c3 < nChunks) {
      if (remap(assign(c3)) < 0) { remap(assign(c3)) = next; next += 1 }
      c3 += 1
    }
    val K = next
    if (K < 2) return null
    assign = assign.map(remap)
    val typeHists = Array.fill(K)(new Array[Long](alphabet))
    val typeLens = new Array[Array[Int]](K)
    c3 = 0
    while (c3 < nChunks) {
      val h = chunkHist(c3)
      var a = 0
      while (a < alphabet) { typeHists(assign(c3))(a) += h(a); a += 1 }
      c3 += 1
    }
    var t = 0
    while (t < K) { typeLens(t) = Huffman.buildLengths(typeHists(t), 15); t += 1 }
    var splitBits = 0.0
    c3 = 0
    while (c3 < nChunks) {
      splitBits += costWith(chunkHist(c3), typeLens(assign(c3)))
      c3 += 1
    }
    // blocks = runs of same-type chunks (lengths in SYMBOLS)
    val bt = scala.collection.mutable.ArrayBuffer[Int]()
    val bl = scala.collection.mutable.ArrayBuffer[Int]()
    c3 = 0
    while (c3 < nChunks) {
      val t2 = assign(c3)
      var run = 0
      while (c3 < nChunks && assign(c3) == t2) {
        run += math.min(chunkSize, nSyms - c3 * chunkSize)
        c3 += 1
      }
      bt += t2; bl += run
    }
    // per-boundary: type symbol (~2-4b) + blen code (~4b) + blen extra
    splitBits += (bt.length - 1) * 14.0 + bt.length * 8.0
    splitBits += K * treeDescBits + 120.0 // type+len tree descriptions
    if (splitBits >= singleBits + treeDescBits) return null
    (bt.toArray, bl.toArray, typeHists)
  }

  // distance ring mirroring the decoder's stream-level state (§4,
  // libbrotli-verified): initial last/2nd/3rd/4th = 4/11/15/16; code 0
  // and implicit-zone distances do not push; everything else does.
  private val distRing = Tables7932.InitialDistanceRing.clone()
  private var distRingIdx = 0
  private def ringLast(k: Int): Int = distRing((distRingIdx - 1 - k) & 3)
  private def ringPush(d: Int): Unit = {
    distRing(distRingIdx & 3) = d; distRingIdx = (distRingIdx + 1) & 3
  }

  /** Ring-relative distance code (0-15) for `dist` if one applies:
    * (dcode, pushesRing); dcode = -1 when the distance must be coded
    * explicitly (the §4 offset formula, parameterized per block at
    * emission — see the NPOSTFIX/NDIRECT selection in emitLzBlock). */
  private def ringDistanceCodeFor(dist: Int): (Int, Boolean) = {
    if (dist == ringLast(0)) return (0, false)
    var k = 1
    while (k < 4) {
      if (dist == ringLast(k)) return (k, true)
      k += 1
    }
    var j = 0
    while (j < 6) {
      if (dist == ringLast(0) + Tables7932.ShortCodeDelta(j) && dist > 0)
        return (4 + j, true)
      j += 1
    }
    j = 0
    while (j < 6) {
      if (dist == ringLast(1) + Tables7932.ShortCodeDelta(j) && dist > 0)
        return (10 + j, true)
      j += 1
    }
    (-1, true)
  }

  private def copyCodeFor(len: Int): Int = {
    var c = CopyBase.length - 1
    while (c > 0 && CopyBase(c) > len) c -= 1
    c
  }

  /** Inverse of the §4 distance formula under (npostfix, ndirect —
    * the SHIFTED value): returns (dcode, extraBits, extraVal). Closed
    * form, verified against the decoder's forward formula. */
  private def distanceCodeFor(dist: Int, npostfix: Int,
      ndirect: Int): (Int, Int, Int) = {
    if (dist <= ndirect) return (15 + dist, 0, 0) // direct codes
    val pmask = (1 << npostfix) - 1
    val big = dist - ndirect - 1
    val lcode = big & pmask
    val x = (big >> npostfix) + 4
    val nb = 30 - Integer.numberOfLeadingZeros(x)
    val h = (x >>> nb) - 2
    val extra = x - ((2 + h) << nb)
    val d = ((nb - 1) << (npostfix + 1)) | (h << npostfix) | lcode
    (16 + ndirect + d, nb, extra)
  }


  /** Choose (npostfix, ndirect) for a parsed block — see the selection
    * comment in emitLzBlock. Returns the packed pair. */
  private def selectDistanceParams(cmdBuf: Array[Int], nCmds: Int,
      CmdStride: Int): Int = {
    var nExp = 0
    var c0 = 0
    while (c0 < nCmds) {
      if (cmdBuf(c0 * CmdStride + 6) == -2) nExp += 1
      c0 += 1
    }
    if (nExp == 0) return 0
    val exp = new Array[Int](nExp)
    val ringCnt = new Array[Long](16)
    var k = 0
    c0 = 0
    while (c0 < nCmds) {
      val o = c0 * CmdStride
      val dc = cmdBuf(o + 6)
      if (dc == -2) { exp(k) = cmdBuf(o + 7); k += 1 }
      else if (dc >= 0) ringCnt(dc) += 1
      c0 += 1
    }
    // the grid only needs the RELATIVE ordering of combos, so it decides
    // on a stride-sample of the explicit distances; ring counts scale by
    // the same stride so the mixture stays honest
    val stride = math.max(1, nExp / 4096)
    def gridCost(pf: Int, nd: Int): Double = {
      val hist = new Array[Long](numDistanceCodes(pf, nd))
      var r = 0
      while (r < 16) { hist(r) = ringCnt(r) / stride; r += 1 }
      var extraBits = 0L
      var i = 0
      while (i < nExp) {
        val (sym, nb, _) = distanceCodeFor(exp(i), pf, nd)
        hist(sym) += 1
        extraBits += nb
        i += stride
      }
      // + a tree-description proxy (~1 bit per 8 alphabet slots after
      // RLE) — the bigger alphabets must pay their header
      entropyBits(hist) + extraBits + hist.length / 8.0
    }
    // (0,0) is the incumbent: a challenger must beat it by a real
    // relative margin — sub-0.2% predicted wins are entropy-estimate
    // noise that materializes as losses (measured on the docs corpus)
    val incumbent = gridCost(0, 0)
    var bestBits = incumbent - math.max(200.0, incumbent * 0.002)
    var npostfix = 0
    var ndirect = 0
    var pf = 0
    while (pf <= 3) {
      var ndc = 0
      while (ndc <= 15) {
        val nd = ndc << pf
        if (pf != 0 || nd != 0) {
          val total = gridCost(pf, nd)
          if (total < bestBits) { bestBits = total; npostfix = pf; ndirect = nd }
        }
        ndc += 1
      }
      pf += 1
    }
    (npostfix << 16) | ndirect
  }

  /** Rewrite every explicit (-2) distance under the chosen parameters
    * and return the distance histogram. */
  private def finalizeDistances(cmdBuf: Array[Int], nCmds: Int,
      CmdStride: Int, npostfix: Int, ndirect: Int): Array[Long] = {
    val distFreq2 = new Array[Long](numDistanceCodes(npostfix, ndirect))
    var c0 = 0
    while (c0 < nCmds) {
      val o = c0 * CmdStride
      val dc = cmdBuf(o + 6)
      if (dc >= 0) distFreq2(dc) += 1
      else if (dc == -2) {
        val (sym, nb, dv) = distanceCodeFor(cmdBuf(o + 7), npostfix, ndirect)
        cmdBuf(o + 6) = sym
        cmdBuf(o + 7) = (nb << 24) | dv
        distFreq2(sym) += 1
      }
      c0 += 1
    }
    distFreq2
  }

  /** Slide the history window so a `len`-byte block fits. Chain links
    * are stored as deltas (i - prev), which are shift-invariant, so the
    * slide is two arraycopies plus a small hash-table rebase — no O(win)
    * per-element rebase loop. A delta chain that crosses into slid-off
    * territory walks to a negative position and terminates (candidates
    * are always verified by byte compare, so stale links cost a probe,
    * never correctness). */
  private def ensureHistRoom(len: Int): Unit = {
    if (histTail + len <= hist.length - 8) return
    val shift = histTail - winSize
    System.arraycopy(hist, shift, hist, 0, winSize)
    if (quality < 11) { // the chains feed only the greedy tiers' parse
      System.arraycopy(chain, shift, chain, 0, winSize)
      var i = 0
      while (i < hashTable.length) {
        val p = hashTable(i) - shift
        hashTable(i) = if (p >= 0) p else -1
        i += 1
      }
    }
    if (quality >= 11) { // the zopfli tier reads only the suffix tree
      System.arraycopy(btForest, 2 * shift, btForest, 0, 2 * winSize)
      var j = 0
      while (j < 2 * winSize) {
        val v = btForest(j) - shift
        btForest(j) = if (v >= 0) v else -1
        j += 1
      }
      j = 0
      while (j < btBuckets.length) {
        val b = btBuckets(j) - shift
        btBuckets(j) = if (b >= 0) b else -1
        j += 1
      }
    }
    histShift += shift
    histTail = winSize
  }

  private def emitLzBlock(data: Array[Byte], off: Int, len: Int,
      sink: ByteArrayOutputStream): Unit = {
    require(len >= 1 && len <= (1 << 24))
    if (!headerWritten) writeStreamHeader()
    // ---- append the block to the sliding history ----
    ensureHistRoom(len)
    val b0 = histTail // block start in history coordinates
    System.arraycopy(data, off, hist, b0, len)
    histTail += len
    val end = histTail
    // ---- parse into commands (hash-chain match search) ----
    val MinMatch = 4
    val MaxCopy = 16383
    // commands land in a flat int array (stride CmdStride), histograms
    // and ring/distance coding resolved inline — one pass, no per-command
    // allocation: [litStart, litLen, copyLen, icode, ccode, cmdSym, dc, db<<24|dv]
    val litFreq = new Array[Long](LiteralAlphabetSize)
    val cmdFreq = new Array[Long](CommandAlphabetSize)
    val distFreq = new Array[Long](numDistanceCodes(0, 0))
    var cmdBuf = new Array[Int](8 * 1024)
    var nCmds = 0
    val CmdStride = 8
    def addCmd(cLitStart: Int, cLitLen: Int, cCopyLen: Int, cDist: Int): Unit = {
      val icode = insertCodeFor(cLitLen)
      val ccode = if (cCopyLen > 0) copyCodeFor(cCopyLen) else 0
      // §8 static-dictionary reference: distance exceeds the decoder's
      // position-dependent backward bound. Always explicit (the ring
      // compares could collide numerically early in the stream) and
      // never pushes the ring — mirroring the decoder exactly.
      val isDict = cCopyLen > 0 && cDist > dictBoundAt(cLitStart + cLitLen)
      // same-distance matches use the implicit distance-0 command zone
      // (cmd < 128): no distance symbol or extra bits in the stream
      val implicitOk = !isDict && cCopyLen > 0 && cDist == ringLast(0) &&
        icode <= 7 && ccode <= 15
      val cmdSym =
        if (implicitOk) {
          val cell = if (ccode < 8) 0 else 1
          64 * cell + ((icode & 7) << 3) + (ccode & 7)
        } else packCommandExplicit(icode, ccode)
      cmdFreq(cmdSym) += 1
      var i = 0
      while (i < cLitLen) { litFreq(hist(cLitStart + i) & 0xff) += 1; i += 1 }
      // dc: ring code 0-15, -1 = no distance (implicit zone / trailing
      // literals), -2 = explicit — the raw distance parks in o+7 until
      // the block's NPOSTFIX/NDIRECT are chosen post-parse
      var dc = -1; var raw = 0
      if (isDict) { dc = -2; raw = cDist }
      else if (cCopyLen > 0 && !implicitOk) {
        val (rc, pushes) = ringDistanceCodeFor(cDist)
        if (rc >= 0) dc = rc else { dc = -2; raw = cDist }
        if (pushes) ringPush(cDist)
      }
      if (nCmds * CmdStride == cmdBuf.length)
        cmdBuf = java.util.Arrays.copyOf(cmdBuf, cmdBuf.length * 2)
      val o = nCmds * CmdStride
      cmdBuf(o) = cLitStart; cmdBuf(o + 1) = cLitLen; cmdBuf(o + 2) = cCopyLen
      cmdBuf(o + 3) = icode; cmdBuf(o + 4) = ccode; cmdBuf(o + 5) = cmdSym
      cmdBuf(o + 6) = dc; cmdBuf(o + 7) = raw
      nCmds += 1
    }
    var pos = b0
    var litStart = b0
    // parse-time last distance (mirrors the ring's slot 0 well enough to
    // steer the search): a match at this distance encodes as the implicit
    // zone / dcode 0 — zero distance bits — and, crucially, one long-match
    // discovery locks the parser onto a long repeat's period.
    var lastDist = ringLast(0)
    var maxInserted = b0 - 1 // highest position already in the hash chains
    // last position whose full hash window fits inside this block
    val lastHashPos = end - hashSpan
    // search at p after inserting it: returns (len << 32) | matchStart,
    // or 0 when no match of MinMatch+ exists.
    def searchAndInsert(p: Int): Long = {
      val h = hashAt(p)
      var cand = hashTable(h)
      if (p > maxInserted) { chain(p) = p - cand; hashTable(h) = p; maxInserted = p }
      val maxLen = math.min(MaxCopy, end - p)
      // rep-match: try the last distance first (O(1), no chain walk)
      var repLen = 0
      if (lastDist > 0 && p - lastDist >= 0)
        repLen = matchLen(p - lastDist, p, maxLen)
      // a nice-length rep match costs zero distance bits — no chain
      // candidate can beat it by enough to pay for the walk, so skip it
      // (this is where long-repeat corpora spend their time otherwise)
      if (repLen >= niceLen)
        return (repLen.toLong << 32) | (p - lastDist)
      var bestLen = 0
      var bestPos = -1
      var depth = chainDepth
      while (cand >= 0 && depth > 0 && p - cand <= maxBackward &&
          bestLen < niceLen) {
        // quick reject: match must beat bestLen, so check that byte first
        if (bestLen < maxLen && cand != p &&
            hist(cand + bestLen) == hist(p + bestLen)) {
          val mlen = matchLen(cand, p, maxLen)
          if (mlen > bestLen) {
            bestLen = mlen; bestPos = cand
            // zlib's good_match: with a decent match in hand, the rest
            // of the walk rarely pays — spend the remaining probes faster
            if (mlen >= 32) depth = math.min(depth, 4)
          }
        }
        cand -= chain(cand)
        depth -= 1
      }
      // prefer the rep match unless the chain match is clearly longer
      // (the rep distance costs no distance bits)
      if (repLen >= MinMatch && repLen + 8 >= bestLen) {
        bestLen = repLen; bestPos = p - lastDist
      }
      if (bestLen >= MinMatch) (bestLen.toLong << 32) | bestPos else 0L
    }
    // note: one-step lazy matching was tried here and measurably hurt —
    // the rep-match preference already captures the long-repeat economics
    // and deferring a match breaks the last-distance chain.
    // on incompressible stretches, step further between match attempts
    // the longer we go without finding one (brotli/zlib's skip
    // heuristic): cost is a missed short match at a skipped position,
    // bounded by the slow ramp; gain is O(1/step) work on random data
    // ----------------------------------------------------------------
    // ZOPFLI-STYLE PARSE (quality >= 10): r8 bit accounting showed
    // distance EXTRA bits are ~60% of the q11 stream on text — the
    // greedy longest-match parse pays a fresh ~20-bit explicit distance
    // per command where a slightly different match (a same-distance
    // rep, or a copy cut at a code boundary to land on one) costs ~1
    // bit. A forward shortest-path DP over the block picks the cheapest
    // command sequence under a histogram cost model: pass 1 runs on
    // static costs (and populates the hash chains), its plan's
    // histograms price pass 2, and the final plan is rebuilt through
    // addCmd so emission stays bit-exact (DP costs are estimates;
    // addCmd re-derives implicit/ring/short codes from the true ring).
    // Rep economics thread the ARRIVAL distance through the DP
    // (dist == arrival distance ⇒ near-free) — the one-deep
    // approximation of libbrotli's distance-cache-aware ZopfliNode
    // search (zopfli.c's BrotliZopfliComputeShortestPath shape).
    // ----------------------------------------------------------------
    def zopfliParse(): Unit = {
      val n = end - b0
      val litCostT = new Array[Double](256)
      val cmdCostT = new Array[Double](CommandAlphabetSize)
      val distCostT = new Array[Double](numDistanceCodes(0, 0))
      // pass-1 static model: block-byte entropy for literals,
      // implicit-zone commands cheaper than explicit, flat distances
      locally {
        val bf = new Array[Long](256)
        var p = b0
        while (p < end) { bf(hist(p) & 0xff) += 1; p += 1 }
        val bl = Huffman.buildLengths(bf, 15)
        var i = 0
        while (i < 256) {
          litCostT(i) = (if (bl(i) > 0) bl(i) else 17.0) * 1.3; i += 1
        }
        i = 0
        while (i < cmdCostT.length) { cmdCostT(i) = if (i < 128) 7.0 else 10.0; i += 1 }
        i = 0
        while (i < distCostT.length) { distCostT(i) = 7.0; i += 1 }
      }
      // literals are UNDERPRICED by the per-byte Huffman cost: each
      // literal also lengthens its command's insert run and spreads the
      // literal histogram. Insert-run pricing prices the icode/extra-bits
      // half of that coupling exactly, so the residual bias is small
      // (swept: optimum 1.5, flat 1.3-1.6 within 0.02%). It steers the
      // DP toward the copy-richer parse shape native's q11 streams
      // exhibit.
      val litBias = 1.5
      def costsFromFreqs(): Unit = {
        def fill(freqs: Array[Long], out: Array[Double]): Unit = {
          val ls = Huffman.buildLengths(freqs, 15)
          var i = 0
          while (i < out.length) { out(i) = if (ls(i) > 0) ls(i) else 17.0; i += 1 }
        }
        fill(litFreq, litCostT); fill(cmdFreq, cmdCostT)
        var i = 0
        while (i < litCostT.length) { litCostT(i) *= litBias; i += 1 }
        // distance syms resolve per block post-parse (NPOSTFIX/NDIRECT
        // selection), so price them here from the replayed commands
        // under the (0,0) cost model the DP edges use
        val df = new Array[Long](distCostT.length)
        var c2 = 0
        while (c2 < nCmds) {
          val o = c2 * CmdStride
          val dc = cmdBuf(o + 6)
          if (dc >= 0) df(dc) += 1
          else if (dc == -2) df(distSymAndBits(cmdBuf(o + 7)) & 0xffff) += 1
          c2 += 1
        }
        fill(df, distCostT)
      }
      // closed-form §4 distance code (NPOSTFIX=0, NDIRECT=0):
      // (symbol | extraBits << 16) for an explicit distance
      def distSymAndBits(dist: Int): Int = {
        val x = dist + 3
        val nb = 30 - Integer.numberOfLeadingZeros(x)
        (16 + ((nb - 1) << 1) + ((x >>> nb) & 1)) | (nb << 16)
      }
      def relaxAt(i: Int, len: Int, dist: Int, rep: Boolean): Unit = {
        val j = i + len
        val ccode = copyCodeFor(len)
        // CmdOverheadBits counters fragmentation: even with insert-run
        // pricing (the true (icode, ccode) cell below) the histogram
        // cost model sees marginal command symbols as near-free once
        // frequent, so without a fixed per-command term the DP splits
        // one long copy into several rep copies that each really cost
        // histogram spread and later-pass price drift
        var c = zCost(i) + CopyExtra(ccode) + CmdOverheadBits
        // price the command by its true (icode, ccode) cell + insert
        // extra bits, from the best path's literal run at i
        val ic = insertCodeFor(zInsRun(i))
        if (ic > 0) c += InsertExtra(ic)
        if (rep) {
          // emission lands in the implicit zone (ccode ≤ 15) or pays an
          // explicit command + ring dcode 0 — both distance-bit-free
          if (ccode <= 15 && ic <= 7)
            c += cmdCostT(64 * (if (ccode < 8) 0 else 1) +
              ((ic & 7) << 3) + (ccode & 7))
          else c += cmdCostT(packCommandExplicit(ic, ccode)) + distCostT(0)
        } else {
          val sb = distSymAndBits(dist)
          c += cmdCostT(packCommandExplicit(ic, ccode)) +
            distCostT(sb & 0xffff) + (sb >>> 16)
        }
        if (c < zCost(j)) {
          zCost(j) = c; zFromLen(j) = len; zFromCLen(j) = len
          zFromDist(j) = dist; zArrDist(j) = dist
          zInsRun(j) = 0
        }
      }
      // relax every copy-code boundary ≤ len (cost is flat within a
      // code, so only the longest length per code matters); bounded to
      // the top 6 codes. Rep edges go down to 2-byte copies (spec-legal,
      // and in the implicit zone a len-2 rep costs one command symbol —
      // cheaper than two literals — letting paths bridge small gaps
      // without breaking the distance chain); explicit edges stop at
      // MinMatch, where a fresh distance stops paying.
      def relaxBoundaries(i: Int, len: Int, dist: Int, rep: Boolean): Unit = {
        val minLen = if (rep) 2 else MinMatch
        val cTop = copyCodeFor(len)
        val span = if (rep) 5 else ZopfliCutSpan
        val cMin = math.max(copyCodeFor(minLen), cTop - span)
        var c = cTop
        while (c >= cMin) {
          val l = if (c == cTop) len else math.min(len, CopyBase(c + 1) - 1)
          if (l >= minLen) relaxAt(i, l, dist, rep)
          c -= 1
        }
      }
      /** §8 dictionary edge: the command's copy length selects the
        * WORD-length list (words cannot be cut at code boundaries) and
        * the output advances by the TRANSFORMED length; distance built
        * per the decoder's address formula at this position. The ring
        * is untouched by dictionary references, so the arrival distance
        * carries through from i. */
      def relaxDictT(i: Int, wordLen: Int, idx: Int, tid: Int,
          outLen: Int): Unit = {
        val dist = (dictBoundAt(b0 + i) + 1 +
          ((tid.toLong << SpecData.Dictionary.sizeBits(wordLen)) | idx)).toInt
        val j = i + outLen
        val ccode = copyCodeFor(wordLen)
        val sb = distSymAndBits(dist)
        val ic = insertCodeFor(zInsRun(i))
        val c = zCost(i) + CopyExtra(ccode) + CmdOverheadBits +
          (if (ic > 0) InsertExtra(ic) else 0.0) +
          cmdCostT(packCommandExplicit(ic, ccode)) +
          distCostT(sb & 0xffff) + (sb >>> 16)
        if (c < zCost(j)) {
          zCost(j) = c; zFromLen(j) = outLen; zFromCLen(j) = wordLen
          zFromDist(j) = dist
          zArrDist(j) = zArrDist(i)
          zInsRun(j) = 0
        }
      }
      /** Relax a cached identity word plus every affix transform whose
        * prefix precedes and suffix follows the word in the input
        * (' w ', 'w, ', ' the w of ', …) — each extends coverage at the
        * cost of a couple of address bits. Prefix edges depart from
        * i - |prefix|, whose cost is already final in a forward sweep. */
      def relaxDict(i: Int, packed: Int): Unit = {
        val ferment = (packed & 0x40000000) != 0
        val wl = (packed >>> 16) & 0x3fff
        val idx = packed & 0xffff
        if (!ferment) relaxDictT(i, wl, idx, DictIndex.identityId, wl)
        val p = b0 + i
        val afx =
          if (ferment) DictIndex.fermentTransforms
          else DictIndex.affixTransforms
        var t = 0
        while (t < afx.length) {
          val pre = afx(t)._2
          val suf = afx(t)._3
          val pl = pre.length
          val ol = pl + wl + suf.length
          if (i - pl >= 0 && i + wl + suf.length <= n) {
            var k = 0
            while (k < pl && hist(p - pl + k) == pre(k)) k += 1
            if (k == pl) {
              k = 0
              while (k < suf.length && hist(p + wl + k) == suf(k)) k += 1
              if (k == suf.length)
                relaxDictT(i - pl, wl, idx, afx(t)._1, ol)
            }
          }
          t += 1
        }
      }
      def sweep(insertPass: Boolean): Unit = {
        java.util.Arrays.fill(zCost, 0, n + 1, Double.MaxValue)
        zCost(0) = 0.0
        zArrDist(0) = ringLast(0)
        zInsRun(0) = 0
        var p = b0
        var lastRepD0 = 0
        var lastRepLen = 0
        while (p < end) {
          val i = p - b0
          // literal edge (keeps every node reachable by induction)
          val lc = zCost(i) + litCostT(hist(p) & 0xff)
          if (lc < zCost(i + 1)) {
            zCost(i + 1) = lc; zFromLen(i + 1) = 0; zFromCLen(i + 1) = 0
            zFromDist(i + 1) = 0
            zArrDist(i + 1) = zArrDist(i)
            zInsRun(i + 1) = zInsRun(i) + 1
          }
          val maxLen = math.min(MaxCopy, end - p)
          if (maxLen >= MinMatch) {
            var walkBest = 0 // longest window candidate found at p
            val d0 = zArrDist(i)
            var repLen = 0
            if (d0 > 0 && d0 <= maxBackward && p - d0 >= 0) {
              // incremental: one step later at the same arrival
              // distance, the first lastRepLen-1 bytes are matching by
              // construction — extend from there instead of rescanning
              // (a full rescan at every interior position of a long or
              // MaxCopy-clipped repeat was O(L²) per repeat region)
              repLen =
                if (d0 == lastRepD0 && lastRepLen > 0) {
                  val base = math.min(lastRepLen - 1, maxLen)
                  base + matchLen(p - d0 + base, p + base, maxLen - base)
                } else matchLen(p - d0, p, maxLen)
              lastRepD0 = d0; lastRepLen = repLen
              if (repLen >= 2) relaxBoundaries(i, repLen, d0, rep = true)
            } else { lastRepD0 = 0; lastRepLen = 0 }
            if (p <= lastHashPos) {
              val ci4 = i * ZCandSlots
              if (insertPass) {
                // one BT descent: inserts p into the suffix tree and
                // fills the candidate cache (descents inside long
                // repeats cost ~1 node — the agreement horizon
                // terminates them immediately; seeding the recorder
                // with repLen was measured ratio-neutral and slower)
                val r = btStoreAndFind(p, maxLen, ci4)
                val nc = r >>> 16
                walkBest = r & 0xffff
                var z = nc
                while (z < ZCandSlots) { zCandL(ci4 + z) = 0; z += 1 }
              }
              // relax from the cached candidates (identical in both passes)
              var k = 0
              var bl = 0
              var bd = 0
              while (k < ZCandSlots) {
                val l = zCandL(ci4 + k)
                if (l > 0) {
                  val d = zCandD(ci4 + k)
                  if (ZopfliCutExplicit == 1 && !insertPass)
                    relaxBoundaries(i, l, d, rep = false)
                  else relaxAt(i, l, d, rep = false)
                  if (l > bl) { bl = l; bd = d }
                }
                k += 1
              }
              // explicit candidates relax at full length by default:
              // cutting them at code boundaries buys ~+1% ratio for
              // ~35% throughput (the ZopfliCutExplicit dial above);
              // rep cuts stay distance-free and always relax
            }
            // §8 static-dictionary probes: one rolling FNV over the next
            // ≤24 bytes, a table probe per length, cache the two longest
            // identity-transform hits. Same skips as the chain walks
            // (inside a long repeat nothing ≤24 bytes can win).
            if (insertPass) {
              zDict1(i) = 0; zDict2(i) = 0
              // probe only where the window matcher came up short: a
              // window copy ≥16 at LZ distance always beats a ≤24-byte
              // word at a ~4M distance (measured: probing everywhere
              // cost +12% q11 time for no ratio change)
              if (walkBest < 16 && repLen < 16) {
                val lim = math.min(DictIndex.MaxLen, maxLen)
                val b0c = hist(p) & 0xff
                // capitalized first byte: probe the case-folded form too
                // (ferment-first transforms — "The" reaches "the")
                val folded = b0c >= 'A' && b0c <= 'Z'
                var h = 0xcbf29ce484222325L
                var h2 = if (folded)
                  (0xcbf29ce484222325L ^ (b0c | 32)) * 0x100000001b3L else 0L
                var l = 0
                while (l < lim) {
                  val b = hist(p + l) & 0xff
                  h = (h ^ b) * 0x100000001b3L
                  if (folded && l > 0) h2 = (h2 ^ b) * 0x100000001b3L
                  l += 1
                  if (l >= DictIndex.MinLen) {
                    val idx = DictIndex.lookup(l, h, hist, p)
                    if (idx >= 0) {
                      zDict2(i) = zDict1(i); zDict1(i) = (l << 16) | idx
                    }
                    if (folded) {
                      val fi = DictIndex.lookupFolded(l, h2, hist, p)
                      if (fi >= 0) {
                        zDict2(i) = zDict1(i)
                        zDict1(i) = 0x40000000 | (l << 16) | fi
                      }
                    }
                  }
                }
              }
            }
            if (zDict1(i) != 0) {
              relaxDict(i, zDict1(i))
              if (zDict2(i) != 0) relaxDict(i, zDict2(i))
            }
          }
          p += 1
        }
      }
      /** Traceback into flat (litAfter, advance, copyLen, dist) quads,
        * reverse order; the final quad's litAfter is the block-leading
        * run. advance == copyLen except for suffix-transformed §8
        * references. */
      def buildPlan(): Array[Int] = {
        val buf = new scala.collection.mutable.ArrayBuffer[Int]()
        var i = n
        var lit = 0
        while (i > 0) {
          val fl = zFromLen(i)
          if (fl == 0) { lit += 1; i -= 1 }
          else {
            buf += lit; buf += fl; buf += zFromCLen(i); buf += zFromDist(i)
            i -= fl; lit = 0
          }
        }
        buf += lit; buf += 0; buf += 0; buf += 0
        buf.toArray
      }
      def replay(plan: Array[Int]): Unit = {
        var ls = b0
        var pend = plan(plan.length - 4)
        var k = plan.length - 8
        while (k >= 0) {
          val lit = plan(k); val adv = plan(k + 1)
          val clen = plan(k + 2); val d = plan(k + 3)
          addCmd(ls, pend, clen, d)
          ls += pend + adv
          pend = lit
          k -= 4
        }
        if (pend > 0 || nCmds == 0) addCmd(ls, pend, 0, 0)
      }
      val ringSnap = distRing.clone()
      val ringIdxSnap = distRingIdx
      def resetParseState(): Unit = {
        java.util.Arrays.fill(litFreq, 0L)
        java.util.Arrays.fill(cmdFreq, 0L)
        java.util.Arrays.fill(distFreq, 0L)
        nCmds = 0
        System.arraycopy(ringSnap, 0, distRing, 0, 4)
        distRingIdx = ringIdxSnap
      }
      // clear the dictionary cache (pass 1 skips tail positions whose
      // maxLen < MinMatch, which would otherwise read a stale entry)
      java.util.Arrays.fill(zDict1, 0, n + 1, 0)
      java.util.Arrays.fill(zDict2, 0, n + 1, 0)
      sweep(insertPass = true)
      resetParseState()
      var plan = buildPlan()
      replay(plan)
      // refine: re-sweep from the candidate cache (cheap — no tree
      // descents) under costs priced from the current plan's actual
      // histograms. Command positions drift between iterations, so q11
      // runs the loop thrice.
      var it = 0
      val iters = if (quality >= 11) ZopfliIters else 1
      while (it < iters) {
        costsFromFreqs()
        sweep(insertPass = false)
        resetParseState()
        plan = buildPlan()
        replay(plan)
        it += 1
      }
    }
    if (quality >= 11) zopfliParse()
    else {
      var misses = 0
      while (pos <= lastHashPos) {
        val m = searchAndInsert(pos)
        val bestLen = (m >>> 32).toInt
        if (bestLen >= MinMatch) {
          misses = 0
          val bestPos = (m & 0xffffffffL).toInt
          addCmd(litStart, pos - litStart, bestLen, pos - bestPos)
          lastDist = pos - bestPos
          if (insertAllPositions) {
            // inside long matches a strided insert keeps the chains useful
            // (the rep-match path finds continuations anyway) at a fraction
            // of the hashing cost; very long matches stride harder
            val stride = if (bestLen > 2048) 16 else if (bestLen > 256) 4 else 1
            val stop = math.min(pos + bestLen, lastHashPos + 1)
            var i = maxInserted + 1
            while (i < stop) { insertHash(i); i += stride }
            if (stop - 1 > maxInserted) maxInserted = stop - 1
          }
          pos += bestLen
          litStart = pos
        } else {
          misses += 1
          pos += 1 + (misses >> skipShift)
        }
      }
      if (end - litStart > 0 || nCmds == 0)
        addCmd(litStart, end - litStart, 0, 0) // trailing literals
    }
    // ---- distance parameterization (§4): choose NPOSTFIX/NDIRECT ----
    // Distance EXTRA bits are raw (never entropy-coded), and at q11
    // they measured ~60% of the stream (r8 bit accounting): NPOSTFIX
    // folds each explicit distance's low bits into the SYMBOL (where
    // Huffman compresses them) and NDIRECT gives the smallest distances
    // dedicated extra-free codes. selectDistanceParams evaluates the
    // full 4×16 grid on a sample of this block's actual distances and
    // keeps (0,0) unless a challenger wins by a real margin. Gated at
    // q >= 7: the grid sweep costs a distance-histogram pass per block
    // (~20% encode throughput at q5/q6, measured r8) and the challenger
    // practically never beats (0,0) on those tiers' parses — only the
    // denser q >= 7 parses produce distance mixtures where it pays.
    val packedParams =
      if (quality >= 7) selectDistanceParams(cmdBuf, nCmds, CmdStride) else 0
    val npostfix = packedParams >>> 16
    val ndirect = packedParams & 0xffff
    val distFreq2 =
      finalizeDistances(cmdBuf, nCmds, CmdStride, npostfix, ndirect)
    if (litFreq.forall(_ == 0)) litFreq(0) = 1 // all-copy block: dummy literal tree
    if (distFreq2.forall(_ == 0)) distFreq2(0) = 1 // literal-only block
    // ---- literal block split + context split (q >= 10) ----
    // §6 temporal literal block types (NBLTYPESL) COMPOSE with the UTF-8
    // context map: the decoder picks the literal tree by
    // cmap(btypeL * 64 + ctx), so the split multiplies the context rows
    // and clusterContexts prices the whole (type × context) product.
    // Contexts histogram by the previous two OUTPUT bytes —
    // hist(lp-1)/hist(lp-2), exactly the decoder's p1/p2 (hist holds
    // prior blocks and any preloaded dictionary).
    var litSplit: (Array[Int], Array[Int], Array[Array[Long]]) = null
    var cmap: Array[Int] = null
    var treeHists: Array[Array[Long]] = null
    if (contextModeling) {
      /** Context rows under a given typing: one row per (type, ctx). */
      def typedCtxRows(split: (Array[Int], Array[Int], Array[Array[Long]]))
          : Array[Array[Long]] = {
        val nbl = if (split == null) 1 else split._3.length
        val rows = Array.fill(nbl * 64)(new Array[Long](256))
        var runIdx = 0
        var runLeft = if (split == null) Int.MaxValue else split._2(0)
        var curTy = if (split == null) 0 else split._1(0)
        var cc = 0
        while (cc < nCmds) {
          val o = cc * CmdStride
          val ls = cmdBuf(o); val ll = cmdBuf(o + 1)
          var i = 0
          while (i < ll) {
            if (runLeft == 0) {
              runIdx += 1
              curTy = split._1(runIdx); runLeft = split._2(runIdx)
            }
            val lp = ls + i
            val pb1 = if (lp >= 1) hist(lp - 1) & 0xff else 0
            val pb2 = if (lp >= 2) hist(lp - 2) & 0xff else 0
            rows((curTy << 6) + utf8Ctx(pb1, pb2))(hist(lp) & 0xff) += 1
            runLeft -= 1
            i += 1
          }
          cc += 1
        }
        rows
      }
      def treesBits(ths: Array[Array[Long]]): Double =
        ths.map(entropyBits).sum + ths.length * TreeCostBits
      // baseline: context clustering with NO temporal split
      val rows1 = typedCtxRows(null)
      val cl1 = clusterContexts(rows1, MaxLitTrees, TreeCostBits)
      val cost1 =
        if (cl1 == null) treesBits(Array(litFreq)) else treesBits(cl1._2)
      // candidate: temporal split composed with context clustering.
      // splitBlocks' own adoption test compares against ONE tree, but
      // the real alternative here is the context-clustered trees — so
      // both emissions are priced on the same scale and the split is
      // kept only when it beats context modeling alone (measured: a
      // split the chunk model liked lost 32 B once context trees
      // already separated the same byte classes).
      val nLits = {
        var t = 0; var i = 0
        while (i < nCmds) { t += cmdBuf(i * CmdStride + 1); i += 1 }
        t
      }
      if (nLits > 0) {
        val litSyms = new Array[Int](nLits)
        var w = 0
        var cc0 = 0
        while (cc0 < nCmds) {
          val o = cc0 * CmdStride
          val ls = cmdBuf(o); val ll = cmdBuf(o + 1)
          var i = 0
          while (i < ll) { litSyms(w) = hist(ls + i) & 0xff; w += 1; i += 1 }
          cc0 += 1
        }
        val ls = splitBlocks(litSyms, nLits, 256, chunkSize = 256,
          maxTypes = 8, TreeCostBits)
        if (ls != null) {
          val rowsN = typedCtxRows(ls)
          val cl2 = clusterContexts(rowsN, MaxLitTrees, TreeCostBits)
          val nBlocks = ls._1.length
          val switchBits = (nBlocks - 1) * 14.0 + nBlocks * 8.0 + 120.0
          val cost2 = switchBits +
            (if (cl2 == null) treesBits(ls._3) else treesBits(cl2._2))
          // the entropy model underestimates real switch + serialized
          // tree-description costs (measured: a modeled win emitted
          // 32 B LARGER) — demand a margin before paying them
          if (cost2 + 1500.0 < cost1) {
            litSplit = ls
            if (cl2 == null) {
              // one tree per type, contexts collapsed (distSplit's shape)
              cmap = Array.tabulate(ls._3.length << 6)(i => i >> 6)
              treeHists = ls._3
            } else { cmap = cl2._1; treeHists = cl2._2 }
          }
        }
      }
      if (litSplit == null && cl1 != null) { cmap = cl1._1; treeHists = cl1._2 }
    }
    // ---- block splitting (§6, q >= 10): commands + distances ----
    // per-position adaptation of the command and distance codes (the
    // decoder's catI/catD machinery). The distance split supersedes the
    // copy-length context split below when adopted — type-local trees
    // capture that correlation and more.
    val cmdSymsA = new Array[Int](nCmds)
    locally {
      var i = 0
      while (i < nCmds) { cmdSymsA(i) = cmdBuf(i * CmdStride + 5); i += 1 }
    }
    val cmdSplit = if (quality >= 10)
      splitBlocks(cmdSymsA, nCmds, CommandAlphabetSize, chunkSize = 100,
        maxTypes = 8, 600.0)
    else null
    val distSymsA = new Array[Int](nCmds)
    var nDistSyms = 0
    locally {
      var i = 0
      while (i < nCmds) {
        val o = i * CmdStride
        if (cmdBuf(o + 2) > 0 && cmdBuf(o + 6) >= 0) {
          distSymsA(nDistSyms) = cmdBuf(o + 6); nDistSyms += 1
        }
        i += 1
      }
    }
    val distSplit = if (quality >= 10)
      splitBlocks(distSymsA, nDistSyms, distFreq2.length, chunkSize = 100,
        maxTypes = 8, 250.0)
    else null
    // ---- distance context split (q >= 10) ----
    // distances histogram by the decoder's copy-length context
    // min(clen-2, 3): short copies skew to ring/near codes, long copies
    // to far explicit ones, so per-context trees code both tighter
    var dmap: Array[Int] = null
    var distTreeHists: Array[Array[Long]] = null
    if (contextModeling && distSplit == null) {
      val dctxFreq = Array.fill(4)(new Array[Long](distFreq2.length))
      var cc = 0
      while (cc < nCmds) {
        val o = cc * CmdStride
        val dc = cmdBuf(o + 6)
        if (dc >= 0) dctxFreq(math.min(cmdBuf(o + 2) - 2, 3))(dc) += 1
        cc += 1
      }
      clusterContexts(dctxFreq, 4, DistTreeCostBits) match {
        case null => ()
        case (m, th) => dmap = m; distTreeHists = th
      }
    }
    // ---- header ----
    /** Body-side switch emitter for one split category: writes the
      * block-switch (direct type symbol + block length) whenever the
      * current block is exhausted, mirroring the decoder's
      * switchIfNeeded/len-- contract exactly. */
    class CatSwitcher(bt: Array[Int], bl: Array[Int],
        tLens: Array[Int], tCodes: Array[Int],
        lLens: Array[Int], lCodes: Array[Int]) {
      private var idx = 0
      private var remaining = bl(0)
      /** Current type for the next symbol; emits a switch first if due. */
      def next(): Int = {
        if (remaining == 0) {
          idx += 1
          val ts = bt(idx) + 2
          bits.writeCodeBits(tCodes(ts), tLens(ts))
          val lc = blockLenCode(bl(idx))
          bits.writeCodeBits(lCodes(lc), lLens(lc))
          bits.writeBits((bl(idx) - BlockLengthBase(lc)).toLong,
            BlockLengthExtra(lc))
          remaining = bl(idx)
        }
        remaining -= 1
        bt(idx)
      }
    }
    /** §9.2 block-category header: NBLTYPES, type tree (direct symbols
      * only), block-length tree, first block length. Returns the body
      * switcher, or null for a single-type category. */
    def writeBlockCategory(
        split: (Array[Int], Array[Int], Array[Array[Long]])): CatSwitcher =
      if (split == null) { bits.writeBits(0, 1); null }
      else {
        val (bt, bl, th) = split
        writeVarCount(th.length)
        val tf = new Array[Long](th.length + 2)
        var i = 1
        while (i < bt.length) { tf(bt(i) + 2) += 1; i += 1 }
        val (tLens, tCodes) = writePrefixCode(tf,
          32 - Integer.numberOfLeadingZeros(th.length + 2 - 1))
        val lf = new Array[Long](BlockLengthBase.length)
        bl.foreach(l => lf(blockLenCode(l)) += 1)
        val (lLens, lCodes) = writePrefixCode(lf, 5)
        val c0 = blockLenCode(bl(0))
        bits.writeCodeBits(lCodes(c0), lLens(c0))
        bits.writeBits((bl(0) - BlockLengthBase(c0)).toLong,
          BlockLengthExtra(c0))
        new CatSwitcher(bt, bl, tLens, tCodes, lLens, lCodes)
      }
    bits.writeBits(0, 1) // ISLAST
    val mlenMinus1 = len - 1
    val nibbles = if (mlenMinus1 < (1 << 16)) 4
      else if (mlenMinus1 < (1 << 20)) 5 else 6
    bits.writeBits(nibbles - 4, 2)
    bits.writeBits(mlenMinus1.toLong, nibbles * 4)
    bits.writeBits(0, 1) // ISUNCOMPRESSED
    // invariant the literal emission relies on: a literal split always
    // comes with a (possibly synthetic per-type) context map, so the
    // cmap == null fast path never has to drive the switcher
    require(litSplit == null || cmap != null)
    val catL = writeBlockCategory(litSplit)
    val catI = writeBlockCategory(cmdSplit)
    val catD = writeBlockCategory(distSplit)
    bits.writeBits(npostfix, 2) // NPOSTFIX
    bits.writeBits(ndirect >> npostfix, 4) // NDIRECT (shifted field)
    // one 2-bit context mode per literal block type (UTF8 when a
    // context map exists; the per-type synthetic cmap ignores ctx, so
    // the mode value is immaterial there — UTF8 keeps one code path)
    locally {
      val nbl = if (litSplit == null) 1 else litSplit._3.length
      var mi = 0
      while (mi < nbl) {
        bits.writeBits(if (cmap != null) 2L else 0L, 2)
        mi += 1
      }
    }
    if (cmap == null) bits.writeBits(0, 1) // NTREESL = 1
    else {
      writeVarCount(treeHists.length)
      writeContextMap(cmap, treeHists.length)
    }
    if (distSplit != null) {
      // one tree per distance block type: cmap over (type × 4 contexts)
      // maps every context of a type to that type's tree
      val k = distSplit._3.length
      writeVarCount(k)
      writeContextMap(Array.tabulate(k << 2)(i => i >> 2), k)
    } else if (dmap == null) bits.writeBits(0, 1) // NTREESD = 1
    else {
      writeVarCount(distTreeHists.length)
      writeContextMap(dmap, distTreeHists.length)
    }
    val nLitTrees = if (cmap == null) 1 else treeHists.length
    val litLens = new Array[Array[Int]](nLitTrees)
    val litRevs = new Array[Array[Int]](nLitTrees)
    var lt = 0
    while (lt < nLitTrees) {
      val (l, cd) = writePrefixCode(if (cmap == null) litFreq else treeHists(lt), 8)
      litLens(lt) = l
      litRevs(lt) = Array.tabulate(256)(b => Huffman.reverseBits(cd(b), l(b)))
      lt += 1
    }
    // command trees: one per command block type (single tree otherwise)
    val nCmdTrees = if (cmdSplit == null) 1 else cmdSplit._3.length
    val cmdLensT = new Array[Array[Int]](nCmdTrees)
    val cmdRevsT = new Array[Array[Int]](nCmdTrees)
    var ct0 = 0
    while (ct0 < nCmdTrees) {
      val (l, cd) = writePrefixCode(
        if (cmdSplit == null) cmdFreq else cmdSplit._3(ct0), 10)
      cmdLensT(ct0) = l
      cmdRevsT(ct0) = Array.tabulate(cd.length)(s => Huffman.reverseBits(cd(s), l(s)))
      ct0 += 1
    }
    val nDistTrees =
      if (distSplit != null) distSplit._3.length
      else if (dmap == null) 1 else distTreeHists.length
    val distLens = new Array[Array[Int]](nDistTrees)
    val distRevs = new Array[Array[Int]](nDistTrees)
    var dt = 0
    while (dt < nDistTrees) {
      val (l, cd) = writePrefixCode(
        if (distSplit != null) distSplit._3(dt)
        else if (dmap == null) distFreq2 else distTreeHists(dt),
        32 - Integer.numberOfLeadingZeros(distFreq2.length - 1))
      distLens(dt) = l
      distRevs(dt) = Array.tabulate(cd.length)(x => Huffman.reverseBits(cd(x), l(x)))
      dt += 1
    }
    // ---- body ---- (codes pre-reversed: one writeBits call per symbol)
    val litLen = litLens(0)
    val litRev = litRevs(0)
    var ci = 0
    while (ci < nCmds) {
      val o = ci * CmdStride
      val cLitStart = cmdBuf(o); val cLitLen = cmdBuf(o + 1)
      val cCopyLen = cmdBuf(o + 2); val icode = cmdBuf(o + 3)
      val ccode = cmdBuf(o + 4); val cmdSym = cmdBuf(o + 5)
      val dc = cmdBuf(o + 6); val packed = cmdBuf(o + 7)
      val cTy = if (catI == null) 0 else catI.next()
      bits.writeBits(cmdRevsT(cTy)(cmdSym).toLong, cmdLensT(cTy)(cmdSym))
      bits.writeBits((cLitLen - InsertBase(icode)).toLong, InsertExtra(icode))
      bits.writeBits((math.max(cCopyLen, CopyBase(0)) - CopyBase(ccode)).toLong,
        CopyExtra(ccode))
      var i = 0
      if (cmap == null) {
        while (i < cLitLen) {
          val b = hist(cLitStart + i) & 0xff
          bits.writeBits(litRev(b).toLong, litLen(b))
          i += 1
        }
      } else {
        while (i < cLitLen) {
          val lp = cLitStart + i
          val b = hist(lp) & 0xff
          val pb1 = if (lp >= 1) hist(lp - 1) & 0xff else 0
          val pb2 = if (lp >= 2) hist(lp - 2) & 0xff else 0
          val lTy = if (catL == null) 0 else catL.next()
          val tr = cmap((lTy << 6) + utf8Ctx(pb1, pb2))
          bits.writeBits(litRevs(tr)(b).toLong, litLens(tr)(b))
          i += 1
        }
      }
      // distance emitted only for explicit-zone copy commands (implicit
      // zone reuses the ring; the trailing literal-only command never
      // reaches its copy part)
      if (cCopyLen > 0 && dc >= 0) {
        val dtr =
          if (catD != null) catD.next()
          else if (dmap == null) 0 else dmap(math.min(cCopyLen - 2, 3))
        bits.writeBits(distRevs(dtr)(dc).toLong, distLens(dtr)(dc))
        bits.writeBits((packed & 0xffffff).toLong, packed >>> 24)
      }
      ci += 1
    }
    bits.drainTo(sink)
  }

  private def emitBlock(data: Array[Byte], off: Int, len: Int,
      sink: ByteArrayOutputStream): Unit =
    if (quality >= 1) emitLzBlock(data, off, len, sink)
    else emitUncompressedBlock(data, off, len, sink)

  /** Stage input, emitting meta-blocks as the staging buffer fills.
    * Returns compressed bytes produced by this call. */
  def write(data: Array[Byte], off: Int, len: Int,
      sink: ByteArrayOutputStream): Unit = {
    require(!streamFinished, "write after finish")
    var pos = off
    var left = len
    while (left > 0) {
      val take = math.min(blockSize - staged, left)
      System.arraycopy(data, pos, staging, staged, take)
      staged += take; pos += take; left -= take
      if (staged == blockSize) {
        emitBlock(staging, 0, staged, sink)
        staged = 0
      }
    }
  }

  /** Flush staged data and terminate the stream (final empty meta-block).
    * An empty stream is itself valid: header + ISLAST+ISLASTEMPTY
    * (reference parity: BroCompressor.java:96-98 empty fast path). */
  def finish(sink: ByteArrayOutputStream): Unit = {
    if (streamFinished) return
    if (!headerWritten) writeStreamHeader()
    if (staged > 0) { emitBlock(staging, 0, staged, sink); staged = 0 }
    bits.writeBits(1, 1) // ISLAST
    bits.writeBits(1, 1) // ISLASTEMPTY
    bits.finishTo(sink)
    streamFinished = true
  }

  def finished: Boolean = streamFinished

  /** Pooled-reuse state witnesses for graft.brotli specs. */
  private[brotli] def histShiftForTest: Long = histShift
  private[brotli] def treeDirtyForTest: Boolean =
    quality >= 11 && btBuckets.exists(_ >= 0)

  /** Full reset for pooled reuse (real, unlike BroDecompressor.java:130). */
  def reset(): Unit = {
    staged = 0
    headerWritten = false
    streamFinished = false
    System.arraycopy(Tables7932.InitialDistanceRing, 0, distRing, 0, 4)
    distRingIdx = 0
    if (quality >= 1) { // sliding-window LZ state
      if (quality < 11) java.util.Arrays.fill(hashTable, -1)
      histTail = 0
      // a prior stream that slid the window leaves histShift > 0; the §8
      // dictionary bound is min(streamPos, window) per the DECODER's
      // position count, which restarts at 0 — a stale shift would let a
      // reused q>=10 encoder address the dictionary past the new
      // stream's reachable bound (corrupt output). The q11 second chain
      // must empty for the same reuse contract: a pooled encoder must
      // emit byte-identical streams to a fresh one. (The forest needs no
      // clearing — its cells are unreachable until a bucket re-links
      // them, and every insert writes its child slots first.)
      histShift = 0L
      if (quality >= 11) java.util.Arrays.fill(btBuckets, -1)
    }
    val drain = new ByteArrayOutputStream()
    bits.finishTo(drain) // discard any partial state
  }
}

/** One-shot helpers (tests / simple callers). */
object Brotli {
  // Pooled encoders, one queue per quality (the Hadoop path gets this
  // from CodecPool; the one-shot helper would otherwise pay a fresh
  // ~47 MB hist+chain allocation per call — measured as G1
  // humongous-allocation churn dominating run-to-run variance at q6).
  // SoftReferences so the pool never pins memory under pressure; reuse
  // is byte-identical to a fresh encoder (reset() contract, spec'd in
  // BrotliSpec "reset() rebases the dictionary bound...").
  private val encPool =
    new java.util.concurrent.ConcurrentHashMap[Int,
      java.util.concurrent.ConcurrentLinkedQueue[
        java.lang.ref.SoftReference[BrotliEncoder]]]()

  private def borrowEncoder(quality: Int): BrotliEncoder = {
    val q = encPool.computeIfAbsent(quality, _ =>
      new java.util.concurrent.ConcurrentLinkedQueue())
    var ref = q.poll()
    while (ref != null) {
      val enc = ref.get()
      if (enc != null) return enc
      ref = q.poll()
    }
    new BrotliEncoder(quality)
  }

  /** More concurrent borrows than this are a burst, not steady state —
    * excess returns are dropped for immediate collection, because
    * SoftReferences alone only clear near heap exhaustion and a q11
    * encoder pins ~100 MB (12 MB hist + BT forest + DP arrays): an
    * unbounded queue could retain hundreds of MB for the JVM lifetime
    * after one burst. */
  private val PoolCap = 2 * Runtime.getRuntime.availableProcessors()

  private def returnEncoder(quality: Int, enc: BrotliEncoder): Unit = {
    enc.reset()
    val q = encPool.get(quality)
    if (q.size() < PoolCap) q.offer(new java.lang.ref.SoftReference(enc))
  }

  def compress(data: Array[Byte], quality: Int = 6,
      dictionary: Array[Byte] = Array.emptyByteArray): Array[Byte] = {
    val enc = borrowEncoder(quality)
    if (dictionary.nonEmpty) enc.setDictionary(dictionary, 0, dictionary.length)
    val out = new ByteArrayOutputStream()
    enc.write(data, 0, data.length, out)
    enc.finish(out)
    returnEncoder(quality, enc)
    out.toByteArray
  }

  // Pooled decoders, same rationale and contract as the encoder pool
  // (the decoder's window + tables are ~5 MB per instance; reset() is
  // the per-frame reuse path BroFramedInputStream already exercises).
  private val decPool =
    new java.util.concurrent.ConcurrentLinkedQueue[
      java.lang.ref.SoftReference[BrotliDecoder]]()

  def decompress(data: Array[Byte],
      dictionary: Array[Byte] = Array.emptyByteArray): Array[Byte] = {
    var dec: BrotliDecoder = null
    var ref = decPool.poll()
    while (ref != null && dec == null) { dec = ref.get(); if (dec == null) ref = decPool.poll() }
    if (dec == null) dec = new BrotliDecoder()
    if (dictionary.nonEmpty) dec.setDictionary(dictionary, 0, dictionary.length)
    dec.addInput(data, 0, data.length)
    dec.endOfInput()
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](1 << 16)
    var n = dec.decode(buf, 0, buf.length)
    while (n > 0) { out.write(buf, 0, n); n = dec.decode(buf, 0, buf.length) }
    require(dec.isFinished, "truncated brotli stream")
    dec.reset()
    if (decPool.size() < PoolCap)
      decPool.offer(new java.lang.ref.SoftReference(dec))
    out.toByteArray
  }
}
