package graft.brotli

import java.io.IOException

/** Incremental Brotli decoder (RFC 7932) structured as a resumable state
  * machine: compressed bytes arrive in arbitrary chunks via `addInput`,
  * decoded bytes are pulled via `decode` — the pull-based shape Hadoop's
  * `Decompressor` contract needs (reference semantics:
  * BroDecompressor.java:84-122, without the JNI paging of bro.cc:124-225).
  *
  * Parse attempts snapshot the input queue and roll back on underflow, so
  * a meta-block split across `addInput` calls is retried when more bytes
  * arrive. Entropy-coded meta-blocks are decoded atomically into a
  * pending buffer (bounded by MLEN ≤ 16 MiB) and committed to the
  * backward-reference window on success.
  *
  * Full-spec coverage, cross-validated against the system libbrotli via
  * `tools/brotli_cli` (BrotliInteropSpec):
  *  - stream header (all WBITS forms), uncompressed / metadata /
  *    empty-last meta-blocks
  *  - simple + complex prefix codes (16/17 repeats)
  *  - block switching (NBLTYPES > 1) in all three categories
  *  - literal context modes (LSB6/MSB6/UTF8/Signed) and context maps
  *    (NTREES > 1) for literals and distances, incl. inverse-MTF
  *  - NPOSTFIX/NDIRECT distance parameters (shifted NDIRECT, §4)
  *  - distance ring buffer with libbrotli-verified semantics: initial
  *    last/2nd/3rd/4th = 4/11/15/16, state persists stream-wide, code 0
  *    and implicit distances do not push
  *  - static dictionary references with all 121 word transforms (§8)
  */
final class BrotliDecoder {
  import Tables7932._

  private object State extends Enumeration {
    val StreamHeader, BlockHeader, CopyRaw, SkipMetadata, Done = Value
  }

  private val in = new ByteQueue()
  private var state = State.StreamHeader
  private var wbits = 0
  private var remaining = 0 // bytes left in CopyRaw / SkipMetadata
  private var islastPending = false // current block is ISLAST
  private var sawEndOfInput = false
  // set when a parse attempt rolled back on underflow: the bytes on hand
  // are not enough to progress, so callers must feed more before retrying
  // (otherwise the Hadoop DecompressorStream loop spins re-parsing).
  private var starved = false

  // backward-reference window (circular), allocated once wbits is known
  private var window: Array[Byte] = _
  private var windowMask = 0
  private var totalOut = 0L

  // ---- stream-level entropy state (persists across meta-blocks) ----
  // distance ring: ringIdx is the next write slot; last distance =
  // ring((ringIdx-1)&3). Initial last/2nd/3rd/4th = 4/11/15/16.
  private val ring = InitialDistanceRing.clone()
  private var ringIdx = 0
  // last two output bytes, the literal context (§7.1); cross meta-block
  private var p1 = 0
  private var p2 = 0

  // decoded-but-unserved output of an entropy-coded block
  private var pendingOut: Array[Byte] = _
  private var pendingPos = 0

  // custom (prefix) dictionary, applied when the window is allocated
  private var dict: Array[Byte] = Array.emptyByteArray

  /** Preload a shared dictionary (prefix semantics): its bytes behave as
    * output that logically precedes the stream, so backward references
    * from the first command can reach into it and the static-dictionary
    * boundary shifts past it — the behavior of the reference's native
    * `dict, dictSize` path (bro.cc:115-116) that its Java layer never
    * exercises (`setDictionary` no-op, BroDecompressor.java:64-66;
    * README.md:4-5 lists custom dictionaries as the sole TODO).
    * Must be called before any compressed bytes are consumed. */
  def setDictionary(b: Array[Byte], off: Int, len: Int): Unit = {
    require(state == State.StreamHeader && totalOut == 0,
      "setDictionary must precede decoding")
    dict = java.util.Arrays.copyOfRange(b, off, off + len)
  }

  /** Unconsumed compressed input currently buffered (the real count the
    * reference returns, BroDecompressor.java:125-127 — needed by any
    * consumer handling concatenated streams). */
  def remainingInput: Int = in.availableBytes

  /** Remove and return every whole unconsumed byte — the next member's
    * bytes when streams are concatenated. Call only after the current
    * stream finished (the queue is byte-aligned then). */
  def drainRemaining(): Array[Byte] = {
    in.alignToByte()
    val out = new Array[Byte](in.availableBytes)
    var got = 0
    while (got < out.length) got += in.readBytes(out, got, out.length - got)
    out
  }

  def addInput(b: Array[Byte], off: Int, len: Int): Unit = {
    require(!sawEndOfInput || len == 0, "input after endOfInput")
    in.append(b, off, len)
    if (len > 0) starved = false
  }

  /** Signal that the underlying stream hit EOF (reference parity:
    * BroDecompressorStream.java:55-58 → finish()). */
  def endOfInput(): Unit = sawEndOfInput = true

  def isFinished: Boolean = state == State.Done &&
    (pendingOut == null || pendingPos >= pendingOut.length)
  def needsInput: Boolean = !isFinished &&
    (starved || in.availableBytes == 0) && !sawEndOfInput &&
    (pendingOut == null || pendingPos >= pendingOut.length)

  private def appendWindow(b: Array[Byte], off: Int, len: Int): Unit = {
    var srcOff = off
    var left = len
    while (left > 0) {
      val wpos = (totalOut & windowMask).toInt
      val n = math.min(left, window.length - wpos)
      System.arraycopy(b, srcOff, window, wpos, n)
      totalOut += n; srcOff += n; left -= n
    }
    if (len >= 2) { p1 = b(off + len - 1) & 0xff; p2 = b(off + len - 2) & 0xff }
    else if (len == 1) { p2 = p1; p1 = b(off) & 0xff }
  }

  private def parseStreamHeader(): Unit = {
    // RFC 7932 §9.1
    if (in.readBit() == 0) wbits = 16
    else {
      val n = in.readBits(3)
      if (n != 0) wbits = 17 + n
      else {
        val m = in.readBits(3)
        if (m == 1) throw new IOException("invalid brotli WBITS")
        wbits = if (m == 0) 17 else 8 + m
      }
    }
    val size = 1 << wbits
    // reuse a same-sized window from a previous stream (pooled/framed
    // reuse): stale contents are unreachable — back-references are
    // bounded by min(totalOut, maxWindow) and totalOut restarts at 0
    if (window == null || window.length != size) window = new Array[Byte](size)
    windowMask = size - 1
    // prefix dictionary: preload as already-produced window content
    // (advances totalOut and seeds the p1/p2 literal context, matching
    // libbrotli's custom-dictionary semantics)
    if (dict.length > 0) appendWindow(dict, 0, dict.length)
  }

  /** §9.2 variable-length count (NBLTYPES / NTREES). */
  private def readVarCount(): Int =
    if (in.readBit() == 0) 1
    else {
      val nbits = in.readBits(3)
      (1 << nbits) + 1 + in.readBits(nbits)
    }

  private def bitsFor(alphabetSize: Int): Int =
    32 - Integer.numberOfLeadingZeros(alphabetSize - 1)

  /** §3.4/§3.5 prefix-code parse → decoder. */
  private def readPrefixCode(alphabetSize: Int): HuffmanDecoder = {
    val alphabetBits = bitsFor(alphabetSize)
    val form = in.readBits(2)
    if (form == 1) {
      // simple form
      val nsym = in.readBits(2) + 1
      val syms = Array.fill(nsym)(in.readBits(alphabetBits))
      if (syms.exists(_ >= alphabetSize))
        throw new IOException("invalid brotli: simple-code symbol out of range")
      val lengths = new Array[Int](alphabetSize)
      nsym match {
        case 1 => return HuffmanDecoder.single(syms(0))
        case 2 => lengths(syms(0)) = 1; lengths(syms(1)) = 1
        case 3 => lengths(syms(0)) = 1; lengths(syms(1)) = 2; lengths(syms(2)) = 2
        case 4 =>
          if (in.readBit() == 0) syms.foreach(lengths(_) = 2)
          else {
            lengths(syms(0)) = 1; lengths(syms(1)) = 2
            lengths(syms(2)) = 3; lengths(syms(3)) = 3
          }
      }
      HuffmanDecoder(lengths)
    } else {
      // complex form; `form` is HSKIP
      val static = HuffmanDecoder(CodeLengthCodeLengths)
      val clcLen = new Array[Int](18)
      var space32 = 32
      var i = form
      while (i < CodeLengthCodeOrder.length && space32 > 0) {
        val v = static.decode(in)
        clcLen(CodeLengthCodeOrder(i)) = v
        if (v > 0) space32 -= 32 >> v
        i += 1
      }
      val clc = HuffmanDecoder(clcLen)
      val lengths = new Array[Int](alphabetSize)
      var space = 32768
      var sym = 0
      var prevNonZero = 8
      var lastRepeatCode = -1
      var repeatTotal = 0
      while (space > 0 && sym < alphabetSize) {
        val v = clc.decode(in)
        if (v < 16) {
          lengths(sym) = v
          sym += 1
          if (v > 0) { space -= 32768 >> v; prevNonZero = v }
          lastRepeatCode = -1
        } else {
          // §3.5 repeat codes: 16 repeats prevNonZero (2 extra bits),
          // 17 repeats zero (3 extra bits); a chained same-code repeat
          // rescales: new_total = ((old_total - 2) << extra_bits) + 3 + extra.
          val ebits = if (v == 16) 2 else 3
          val extra = in.readBits(ebits)
          val newTotal =
            if (lastRepeatCode == v) ((repeatTotal - 2) << ebits) + 3 + extra
            else 3 + extra
          val delta = newTotal - (if (lastRepeatCode == v) repeatTotal else 0)
          val fillLen = if (v == 16) prevNonZero else 0
          var k = 0
          while (k < delta && sym < alphabetSize) {
            lengths(sym) = fillLen
            if (fillLen > 0) space -= 32768 >> fillLen
            sym += 1; k += 1
          }
          lastRepeatCode = v
          repeatTotal = newTotal
        }
      }
      if (space < 0) throw new IOException("invalid brotli: over-subscribed code")
      HuffmanDecoder(lengths)
    }
  }

  /** §7.3 context map: run-length-encoded tree indices + inverse MTF. */
  private def readContextMap(nTrees: Int, size: Int): Array[Int] = {
    val cmap = new Array[Int](size)
    if (nTrees == 1) return cmap
    val rleMax = if (in.readBit() == 1) in.readBits(4) + 1 else 0
    val tree = readPrefixCode(nTrees + rleMax)
    var i = 0
    while (i < size) {
      val code = tree.decode(in)
      if (code == 0) { cmap(i) = 0; i += 1 }
      else if (code <= rleMax) {
        var reps = (1 << code) + in.readBits(code)
        if (i + reps > size) throw new IOException("invalid brotli: context-map run overflow")
        while (reps > 0) { cmap(i) = 0; i += 1; reps -= 1 }
      } else { cmap(i) = code - rleMax; i += 1 }
    }
    if (in.readBit() == 1) { // inverse move-to-front
      val mtf = Array.tabulate(256)(identity)
      var k = 0
      while (k < size) {
        val idx = cmap(k)
        val v = mtf(idx)
        cmap(k) = v
        var j = idx
        while (j > 0) { mtf(j) = mtf(j - 1); j -= 1 }
        mtf(0) = v
        k += 1
      }
    }
    cmap
  }

  /** Per-category block switching state (§6). */
  private final class BlockCategory(val nTypes: Int,
      typeTree: HuffmanDecoder, lenTree: HuffmanDecoder, firstLen: Int) {
    var cur = 0
    private var prev = 1
    var len: Int = firstLen
    def switchIfNeeded(): Unit = if (len == 0) {
      val sym = typeTree.decode(in)
      val next =
        if (sym == 0) prev
        else if (sym == 1) (cur + 1) % nTypes
        else sym - 2
      prev = cur; cur = next
      len = readBlockLength(lenTree)
    }
  }

  private def readBlockLength(tree: HuffmanDecoder): Int = {
    val sym = tree.decode(in)
    BlockLengthBase(sym) + in.readBits(BlockLengthExtra(sym))
  }

  private def readBlockCategory(): BlockCategory = {
    val n = readVarCount()
    if (n >= 2) {
      val typeTree = readPrefixCode(n + 2)
      val lenTree = readPrefixCode(26)
      new BlockCategory(n, typeTree, lenTree, readBlockLength(lenTree))
    } else new BlockCategory(1, null, null, Int.MaxValue)
  }

  /** Decode one entropy-coded meta-block body of length mlen into a fresh
    * buffer (window not yet committed; in-block back-references read from
    * the local buffer). */
  private def decodeCompressedBlock(mlen: Int): Array[Byte] = {
    val catL = readBlockCategory()
    val catI = readBlockCategory()
    val catD = readBlockCategory()
    val npostfix = in.readBits(2)
    val ndirect = in.readBits(4) << npostfix // shifted NDIRECT (§4)
    val cmodes = Array.fill(catL.nTypes)(in.readBits(2))
    val ntreesL = readVarCount()
    val litCmap = readContextMap(ntreesL, catL.nTypes << 6)
    val ntreesD = readVarCount()
    val distCmap = readContextMap(ntreesD, catD.nTypes << 2)
    val litTrees = Array.fill(ntreesL)(readPrefixCode(LiteralAlphabetSize))
    val cmdTrees = Array.fill(catI.nTypes)(readPrefixCode(CommandAlphabetSize))
    val distAlphabet = numDistanceCodes(npostfix, ndirect)
    val distTrees = Array.fill(ntreesD)(readPrefixCode(distAlphabet))
    // literal decode needs no per-byte context machinery when there is a
    // single literal block type with a single tree (mode irrelevant)
    val singleLitTree = catL.nTypes == 1 && ntreesL == 1

    val outBuf = new Array[Byte](mlen)
    var pos = 0
    // local copies of stream-level context/ring state; committed on
    // success (parse rollback on underflow must not corrupt them)
    var lp1 = p1
    var lp2 = p2
    val lring = ring.clone()
    var lringIdx = ringIdx
    def lastDist(k: Int): Int = lring((lringIdx - 1 - k) & 3)
    def pushRing(d: Int): Unit = { lring(lringIdx & 3) = d; lringIdx = (lringIdx + 1) & 3 }

    val postfixMask = (1 << npostfix) - 1
    val maxWindow = (1L << wbits) - 16

    while (pos < mlen) {
      catI.switchIfNeeded()
      val cmd = cmdTrees(catI.cur).decode(in)
      catI.len -= 1
      val (icode, ccode, impliedDist0) = unpackCommand(cmd)
      val ilen = InsertBase(icode) + in.readBits(InsertExtra(icode))
      val clen = CopyBase(ccode) + in.readBits(CopyExtra(ccode))
      if (pos + ilen > mlen)
        throw new IOException("invalid brotli: insert overruns MLEN")
      if (singleLitTree) {
        // specialized loop for 1 literal block type + 1 tree (what our
        // encoder emits): no block switching, no context lookup
        val tree = litTrees(0)
        val stop = pos + ilen
        while (pos < stop) {
          outBuf(pos) = tree.decode(in).toByte
          pos += 1
        }
        if (ilen >= 2) { lp1 = outBuf(pos - 1) & 0xff; lp2 = outBuf(pos - 2) & 0xff }
        else if (ilen == 1) { lp2 = lp1; lp1 = outBuf(pos - 1) & 0xff }
      } else {
        var k = 0
        while (k < ilen) {
          catL.switchIfNeeded()
          catL.len -= 1
          val mode = cmodes(catL.cur)
          val ctx = SpecData.ContextLut((mode << 9) + lp1) |
            SpecData.ContextLut((mode << 9) + 256 + lp2)
          val b = litTrees(litCmap((catL.cur << 6) | ctx)).decode(in)
          outBuf(pos) = b.toByte
          lp2 = lp1; lp1 = b
          pos += 1; k += 1
        }
      }
      if (pos < mlen) {
        var distance = 0
        var fromRingZero = false
        if (impliedDist0) { distance = lastDist(0); fromRingZero = true }
        else {
          catD.switchIfNeeded()
          val dctx = math.min(clen - 2, 3)
          val dcode = distTrees(distCmap((catD.cur << 2) | dctx)).decode(in)
          catD.len -= 1
          if (dcode == 0) { distance = lastDist(0); fromRingZero = true }
          else if (dcode < 4) distance = lastDist(dcode)
          else if (dcode < 16) {
            val base = lastDist(if (dcode < 10) 0 else 1)
            distance = base + ShortCodeDelta((dcode - 4) % 6)
            if (distance <= 0) throw new IOException("invalid brotli distance")
          } else if (dcode < 16 + ndirect) {
            distance = dcode - 15
          } else {
            val d = dcode - ndirect - 16
            val ndistbits = 1 + (d >> (npostfix + 1))
            val hcode = d >> npostfix
            val lcode = d & postfixMask
            val extra = in.readBits(ndistbits)
            val offset = ((2 + (hcode & 1)) << ndistbits) - 4
            distance = ((offset + extra) << npostfix) + lcode + ndirect + 1
          }
        }
        val maxBackward = math.min(totalOut + pos, maxWindow)
        if (distance > maxBackward) {
          // static dictionary reference (§8)
          if (clen < 4 || clen > 24)
            throw new IOException(s"invalid brotli: dictionary copy length $clen")
          val ndbits = SpecData.Dictionary.sizeBits(clen)
          val address = distance - maxBackward.toInt - 1
          val index = address & ((1 << ndbits) - 1)
          val transformId = address >>> ndbits
          if (transformId >= SpecData.Transforms.count)
            throw new IOException("invalid brotli: dictionary transform out of range")
          val word = SpecData.Dictionary.word(clen, index)
          val out = SpecData.Transforms(transformId, word)
          if (pos + out.length > mlen)
            throw new IOException("invalid brotli: dictionary word overruns MLEN")
          System.arraycopy(out, 0, outBuf, pos, out.length)
          pos += out.length
          if (out.length >= 2) { lp1 = out(out.length - 1) & 0xff; lp2 = out(out.length - 2) & 0xff }
          else if (out.length == 1) { lp2 = lp1; lp1 = out(0) & 0xff }
          // dictionary references do not touch the ring
        } else {
          // ring updated for every distance except code 0 / implicit (§4)
          if (!fromRingZero) pushRing(distance)
          if (clen > mlen - pos)
            throw new IOException("invalid brotli: copy overruns MLEN")
          var left = clen
          // part 1: source in the committed window (chunked arraycopy,
          // window is circular so copy per contiguous segment)
          while (left > 0 && totalOut + pos - distance < totalOut) {
            val src = totalOut + pos - distance // < totalOut
            val wpos = (src & windowMask).toInt
            val n = math.min(left,
              math.min(window.length - wpos, (totalOut - src).toInt))
            System.arraycopy(window, wpos, outBuf, pos, n)
            pos += n; left -= n
          }
          // part 2: source in this block's buffer; an overlapping copy
          // (distance < remaining) replicates the pattern — fixed source
          // start + widening chunks (each full chunk doubles the gap, so
          // even distance-1 runs copy in O(log n) arraycopies)
          if (left > 0) {
            val src0 = pos - distance // >= 0 here
            while (left > 0) {
              val n = math.min(left, pos - src0)
              System.arraycopy(outBuf, src0, outBuf, pos, n)
              pos += n; left -= n
            }
          }
          if (clen >= 2) {
            lp1 = outBuf(pos - 1) & 0xff; lp2 = outBuf(pos - 2) & 0xff
          } else if (clen == 1) { lp2 = lp1; lp1 = outBuf(pos - 1) & 0xff }
        }
      }
    }
    // commit stream-level state
    p1 = lp1; p2 = lp2
    System.arraycopy(lring, 0, ring, 0, 4)
    ringIdx = lringIdx
    outBuf
  }

  /** Parse one meta-block header; sets the follow-on state and, for
    * entropy-coded blocks, decodes the whole body. */
  private def parseBlock(): Unit = {
    val islast = in.readBit() == 1
    if (islast && in.readBit() == 1) { finishStream(); return }
    val nibblesCode = in.readBits(2)
    if (nibblesCode == 3) {
      if (islast) throw new IOException("invalid brotli: metadata in last block")
      if (in.readBit() != 0) throw new IOException("invalid brotli: reserved bit set")
      val skipBytes = in.readBits(2)
      var skipLen = 0
      if (skipBytes > 0) {
        skipLen = in.readBits(skipBytes * 8)
        if (skipBytes > 1 && (skipLen >>> ((skipBytes - 1) * 8)) == 0)
          throw new IOException("invalid brotli: non-minimal MSKIPLEN")
        skipLen += 1
      }
      in.alignToByte()
      remaining = skipLen
      state = State.SkipMetadata
      return
    }
    val nibbles = 4 + nibblesCode
    var mlen = 0L
    var i = 0
    while (i < nibbles) { mlen |= in.readBits(4).toLong << (i * 4); i += 1 }
    val len = (mlen + 1).toInt
    islastPending = islast
    if (!islast && in.readBit() == 1) {
      in.alignToByte()
      remaining = len
      state = State.CopyRaw
    } else {
      // entropy-coded block, decoded atomically (underflow rolls the
      // whole block back via the caller's snapshot)
      val out = decodeCompressedBlock(len)
      appendWindow(out, 0, out.length)
      pendingOut = out
      pendingPos = 0
      if (islast) finishStream() else state = State.BlockHeader
    }
  }

  /** Terminal transition: drop the final byte's pad bits so any bytes
    * still buffered are exactly the unconsumed trailer (concatenated
    * streams; getRemaining contract, BroDecompressor.java:125-127). */
  private def finishStream(): Unit = {
    in.alignToByte()
    state = State.Done
  }

  /** Decode up to len bytes into dst. Returns bytes produced; 0 means
    * finished, or more input needed (check needsInput/isFinished). A
    * stream the decoder cannot follow fails as an IOException, never as
    * a runtime exception from inside the decoder. */
  def decode(dst: Array[Byte], off: Int, len: Int): Int =
    try decodeSome(dst, off, len)
    catch {
      case e: RuntimeException =>
        throw new IOException(s"invalid brotli stream: $e", e)
    }

  private def decodeSome(dst: Array[Byte], off: Int, len: Int): Int = {
    var produced = 0
    var progress = true
    while (progress && produced < len) {
      progress = false
      // serve decoded-but-unserved entropy output first
      if (pendingOut != null && pendingPos < pendingOut.length) {
        val n = math.min(len - produced, pendingOut.length - pendingPos)
        System.arraycopy(pendingOut, pendingPos, dst, off + produced, n)
        pendingPos += n
        produced += n
        if (pendingPos >= pendingOut.length) pendingOut = null
        progress = true
      } else if (state == State.Done) {
        return produced
      } else state match {
        case State.StreamHeader | State.BlockHeader =>
          val snap = in.snapshot()
          try {
            if (state == State.StreamHeader) {
              parseStreamHeader()
              state = State.BlockHeader
            } else parseBlock()
            progress = true
          } catch {
            case _: ByteQueue#Underflow =>
              in.restore(snap)
              starved = true
              if (sawEndOfInput) throw new IOException("truncated brotli stream")
          }
        case State.CopyRaw =>
          val n = in.readBytes(dst, off + produced, math.min(remaining, len - produced))
          if (n > 0) {
            appendWindow(dst, off + produced, n)
            produced += n; remaining -= n; progress = true
          } else if (sawEndOfInput && in.isEmpty)
            throw new IOException("truncated brotli stream")
          if (remaining == 0) {
            if (islastPending) finishStream() else state = State.BlockHeader
            progress = true
          }
        case State.SkipMetadata =>
          val n = in.skipBytes(remaining)
          if (n > 0) { remaining -= n; progress = true }
          if (remaining == 0) { state = State.BlockHeader; progress = true }
        case _ => ()
      }
    }
    produced
  }

  /** Real reset for pooled reuse — the reference's no-op reset is a
    * latent CodecPool corruption bug we must not copy
    * (BroDecompressor.java:130-131, SURVEY.md §2.C.7). */
  def reset(): Unit = {
    state = State.StreamHeader
    wbits = 0
    remaining = 0
    islastPending = false
    sawEndOfInput = false
    starved = false
    windowMask = 0; totalOut = 0 // window array kept for same-size reuse
    dict = Array.emptyByteArray
    pendingOut = null; pendingPos = 0
    System.arraycopy(InitialDistanceRing, 0, ring, 0, 4)
    ringIdx = 0
    p1 = 0; p2 = 0
    in.alignToByte()
    while (in.skipBytes(4096) > 0) ()
  }
}
