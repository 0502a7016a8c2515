package graft.brotli

import java.io.IOException

/** Canonical prefix-code machinery for RFC 7932: code construction
  * (DEFLATE-style canonical assignment — consecutive values in symbol
  * order within a length, shorter lengths first), a bit-at-a-time
  * decoder, and a length-limited Huffman builder.
  */
object Huffman {

  /** Huffman code lengths from frequencies, limited to maxLen via the
    * classic frequency-flattening retry. freqs.length = alphabet size. */
  def buildLengths(freqs: Array[Long], maxLen: Int): Array[Int] = {
    var f = freqs.clone()
    while (true) {
      val lengths = buildUnlimited(f)
      if (lengths.forall(_ <= maxLen)) return lengths
      f = f.map(v => if (v == 0) 0L else (v + 1) / 2 + 1)
    }
    throw new IllegalStateException("unreachable")
  }

  private def buildUnlimited(freqs: Array[Long]): Array[Int] = {
    val n = freqs.length
    val lengths = new Array[Int](n)
    val active = (0 until n).filter(freqs(_) > 0)
    if (active.isEmpty) return lengths
    if (active.size == 1) { lengths(active.head) = 1; return lengths }
    // simple O(n log n) huffman via priority queue of (freq, node)
    final case class Node(freq: Long, syms: List[Int])
    val pq = scala.collection.mutable.PriorityQueue.empty[Node](
      Ordering.by[Node, Long](_.freq).reverse)
    active.foreach(s => pq.enqueue(Node(freqs(s), List(s))))
    while (pq.size > 1) {
      val a = pq.dequeue(); val b = pq.dequeue()
      (a.syms ++ b.syms).foreach(s => lengths(s) += 1)
      pq.enqueue(Node(a.freq + b.freq, a.syms ++ b.syms))
    }
    lengths
  }

  /** Canonical code values (MSB-first bit patterns) for given lengths. */
  def canonicalCodes(lengths: Array[Int]): Array[Int] = {
    val maxLen = if (lengths.isEmpty) 0 else lengths.max
    val codes = new Array[Int](lengths.length)
    if (maxLen == 0) return codes
    val blCount = new Array[Int](maxLen + 1)
    lengths.foreach(l => if (l > 0) blCount(l) += 1)
    val nextCode = new Array[Int](maxLen + 2)
    var code = 0
    for (bits <- 1 to maxLen) {
      code = (code + blCount(bits - 1)) << 1
      nextCode(bits) = code
    }
    for (s <- lengths.indices if lengths(s) > 0) {
      codes(s) = nextCode(lengths(s))
      nextCode(lengths(s)) += 1
    }
    codes
  }

  /** Bit-reverse of the low `len` bits — turns an MSB-first canonical
    * code into a value `BitWriter.writeBits` emits in code order. */
  def reverseBits(code: Int, len: Int): Int = {
    var v = 0
    var i = 0
    while (i < len) { v = (v << 1) | ((code >> i) & 1); i += 1 }
    v
  }

  private[brotli] val Rev8: Array[Int] = {
    val t = new Array[Int](256)
    for (i <- 0 until 256) t(i) = reverseBits(i, 8)
    t
  }
}

/** Table-driven canonical decoder: an 11-bit first-level table indexed
  * directly by the next stream-order bits (codes stored pre-reversed, so
  * no per-symbol bit reversal), with a zlib-style first/count walk as the
  * fallback for longer codes (max length 15) and for end-of-input tails.
  * Single-symbol codes (length 0 convention) decode without consuming
  * bits. */
final class HuffmanDecoder private (
    singleSymbol: Int,
    firstCode: Array[Int], firstSymIdx: Array[Int], symbols: Array[Int],
    maxLen: Int,
    fastSym: Array[Char], fastLen: Array[Byte]) {

  def decode(in: ByteQueue): Int = {
    if (singleSymbol >= 0) return singleSymbol
    // fast path: 11-bit table lookup when enough bits are buffered
    val peek = in.peekBits16()
    if (peek >= 0) {
      val idx = peek & HuffmanDecoder.FastMask
      val l = fastLen(idx)
      if (l > 0) { in.skipBits(l); return fastSym(idx) }
    }
    var code = 0
    var len = 0
    while (len < maxLen) {
      code = (code << 1) | in.readBit()
      len += 1
      val cnt = firstSymIdx(len + 1) - firstSymIdx(len)
      if (cnt > 0 && code - firstCode(len) < cnt)
        return symbols(firstSymIdx(len) + (code - firstCode(len)))
    }
    throw new IOException("invalid prefix code in brotli stream")
  }
}

object HuffmanDecoder {
  /** First-level table width: Brotli code lengths cap at 15, and ≤11
    * covers virtually every symbol of every tree in practice. */
  private[brotli] final val FastBits = 11
  private[brotli] final val FastMask = (1 << FastBits) - 1

  /** From canonical code lengths; a lone symbol (or an explicit
    * zero-length single code) yields a 0-bit decoder. */
  def apply(lengths: Array[Int]): HuffmanDecoder = {
    val present = lengths.indices.filter(lengths(_) > 0)
    if (present.isEmpty)
      throw new IOException("empty prefix code")
    if (present.size == 1)
      return new HuffmanDecoder(present.head, null, null, null, 0, null, null)
    val maxLen = present.map(lengths(_)).max
    val blCount = new Array[Int](maxLen + 2)
    present.foreach(s => blCount(lengths(s)) += 1)
    val firstCode = new Array[Int](maxLen + 2)
    val firstSymIdx = new Array[Int](maxLen + 2)
    var code = 0
    var idx = 0
    for (bits <- 1 to maxLen) {
      code = (code + blCount(bits - 1)) << 1
      firstCode(bits) = code
      firstSymIdx(bits) = idx
      idx += blCount(bits)
    }
    firstSymIdx(maxLen + 1) = idx
    // symbols sorted by (length, symbol) — canonical order
    val syms = present.sortBy(s => (lengths(s), s)).toArray
    // first-level table: codes of length <= FastBits, indexed by the
    // stream-order (LSB-first) bits — the code is bit-reversed once at
    // build time and expanded over all suffixes above it.
    val codes = Huffman.canonicalCodes(lengths)
    val fastSym = new Array[Char](1 << FastBits)
    val fastLen = new Array[Byte](1 << FastBits)
    present.foreach { s =>
      val l = lengths(s)
      if (l <= FastBits) {
        val rev = Huffman.reverseBits(codes(s), l)
        var suffix = 0
        while (suffix < (1 << (FastBits - l))) {
          val i = rev | (suffix << l)
          fastSym(i) = s.toChar
          fastLen(i) = l.toByte
          suffix += 1
        }
      }
    }
    new HuffmanDecoder(-1, firstCode, firstSymIdx, syms, maxLen, fastSym, fastLen)
  }

  /** Decoder for a single-symbol code (simple form NSYM=1). */
  def single(symbol: Int): HuffmanDecoder =
    new HuffmanDecoder(symbol, null, null, null, 0, null, null)
}
