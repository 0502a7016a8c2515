package graft.brotli

import java.io.ByteArrayOutputStream

/** LSB-first bit writer over a growable byte sink (RFC 7932 bit order:
  * values are packed starting from the least-significant bit of each
  * byte). */
final class BitWriter {
  private var buf = new Array[Byte](1 << 16)
  private var pos = 0 // completed bytes in buf
  private var cur: Long = 0L // pending bits, LSB-first
  private var nbits: Int = 0 // valid bits in cur (always < 8 after a write)

  private def ensure(n: Int): Unit =
    if (pos + n > buf.length) buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, pos + n))

  /** Append the low `n` bits of `value` (n <= 56: with up to 7 pending
    * bits, anything larger would shift past bit 63 of `cur` and silently
    * corrupt the stream — hence the hard check, not just this comment). */
  def writeBits(value: Long, n: Int): Unit = {
    require(n >= 0 && n <= 56, s"writeBits supports 0..56 bits, got $n")
    cur |= (value & ((1L << n) - 1)) << nbits
    nbits += n
    if (nbits >= 8) {
      ensure(8)
      do {
        buf(pos) = cur.toByte; pos += 1
        cur >>>= 8; nbits -= 8
      } while (nbits >= 8)
    }
  }

  /** Prefix-code bits are written MSB-of-code first (RFC 1951 / 7932
    * canonical convention) into the LSB-first byte stream — i.e. the
    * code's bits reversed, emitted as one batch. */
  def writeCodeBits(code: Int, len: Int): Unit =
    writeBits(Huffman.reverseBits(code, len).toLong, len)

  /** Pad the current byte with zero bits (meta-block raw-data alignment). */
  def alignToByte(): Unit =
    if (nbits > 0) { ensure(1); buf(pos) = cur.toByte; pos += 1; cur = 0; nbits = 0 }

  /** Raw byte copy; caller must be byte-aligned. */
  def writeBytes(b: Array[Byte], off: Int, len: Int): Unit = {
    require(nbits == 0, "writeBytes requires byte alignment")
    ensure(len)
    System.arraycopy(b, off, buf, pos, len)
    pos += len
  }

  def sizeBytes: Int = pos + (if (nbits > 0) 1 else 0)

  /** Drain completed bytes (keeps any partial byte pending). */
  def drainTo(sink: ByteArrayOutputStream): Unit = {
    sink.write(buf, 0, pos)
    pos = 0
  }

  /** Flush including the final partial byte (end of stream only). */
  def finishTo(sink: ByteArrayOutputStream): Unit = {
    alignToByte()
    drainTo(sink)
  }
}

/** Growable FIFO byte queue with LSB-first bit reads and snapshot/restore,
  * backing the incremental decoder: parse attempts that underflow restore
  * the read position and wait for more input.
  *
  * Bit reads are served from a cached 64-bit buffer (`bitBuf` holds the
  * next `bitCnt` stream bits in LSB-first order; `head` points past the
  * bytes loaded into it), so the per-symbol hot path — peek/skip in the
  * Huffman fast table, fixed-width extra-bit reads — is a shift and a
  * mask instead of per-bit byte indexing. The logical consumed position
  * is `head*8 - bitCnt` bits; snapshot/restore and the byte-aligned ops
  * rebase `head` from it. */
final class ByteQueue(initialCapacity: Int = 1 << 16) {
  private var buf = new Array[Byte](initialCapacity)
  private var bb = java.nio.ByteBuffer.wrap(buf)
    .order(java.nio.ByteOrder.LITTLE_ENDIAN)
  private var head = 0 // next byte not yet loaded into bitBuf
  private var tail = 0 // one past last valid byte
  private var bitBuf = 0L // next bits, LSB-first
  private var bitCnt = 0 // valid bits in bitBuf

  final class Underflow extends RuntimeException("need more input") {
    override def fillInStackTrace(): Throwable = this
  }
  private val underflow = new Underflow

  /** Top the bit buffer up to ≥56 valid bits when input allows.
    *
    * Fast path (the per-symbol case): ONE unaligned little-endian
    * 64-bit load (`ByteBuffer.getLong` is a HotSpot intrinsic) ORed in
    * branchlessly — `head += (63 − bitCnt) >> 3; bitCnt |= 56` is the
    * standard identity `bitCnt + 8·⌊(63−bitCnt)/8⌋ == bitCnt | 56`.
    * This replaces a per-byte load/shift loop that dominated the
    * literal-decode profile (r7 advice item 6). Bits of `bitBuf` at or
    * above `bitCnt` may hold UNCOUNTED next-stream bits after this —
    * every consumer masks to `bitCnt` (and re-ORing the same stream
    * bytes over them on the next refill is value-identical), so the
    * slack is never observed.
    *
    * Slow path (stream tail): byte-at-a-time, as before. */
  private def refill(): Unit = {
    if (head + 8 <= tail) {
      bitBuf |= bb.getLong(head) << bitCnt
      head += (63 - bitCnt) >> 3
      bitCnt |= 56
    } else {
      while (bitCnt <= 56 && head < tail) {
        bitBuf |= (buf(head) & 0xffL) << bitCnt
        head += 1
        bitCnt += 8
      }
    }
  }

  def append(b: Array[Byte], off: Int, len: Int): Unit = {
    if (tail + len > buf.length) {
      // keep from the byte holding the next unread bit: cached bits of
      // a partly consumed byte lie BEFORE `head`, so copying from `head`
      // would strand them outside the buffer (a later restore then
      // indexes byte -1)
      val (from, bit) = snapshot()
      val live = tail - from
      if (live + len <= buf.length && from >= buf.length / 2) {
        System.arraycopy(buf, from, buf, 0, live)
      } else {
        val bigger = new Array[Byte](math.max(buf.length * 2, live + len))
        System.arraycopy(buf, from, bigger, 0, live)
        buf = bigger
        bb = java.nio.ByteBuffer.wrap(buf)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      }
      tail = live
      restore((0, bit))
    }
    System.arraycopy(b, off, buf, tail, len)
    tail += len
  }

  /** Fold whole cached bytes back into `head` (keeps sub-byte bits
    * cached). Needed before operations that index `buf` directly. */
  private def unwindToBytePosition(): Unit = {
    val wholeBytes = bitCnt >> 3
    head -= wholeBytes
    bitCnt -= wholeBytes * 8
    bitBuf &= (1L << bitCnt) - 1
  }

  /** Whole unconsumed bytes buffered (a partially-consumed byte counts
    * as consumed; never negative). */
  def availableBytes: Int = math.max(0,
    tail - head + (bitCnt >> 3) - (if ((bitCnt & 7) > 0) 1 else 0))
  def isEmpty: Boolean = head == tail && bitCnt == 0

  /** Logical consumed position: (byteIndex, bitWithinByte). */
  def snapshot(): (Int, Int) = {
    val bitPosTotal = head.toLong * 8 - bitCnt
    ((bitPosTotal >> 3).toInt, (bitPosTotal & 7).toInt)
  }
  def restore(s: (Int, Int)): Unit = {
    head = s._1
    bitBuf = 0L
    bitCnt = 0
    if (s._2 > 0) { // re-consume the partial byte's leading bits
      refill()
      bitBuf >>>= s._2
      bitCnt -= s._2
    }
  }

  def readBit(): Int = {
    if (bitCnt == 0) {
      refill()
      if (bitCnt == 0) throw underflow
    }
    val bit = (bitBuf & 1L).toInt
    bitBuf >>>= 1
    bitCnt -= 1
    bit
  }

  def readBits(n: Int): Int = {
    if (n == 0) return 0
    if (bitCnt < n) {
      refill()
      if (bitCnt < n) {
        // not enough buffered: consume what exists bit-by-bit so the
        // underflow surfaces with the queue position advanced (callers
        // roll back via snapshot/restore)
        var v = 0
        var i = 0
        while (i < n) { v |= readBit() << i; i += 1 }
        return v
      }
    }
    val v = (bitBuf & ((1L << n) - 1)).toInt
    bitBuf >>>= n
    bitCnt -= n
    v
  }

  /** Peek the next 16 stream-order bits (bit i of the result is the
    * (i+1)-th bit to arrive) without consuming; -1 if fewer than 16 bits
    * are buffered. Fast path for table-driven prefix decode. */
  def peekBits16(): Int = {
    if (bitCnt < 16) {
      refill()
      if (bitCnt < 16) return -1
    }
    (bitBuf & 0xffffL).toInt
  }

  def skipBits(n: Int): Unit = {
    // only called with n <= bitCnt (after a successful peek)
    bitBuf >>>= n
    bitCnt -= n
  }

  /** Discard remaining bits of the current byte (RFC alignment). */
  def alignToByte(): Unit = {
    val drop = bitCnt & 7
    bitBuf >>>= drop
    bitCnt -= drop
    unwindToBytePosition()
  }

  /** Byte-aligned bulk copy of up to len bytes; returns bytes copied. */
  def readBytes(dst: Array[Byte], off: Int, len: Int): Int = {
    require(bitCnt == 0, "readBytes requires byte alignment")
    val n = math.min(len, tail - head)
    System.arraycopy(buf, head, dst, off, n)
    head += n
    n
  }

  /** Byte-aligned skip of up to len bytes; returns bytes skipped. */
  def skipBytes(len: Int): Int = {
    require(bitCnt == 0)
    val n = math.min(len, tail - head)
    head += n
    n
  }
}
