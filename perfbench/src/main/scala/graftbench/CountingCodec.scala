package graftbench

import java.io.{FilterOutputStream, InputStream, OutputStream}
import java.util.concurrent.atomic.LongAdder

import org.apache.hadoop.fs.{FSDataInputStream, PositionedReadable, Seekable}
import org.apache.hadoop.io.compress._

/** Codec-layer counters of the traced run. Spark runs tasks in this
  * JVM (local mode), so plain statics see every task. */
object CodecCounters {
  val encodeNs, decodeNs, plainBytes, compressedBytes, streams = new LongAdder

  private[graftbench] def timed[T](acc: LongAdder)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally acc.add(System.nanoTime() - t0)
  }
}

import CodecCounters._

/** graft's `.bro` codec with its streams wrapped in counters: busy time
  * inside the stream calls, plain and compressed bytes, stream count.
  * Same extension, same bytes on disk. (Its one-argument factories
  * delegate to these two.) */
class CountingBroCodec extends graft.codec.BrotliCodec {
  override def createOutputStream(out: OutputStream, c: Compressor): CompressionOutputStream = {
    streams.increment()
    new CountingOut(super.createOutputStream(new RawOut(out), c))
  }
  override def createInputStream(in: InputStream, d: Decompressor): CompressionInputStream = {
    streams.increment()
    new CountingIn(super.createInputStream(new RawIn(in), d))
  }
}

/** graft's splittable `.brf` codec, wrapped the same way; split reads
  * keep their adjusted bounds and positions, so splittability holds.
  * (Its two-argument factories delegate to these, unlike `.bro`'s.) */
class CountingBroFramedCodec extends graft.codec.BroFramedCodec {
  override def createOutputStream(out: OutputStream): CompressionOutputStream = {
    streams.increment()
    new CountingOut(super.createOutputStream(new RawOut(out)))
  }
  override def createInputStream(in: InputStream): CompressionInputStream = {
    streams.increment()
    new CountingIn(super.createInputStream(new RawIn(in)))
  }
  override def createInputStream(in: InputStream, d: Decompressor, start: Long, end: Long,
      mode: SplittableCompressionCodec.READ_MODE): SplitCompressionInputStream = {
    streams.increment()
    new CountingSplitIn(super.createInputStream(
      new FSDataInputStream(new RawSeekableIn(in)), d, start, end, mode))
  }
}

/** Counts compressed bytes on their way to the file. */
private final class RawOut(out: OutputStream) extends FilterOutputStream(out) {
  override def write(b: Int): Unit = { out.write(b); compressedBytes.increment() }
  override def write(b: Array[Byte], off: Int, len: Int): Unit = {
    out.write(b, off, len); compressedBytes.add(len)
  }
}

/** Counts compressed bytes read from the file. */
private class RawIn(in: InputStream) extends InputStream {
  override def read(): Int = { val r = in.read(); if (r >= 0) compressedBytes.increment(); r }
  override def read(b: Array[Byte], off: Int, len: Int): Int = {
    val n = in.read(b, off, len); if (n > 0) compressedBytes.add(n); n
  }
  override def available(): Int = in.available()
  override def close(): Unit = in.close()
}

/** RawIn for the split path, which seeks: FSDataInputStream needs a
  * Seekable, PositionedReadable source. */
private final class RawSeekableIn(in: InputStream) extends RawIn(in)
    with Seekable with PositionedReadable {
  private def s = in.asInstanceOf[Seekable]
  private def p = in.asInstanceOf[PositionedReadable]
  override def seek(pos: Long): Unit = s.seek(pos)
  override def getPos: Long = s.getPos
  override def seekToNewSource(pos: Long): Boolean = s.seekToNewSource(pos)
  override def read(pos: Long, b: Array[Byte], off: Int, len: Int): Int = {
    val n = p.read(pos, b, off, len); if (n > 0) compressedBytes.add(n); n
  }
  override def readFully(pos: Long, b: Array[Byte], off: Int, len: Int): Unit = {
    p.readFully(pos, b, off, len); compressedBytes.add(len)
  }
  override def readFully(pos: Long, b: Array[Byte]): Unit = readFully(pos, b, 0, b.length)
}

private final class CountingOut(inner: CompressionOutputStream)
    extends CompressionOutputStream(inner) {
  override def write(b: Int): Unit = { timed(encodeNs)(inner.write(b)); plainBytes.increment() }
  override def write(b: Array[Byte], off: Int, len: Int): Unit = {
    timed(encodeNs)(inner.write(b, off, len)); plainBytes.add(len)
  }
  override def finish(): Unit = timed(encodeNs)(inner.finish())
  override def resetState(): Unit = inner.resetState()
  override def flush(): Unit = inner.flush()
  override def close(): Unit = timed(encodeNs)(inner.close())
}

private final class CountingIn(inner: CompressionInputStream)
    extends CompressionInputStream(inner) {
  override def read(): Int = {
    val r = timed(decodeNs)(inner.read()); if (r >= 0) plainBytes.increment(); r
  }
  override def read(b: Array[Byte], off: Int, len: Int): Int = {
    val n = timed(decodeNs)(inner.read(b, off, len)); if (n > 0) plainBytes.add(n); n
  }
  override def resetState(): Unit = inner.resetState()
  override def getPos: Long = inner.getPos
  override def close(): Unit = inner.close()
}

private final class CountingSplitIn(inner: SplitCompressionInputStream)
    extends SplitCompressionInputStream(inner, inner.getAdjustedStart, inner.getAdjustedEnd) {
  override def read(): Int = {
    val r = timed(decodeNs)(inner.read()); if (r >= 0) plainBytes.increment(); r
  }
  override def read(b: Array[Byte], off: Int, len: Int): Int = {
    val n = timed(decodeNs)(inner.read(b, off, len)); if (n > 0) plainBytes.add(n); n
  }
  override def resetState(): Unit = inner.resetState()
  override def getPos: Long = inner.getPos
  override def getAdjustedStart: Long = inner.getAdjustedStart
  override def getAdjustedEnd: Long = inner.getAdjustedEnd
  override def close(): Unit = inner.close()
}
