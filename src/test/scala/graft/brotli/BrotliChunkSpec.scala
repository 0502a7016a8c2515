package graft.brotli

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, InputStream}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.codec.BrotliCodec

/** A valid stream must decode however its bytes are split. Hadoop's
  * DecompressorStream hands the decoder whatever one `read` of the
  * source returned, and remote or wrapped streams return short reads,
  * so a meta-block routinely arrives in many pieces. */
class BrotliChunkSpec extends AnyFunSuite {

  /** Up to `limit` bytes of this repository's Scala sources: real,
    * unrepeated text. */
  private def repoText(limit: Int): Array[Byte] = {
    val files = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get("src"))
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector.sortBy(_.toString)
      finally s.close()
    }
    val out = new ByteArrayOutputStream()
    files.iterator.takeWhile(_ => out.size < limit)
      .foreach(f => out.write(java.nio.file.Files.readAllBytes(f)))
    java.util.Arrays.copyOf(out.toByteArray, math.min(out.size, limit))
  }

  private lazy val text = repoText(2000000)

  /** Decodes `comp` fed to one decoder in `piece`-byte inputs. */
  private def decodeInPieces(comp: Array[Byte], piece: Int): Array[Byte] = {
    val dec = new BrotliDecoder()
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](1 << 16)
    var off = 0
    while (!dec.isFinished) {
      val n = dec.decode(buf, 0, buf.length)
      if (n > 0) out.write(buf, 0, n)
      else {
        assert(off < comp.length, "decoder stalled with all input given")
        val k = math.min(piece, comp.length - off)
        dec.addInput(comp, off, k)
        off += k
        if (off == comp.length) dec.endOfInput()
      }
    }
    out.toByteArray
  }

  for (q <- Seq(1, 6, 11)) {
    // q11 encodes ~20x slower than q6: a quarter of the text keeps its
    // cases to seconds
    val data = if (q == 11) text.take(text.length / 4) else text
    lazy val comp = Brotli.compress(data, q)
    // each addInput re-decodes the pending meta-block from its start,
    // so 1 KiB pieces cost quadratic work: at most 500 KB keeps that
    // case to seconds and still spans many buffer growths
    lazy val small = data.take(text.length / 4)
    lazy val smallComp = if (small.length == data.length) comp else Brotli.compress(small, q)
    for (kib <- Seq(1, 4, 16, 64)) {
      test(s"q$q stream decodes when fed in $kib KiB pieces") {
        if (kib == 1)
          assert(java.util.Arrays.equals(decodeInPieces(smallComp, 1024), small))
        else
          assert(java.util.Arrays.equals(decodeInPieces(comp, kib * 1024), data))
      }
    }
  }

  test("codec input stream decodes a source that returns at most 64 KiB per read") {
    val codec = new BrotliCodec
    codec.setConf(new org.apache.hadoop.conf.Configuration(false))
    val comp = Brotli.compress(text, 6)
    val capped: InputStream = new ByteArrayInputStream(comp) {
      override def read(b: Array[Byte], off: Int, len: Int): Int =
        super.read(b, off, math.min(len, 64 * 1024))
    }
    val in = codec.createInputStream(capped)
    val got = try in.readAllBytes() finally in.close()
    assert(java.util.Arrays.equals(got, text))
  }

  test("corrupt streams fail as IOException, never as another exception") {
    val comp = Brotli.compress(text.take(50000), 6)
    val rnd = new java.util.Random(7)
    for (_ <- 0 until 50) {
      val bad = comp.clone()
      val at = rnd.nextInt(bad.length)
      bad(at) = (bad(at) ^ (1 << rnd.nextInt(8))).toByte
      val dec = new BrotliDecoder()
      dec.addInput(bad, 0, bad.length)
      dec.endOfInput()
      val buf = new Array[Byte](1 << 16)
      // a flipped bit may still leave a decodable stream: only the
      // exception type is pinned
      try while (dec.decode(buf, 0, buf.length) > 0) ()
      catch { case _: java.io.IOException => () }
    }
  }
}
