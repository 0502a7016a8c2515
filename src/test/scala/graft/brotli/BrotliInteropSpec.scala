package graft.brotli

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.sys.process._
import java.io.ByteArrayOutputStream

/** Cross-validation against a real, conformant Brotli implementation
  * (the system libbrotli, driven through the tiny `tools/brotli_cli.c`
  * shim). Closes the advisor-flagged gap where encoder and decoder were
  * only round-tripped against each other, which hides shared spec
  * misreadings (ADVICE.md r1: distance-ring init/persistence, NDIRECT).
  *
  * Direction 1 (encoder conformance): every stream graft emits must be
  * decoded byte-exactly by libbrotli.
  * Direction 2 (decoder completeness): streams produced by libbrotli at
  * all quality levels — which exercise block switching, context maps,
  * NPOSTFIX/NDIRECT, ring codes, and static-dictionary transforms —
  * must decode byte-exactly in graft's decoder.
  */
class BrotliInteropSpec extends AnyFunSuite {

  private lazy val cli: Option[String] = {
    val prebuilt = Paths.get("tools/brotli_cli")
    if (Files.isExecutable(prebuilt)) Some(prebuilt.toAbsolutePath.toString)
    else {
      val target = Paths.get("target/tools/brotli_cli")
      if (Files.isExecutable(target)) Some(target.toAbsolutePath.toString)
      else {
        Files.createDirectories(target.getParent)
        val rc = Seq("gcc", "-O2", "-o", target.toString, "tools/brotli_cli.c",
          "-lbrotlienc", "-lbrotlidec", "-lbrotlicommon").!
        if (rc == 0) Some(target.toAbsolutePath.toString) else None
      }
    }
  }

  private def run(args: Seq[String], input: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val io = new ProcessIO(
      in => { in.write(input); in.close() },
      os => { val buf = new Array[Byte](1 << 16)
        var n = os.read(buf); while (n > 0) { out.write(buf, 0, n); n = os.read(buf) }
        os.close() },
      _.close())
    val p = Process(args).run(io)
    assert(p.exitValue() == 0, s"${args.mkString(" ")} failed")
    out.toByteArray
  }

  private def extCompress(data: Array[Byte], q: Int, lgwin: Int = 22): Array[Byte] =
    run(Seq(cli.get, "c", q.toString, lgwin.toString), data)
  private def extDecompress(data: Array[Byte]): Array[Byte] =
    run(Seq(cli.get, "d"), data)

  private def withCli(body: => Unit): Unit =
    if (cli.isEmpty) cancel("no system brotli / gcc available") else body

  // --- fixtures ---
  private def textInput(n: Int): Array[Byte] = {
    // english-ish text: hits the static dictionary, UTF8 context mode,
    // and repeated-phrase LZ matches
    val words = Array("the", "of", "and", "information", "public", "that",
      "from", "time", "people", "development", "system", "which", "with",
      "government", "different", "management", "The first", "because",
      "download", "available", "Copyright", "description", "performance")
    val rnd = new scala.util.Random(42)
    val sb = new StringBuilder
    while (sb.length < n) {
      sb.append(words(rnd.nextInt(words.length)))
      sb.append(if (rnd.nextInt(12) == 0) ".\n" else " ")
    }
    sb.toString.take(n).getBytes("UTF-8")
  }
  private def randomInput(n: Int, seed: Int): Array[Byte] = {
    val b = new Array[Byte](n); new scala.util.Random(seed).nextBytes(b); b
  }
  private def repetitiveInput(n: Int): Array[Byte] =
    Array.tabulate(n)(i => ((i % 251) ^ (i / 1024)).toByte)

  private val sizes = Seq(0, 1, 3, 100, 4096, 100000)

  test("external brotli decodes graft streams (all quality rungs)") {
    withCli {
      for (q <- Seq(0, 2, 5); n <- sizes :+ 3000000) {
        for ((name, data) <- Seq("text" -> textInput(n),
            "random" -> randomInput(n, n + q), "rep" -> repetitiveInput(n))) {
          val enc = Brotli.compress(data, q)
          val dec = extDecompress(enc)
          assert(java.util.Arrays.equals(dec, data),
            s"external decode mismatch: q=$q n=$n $name")
        }
      }
    }
  }

  test("external libbrotli decodes graft q10/q11 streams") {
    // the context-modeling and zopfli rungs, on inputs past one 1 MiB
    // meta-block
    withCli {
      for (q <- Seq(10, 11); (name, data) <- Seq(
          "text" -> textInput(2500000), "rep" -> repetitiveInput(2000000),
          "random" -> randomInput(300000, 42), "zeros" -> new Array[Byte](3 << 20))) {
        val enc = Brotli.compress(data, q)
        assert(java.util.Arrays.equals(extDecompress(enc), data),
          s"external decode mismatch: q=$q $name (${enc.length}B)")
      }
    }
  }

  test("graft decodes external brotli streams (all quality levels)") {
    withCli {
      for (q <- Seq(0, 1, 2, 4, 5, 6, 9, 11)) {
        val top = if (q >= 9) 400000 else 3000000
        for (n <- sizes :+ top) {
          for ((name, data) <- Seq("text" -> textInput(n),
              "random" -> randomInput(n, n * 31 + q), "rep" -> repetitiveInput(n))) {
            val enc = extCompress(data, q)
            val dec = Brotli.decompress(enc)
            assert(java.util.Arrays.equals(dec, data),
              s"graft decode mismatch: q=$q n=$n $name (stream ${enc.length}B)")
          }
        }
      }
    }
  }

  test("graft decodes external streams fed in odd-sized chunks") {
    withCli {
      val data = textInput(200000)
      for (q <- Seq(5, 11); chunk <- Seq(1, 333)) {
        val enc = extCompress(data, q)
        val dec = new BrotliDecoder()
        val out = new ByteArrayOutputStream()
        val buf = new Array[Byte](777)
        var off = 0
        while (off < enc.length) {
          val n = math.min(chunk, enc.length - off)
          dec.addInput(enc, off, n)
          off += n
          var got = dec.decode(buf, 0, buf.length)
          while (got > 0) { out.write(buf, 0, got); got = dec.decode(buf, 0, buf.length) }
        }
        dec.endOfInput()
        var got = dec.decode(buf, 0, buf.length)
        while (got > 0) { out.write(buf, 0, got); got = dec.decode(buf, 0, buf.length) }
        assert(dec.isFinished, s"not finished q=$q chunk=$chunk")
        assert(java.util.Arrays.equals(out.toByteArray, data),
          s"chunked decode mismatch q=$q chunk=$chunk")
      }
    }
  }

  test("graft decodes external streams at small window sizes") {
    withCli {
      val data = textInput(500000)
      for (lgwin <- Seq(10, 14, 18, 24)) {
        val enc = extCompress(data, 5, lgwin)
        assert(java.util.Arrays.equals(Brotli.decompress(enc), data),
          s"lgwin=$lgwin mismatch")
      }
    }
  }
}
