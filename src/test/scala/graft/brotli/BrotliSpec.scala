package graft.brotli

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.codec.BrotliCodec

/** Round-trip grid ported from the reference's TestBro.java:24-92
  * (chunked seeded data × entropy × qualities × buffer sizes), with the
  * reference's weaknesses fixed: fixed seeds, and content asserted in the
  * codec-level test (TestBroCodec.java had none — SURVEY.md §5.1).
  */
class BrotliSpec extends AnyFunSuite {

  private def chunk(rnd: Random, size: Int, entropy: Int, asciiOffset: Int): Array[Byte] = {
    val b = new Array[Byte](size)
    rnd.nextBytes(b)
    // reference post-processing: b[i] = (abs(b[i]) % entropy) + asciiOffset
    // (TestBro.java:44-46,60-62)
    for (i <- b.indices) b(i) = ((math.abs(b(i).toInt) % entropy) + asciiOffset).toByte
    b
  }

  private def roundTripCase(seed: Long, quality: Int, chunkSize: Int,
      chunkNumber: Int, entropy: Int, readBuffer: Int): Unit = {
    val codec = new BrotliCodec
    codec.setConf(new org.apache.hadoop.conf.Configuration(false))
    // write through the codec stream
    val sink = new ByteArrayOutputStream()
    val cout = codec.createOutputStream(sink)
    val rnd = new Random(seed)
    var total = 0L
    for (_ <- 0 until chunkNumber) {
      val c = chunk(rnd, chunkSize, entropy, 48)
      cout.write(c)
      total += c.length
    }
    cout.close()
    // read back with the given buffer size, re-generating expected chunks
    val cin = codec.createInputStream(new ByteArrayInputStream(sink.toByteArray))
    val expRnd = new Random(seed)
    val got = new ByteArrayOutputStream()
    val buf = new Array[Byte](readBuffer)
    var n = cin.read(buf)
    while (n > 0) { got.write(buf, 0, n); n = cin.read(buf) }
    cin.close()
    val expected = new ByteArrayOutputStream()
    for (_ <- 0 until chunkNumber) expected.write(chunk(expRnd, chunkSize, entropy, 48))
    assert(got.size() == total, s"length mismatch (case seed=$seed q=$quality)")
    assert(java.util.Arrays.equals(got.toByteArray, expected.toByteArray),
      s"content mismatch (case seed=$seed q=$quality cs=$chunkSize n=$chunkNumber e=$entropy rb=$readBuffer)")
  }

  test("reference grid: chunked round-trip, fixed seeds") {
    val cases = for {
      chunkSize <- Seq(3333, 4096, 8192)
      entropy <- Seq(1, 10, 208)
      chunkNumber <- Seq(0, 1, 3, 10, 100)
      quality <- Seq(1, 6, 11)
    } yield (chunkSize, entropy, chunkNumber, quality)
    cases.zipWithIndex.foreach { case ((cs, e, cn, q), i) =>
      roundTripCase(seed = 1000 + i, q, cs, cn, e, readBuffer = 333)
    }
  }

  test("large stream (> one meta-block) with 2 MiB read buffer") {
    // ~80 MB equivalent scaled to 10 MB for CI time; still spans multiple
    // 4 MiB meta-blocks (reference largest: TestBro.java:76-86).
    roundTripCase(seed = 7, quality = 6, chunkSize = 8192, chunkNumber = 1250,
      entropy = 32, readBuffer = 2 * 1024 * 1024)
  }

  test("empty stream round-trips (reference empty fast path)") {
    roundTripCase(seed = 1, quality = 6, chunkSize = 1, chunkNumber = 0,
      entropy = 1, readBuffer = 16)
  }

  test("one-shot helpers round-trip arbitrary byte arrays (property, 300 cases)") {
    val rnd = new Random(99)
    for (_ <- 0 until 300) {
      val data = new Array[Byte](rnd.nextInt(5000))
      rnd.nextBytes(data)
      val q = rnd.nextInt(12)
      assert(java.util.Arrays.equals(Brotli.decompress(Brotli.compress(data, q)), data))
    }
  }

  test("decoder handles metadata meta-blocks and multi-chunk headers") {
    // hand-built stream: header, metadata block (3 skip bytes), one raw
    // block "hi", last-empty — fed one byte at a time.
    val out = new ByteArrayOutputStream()
    val w = new BitWriter
    w.writeBits(1, 1); w.writeBits(22 - 17, 3) // WBITS 22
    // metadata block: ISLAST=0, MNIBBLES code 3, reserved 0, MSKIPBYTES=1, len-1=2
    w.writeBits(0, 1); w.writeBits(3, 2); w.writeBits(0, 1)
    w.writeBits(1, 2); w.writeBits(2, 8)
    w.alignToByte()
    w.writeBytes(Array[Byte](9, 9, 9), 0, 3)
    // raw block "hi"
    w.writeBits(0, 1); w.writeBits(0, 2); w.writeBits(1, 16) // MLEN-1 = 1
    w.writeBits(1, 1) // ISUNCOMPRESSED
    w.alignToByte()
    w.writeBytes("hi".getBytes, 0, 2)
    // last-empty
    w.writeBits(1, 1); w.writeBits(1, 1)
    w.finishTo(out)
    val stream = out.toByteArray
    val dec = new BrotliDecoder()
    val got = new ByteArrayOutputStream()
    val one = new Array[Byte](8)
    stream.foreach { byte =>
      dec.addInput(Array(byte), 0, 1)
      var n = dec.decode(one, 0, one.length)
      while (n > 0) { got.write(one, 0, n); n = dec.decode(one, 0, one.length) }
    }
    assert(dec.isFinished)
    assert(new String(got.toByteArray) == "hi")
  }

  test("decoder executes insert+copy commands with explicit distance") {
    // hand-built entropy block: ISLAST=1, MLEN=8, insert 'abcd' then copy
    // 4 bytes at distance 4 → "abcdabcd".
    val w = new BitWriter
    w.writeBits(0, 1) // WBITS 16
    w.writeBits(1, 1); w.writeBits(0, 1) // ISLAST=1, ISLASTEMPTY=0
    w.writeBits(0, 2); w.writeBits(7, 16) // MNIBBLES=4, MLEN-1=7
    w.writeBits(0, 1); w.writeBits(0, 1); w.writeBits(0, 1) // NBLTYPES L/I/D = 1
    w.writeBits(0, 2); w.writeBits(0, 4) // NPOSTFIX, NDIRECT
    w.writeBits(0, 2) // context mode
    w.writeBits(0, 1); w.writeBits(0, 1) // NTREESL=1, NTREESD=1
    // literal code: simple, 4 symbols a..d, flat 2-bit
    w.writeBits(1, 2); w.writeBits(3, 2)
    "abcd".foreach(c => w.writeBits(c.toLong, 8))
    w.writeBits(0, 1) // tree-select flat
    // command code: single symbol 162 = insert code 4 (len 4), copy code 2 (len 4)
    w.writeBits(1, 2); w.writeBits(0, 2); w.writeBits(162, 10)
    // distance code: single symbol 17 (→ distance 3 + extra)
    w.writeBits(1, 2); w.writeBits(0, 2); w.writeBits(17, 6)
    // command body: no insert/copy extra bits; literals 00 01 10 11
    w.writeCodeBits(0, 2); w.writeCodeBits(1, 2)
    w.writeCodeBits(2, 2); w.writeCodeBits(3, 2)
    w.writeBits(1, 1) // distance extra bit → distance 4
    val out = new ByteArrayOutputStream()
    w.finishTo(out)
    val got = Brotli.decompress(out.toByteArray)
    assert(new String(got) == "abcdabcd")
  }

  test("decoder reports truncated stream mid-meta-block") {
    val w = new BitWriter
    w.writeBits(0, 1) // WBITS 16
    w.writeBits(0, 1) // ISLAST=0
    w.writeBits(0, 2); w.writeBits(0, 16) // MLEN-1=0
    w.writeBits(0, 1) // ISUNCOMPRESSED=0
    w.writeBits(1, 1); w.writeBits(0, 3) // NBLTYPESL = 2, then stream ends
    val out = new ByteArrayOutputStream()
    w.finishTo(out)
    val dec = new BrotliDecoder()
    val bytes = out.toByteArray
    dec.addInput(bytes, 0, bytes.length)
    dec.endOfInput()
    val e = intercept[java.io.IOException](dec.decode(new Array[Byte](8), 0, 8))
    assert(e.getMessage.contains("truncated"))
  }

  test("quality ladder: q0 stores, q1 fast-LZ compresses, q6 at least as well") {
    val text = ("the quick brown fox jumps over the lazy dog " * 2000).getBytes
    val q0 = Brotli.compress(text, 0)
    val q1 = Brotli.compress(text, 1)
    val q6 = Brotli.compress(text, 6)
    assert(q0.length >= text.length) // store rung ~1.0
    // highly repetitive input: even the greedy depth-1 q1 tier should
    // collapse it by >10× (libbrotli q1 manages ~20× here)
    assert(q1.length < text.length / 10, s"fast-LZ rung ratio: ${q1.length}/${text.length}")
    assert(q6.length <= q1.length * 11 / 10,
      s"ladder inversion: q6 ${q6.length} vs q1 ${q1.length}")
    assert(java.util.Arrays.equals(Brotli.decompress(q0), text))
    assert(java.util.Arrays.equals(Brotli.decompress(q1), text))
    assert(java.util.Arrays.equals(Brotli.decompress(q6), text))
  }

  test("reset() supports pooled reuse across streams (reference bug fixed)") {
    // the reference's Decompressor.reset() is a no-op, corrupting
    // CodecPool reuse (BroDecompressor.java:130-131); ours must fully
    // re-arm both sides for a second, different stream.
    val comp = new graft.codec.BrotliCompressor(6)
    val decomp = new graft.codec.BrotliDecompressor()
    def roundTrip(payload: Array[Byte]): Array[Byte] = {
      val sink = new ByteArrayOutputStream()
      val out = new org.apache.hadoop.io.compress.CompressorStream(sink, comp, 4096)
      out.write(payload); out.finish()
      val cin = new org.apache.hadoop.io.compress.DecompressorStream(
        new ByteArrayInputStream(sink.toByteArray), decomp, 4096)
      val got = new ByteArrayOutputStream()
      val buf = new Array[Byte](333)
      var n = cin.read(buf)
      while (n > 0) { got.write(buf, 0, n); n = cin.read(buf) }
      got.toByteArray
    }
    val a = "first stream payload — compress me".getBytes
    val b = ("second, longer stream " * 100).getBytes
    assert(java.util.Arrays.equals(roundTrip(a), a))
    comp.reset(); decomp.reset()
    assert(java.util.Arrays.equals(roundTrip(b), b))
    assert(comp.getBytesRead == b.length.toLong) // counters re-armed too
  }

  test("reset() rebases the dictionary bound and empties the q11 tree") {
    // two reuse leaks a pooled encoder could carry into its next stream:
    // (1) histShift — advanced by every window slide; the §8 dictionary
    //     bound is min(streamPos, window) counted by the DECODER, which
    //     restarts at 0, so a stale shift mis-addresses dictionary
    //     references in a reused q>=10 encoder (corrupt stream);
    // (2) the q11 suffix-tree buckets — stale roots would steer the
    //     parse, so a pooled encoder would emit a different (if valid)
    //     stream than a fresh one.
    val rnd = new Random(7)
    val slide = new Array[Byte](12 << 20) // > hist capacity -> must slide
    rnd.nextBytes(slide)
    for (i <- slide.indices) slide(i) = ((slide(i) & 0x7f) % 20 + 'a').toByte
    val enc1 = new BrotliEncoder(1)
    val sink = new ByteArrayOutputStream()
    enc1.write(slide, 0, slide.length, sink)
    enc1.finish(sink)
    assert(enc1.histShiftForTest > 0L) // the slide actually happened
    enc1.reset()
    assert(enc1.histShiftForTest == 0L)
    // q11: dictionary-rich text; a reused encoder must emit the exact
    // bytes a fresh one does
    val words = Array("the", "of", "information", "public", "different")
    val sb = new StringBuilder
    val wr = new Random(11)
    while (sb.length < 60000) { sb.append(words(wr.nextInt(words.length))).append(' ') }
    val text = sb.toString.getBytes
    val enc11 = new BrotliEncoder(11)
    val s1 = new ByteArrayOutputStream()
    enc11.write(text, 0, text.length, s1); enc11.finish(s1)
    assert(enc11.treeDirtyForTest)
    enc11.reset()
    assert(!enc11.treeDirtyForTest)
    val s2 = new ByteArrayOutputStream()
    enc11.write(text, 0, text.length, s2); enc11.finish(s2)
    assert(java.util.Arrays.equals(s2.toByteArray, s1.toByteArray))
    assert(java.util.Arrays.equals(Brotli.decompress(s2.toByteArray), text))
  }

  test("q11 literal block splitting adopts on context-invisible shifts only") {
    // alternating disjoint random-byte ranges: incompressible, and the
    // UTF-8 context map cannot separate the sections (every context
    // mixes both) — exactly the shape where temporal literal block
    // types pay (~6% here; without them we trail native by the same).
    // On context-separable content the dual pricing must REJECT the
    // split (context clustering already covers it; a mispriced split
    // once emitted 32 B larger).
    val rnd = new Random(3)
    val ranges = new ByteArrayOutputStream()
    for (sec <- 0 until 8) {
      val (lo, hi) = if (sec % 2 == 0) (0, 120) else (130, 250)
      for (_ <- 0 until 20000)
        ranges.write(lo + rnd.nextInt(hi - lo + 1))
    }
    val payload = ranges.toByteArray
    val enc = Brotli.compress(payload, 11)
    assert(java.util.Arrays.equals(Brotli.decompress(enc), payload))
    // the split must pay its way: within 2% of coding each section with
    // its own order-0 model (one tree for the whole block lands ~7% over)
    val sectionIdeal = payload.grouped(20000).map { sec =>
      val h = new Array[Int](256)
      sec.foreach(b => h(b & 0xff) += 1)
      h.filter(_ > 0).map(c => -c * math.log(c.toDouble / sec.length)).sum /
        math.log(2) / 8
    }.sum
    assert(enc.length <= sectionIdeal * 1.02,
      f"literal split did not pay: ${enc.length} B vs per-section ideal $sectionIdeal%.0f B")
  }

  test("max-ratio dial (cutExplicit) emits valid streams that beat default ratio") {
    // q12 relaxes explicit candidates at copy-code boundaries in the
    // refine sweeps — a different parse, same format; the stream must
    // round-trip and on compressible text come out no larger than q11
    val words = Array("information", "the", "of", "public", "because",
      "different", "management")
    val wr = new Random(5)
    val sb = new StringBuilder
    while (sb.length < 120000) { sb.append(words(wr.nextInt(words.length))).append(' ') }
    val text = sb.toString.getBytes
    val q11 = Brotli.compress(text, 11)
    val q12 = Brotli.compress(text, 12)
    assert(java.util.Arrays.equals(Brotli.decompress(q12), text))
    assert(q12.length <= q11.length,
      s"max-ratio rung must not lose to q11: q12=${q12.length} q11=${q11.length}")
  }

  test("quality ladder is monotone on compressible text") {
    // each rung must compress at least as well as the one below it on
    // ordinary repetitive text — guards rung repositionings (q5 moved
    // off the depth-1 row in r10) from inverting the ladder
    val words = Array("information", "the", "of", "public", "because",
      "different", "management", "quality", "ladder")
    val wr = new Random(55)
    val sb = new StringBuilder
    while (sb.length < 200000) { sb.append(words(wr.nextInt(words.length))).append(' ') }
    val text = sb.toString.getBytes
    val sizes = Seq(1, 2, 5, 6, 9, 10, 11, 12).map { q =>
      val enc = Brotli.compress(text, q)
      assert(java.util.Arrays.equals(Brotli.decompress(enc), text),
        s"q$q round-trip")
      q -> enc.length
    }
    sizes.sliding(2).foreach { case Seq((ql, sl), (qh, sh)) =>
      assert(sh <= sl,
        s"ladder inversion: q$qh ($sh B) worse than q$ql ($sl B)")
    }
  }

  test("compressor reports real byte counters (reference bug fixed)") {
    val codec = new BrotliCodec
    codec.setConf(new org.apache.hadoop.conf.Configuration(false))
    val comp = codec.createCompressor()
    val sink = new ByteArrayOutputStream()
    val out = codec.createOutputStream(sink, comp)
    out.write("hello brotli".getBytes)
    out.finish()
    assert(comp.getBytesRead == 12L)
    assert(comp.getBytesWritten > 0L)
  }

  test("custom dictionary round-trips and shrinks related payloads (reference TODO)") {
    // the reference lists custom dictionaries as its sole TODO
    // (README.md:4-5); prefix semantics: dictionary bytes precede the
    // stream for backward references.
    val dictionary = ("shared boilerplate header: company confidential " +
      "do not distribute without permission ").getBytes
    // single occurrence: self-repetition would let the no-dictionary
    // encoder catch up via window matches and reduce the dictionary's
    // edge to coin-flip jitter (q11 measured 97-vs-96 B on a 3× payload)
    val payload = ("company confidential do not distribute without " +
      "permission — quarterly numbers follow. ").getBytes
    // q11 included: the zopfli tier searches only the suffix tree, so
    // the preload must enter THAT index (a r9 review caught it entering
    // only the greedy tiers' chains — silently unreachable at q11)
    for (q <- Seq(4, 6, 9, 11)) {
      val withDict = Brotli.compress(payload, q, dictionary)
      val without = Brotli.compress(payload, q)
      assert(java.util.Arrays.equals(
        Brotli.decompress(withDict, dictionary), payload),
        s"dictionary round-trip failed at q$q")
      assert(withDict.length <= without.length,
        s"q$q: dictionary made output larger (${withDict.length} > ${without.length})")
    }
    // the dictionary actually participates: a stream referencing it
    // must not decode to the same bytes without it
    for (q <- Seq(6, 11)) {
      val enc = Brotli.compress(payload, q, dictionary)
      val wrong = try Some(Brotli.decompress(enc)) catch { case _: Exception => None }
      assert(!wrong.exists(java.util.Arrays.equals(_, payload)),
        s"q$q stream decoded identically without its dictionary — dictionary unused")
    }
  }

  test("dictionary round-trip grid: sizes × qualities × overlap levels") {
    val rnd = new Random(1234)
    val dictionary = chunk(rnd, 8192, 32, 48)
    for {
      q <- Seq(3, 5, 6)
      n <- Seq(0, 1, 333, 8192, 100000)
    } {
      val payload = new Array[Byte](n)
      // half dictionary-overlapping content, half fresh random
      var i = 0
      while (i < n) {
        val fromDict = (i / 100) % 2 == 0
        payload(i) = if (fromDict) dictionary(i % dictionary.length)
          else ((i * 31 + q) % 96 + 32).toByte
        i += 1
      }
      val enc = Brotli.compress(payload, q, dictionary)
      assert(java.util.Arrays.equals(Brotli.decompress(enc, dictionary), payload),
        s"q$q n=$n dictionary round-trip failed")
    }
  }

  test("q11/q12 dictionary fuzz: repetitive tails that agree to the data end") {
    // targets the truncated-terminal case of the suffix-tree preload: a
    // small alphabet forces many tail positions to share hash buckets
    // AND agree to the dictionary end (the non-durable-ordering
    // precondition), and the stream then extends those suffixes with
    // bytes that can contradict any order claimed at preload time. A
    // mis-ordered tree surfaces here as a round-trip mismatch (an
    // unverified candidate prefix reaching the DP), not as a crash.
    val rnd = new Random(77)
    for (iter <- 0 until 30) {
      val alpha = 2 + rnd.nextInt(3) // tiny alphabet: maximal repetition
      def blob(n: Int): Array[Byte] = {
        val b = new Array[Byte](n)
        var i = 0
        while (i < n) { b(i) = ('a' + rnd.nextInt(alpha)).toByte; i += 1 }
        b
      }
      val dict = blob(16 + rnd.nextInt(512))
      // payload opens with a run that extends the dictionary tail, then
      // diverges — exercising matches across the dict/stream boundary
      val payload = blob(200 + rnd.nextInt(2000))
      for (q <- Seq(11, 12)) {
        val enc = Brotli.compress(payload, q, dict)
        assert(java.util.Arrays.equals(Brotli.decompress(enc, dict), payload),
          s"iter=$iter q=$q alpha=$alpha dict=${dict.length} n=${payload.length}: " +
            "dictionary round-trip mismatch")
      }
    }
  }

  test("hadoop codec layer plumbs the dictionary through both sides") {
    val dictionary = ("the quick brown fox jumps over the lazy dog " * 20).getBytes
    val payload = ("the quick brown fox jumps over the lazy dog — again and " +
      "again the quick brown fox. " * 50).getBytes
    val comp = new graft.codec.BrotliCompressor(6)
    comp.setDictionary(dictionary, 0, dictionary.length)
    val sink = new ByteArrayOutputStream()
    val out = new org.apache.hadoop.io.compress.CompressorStream(sink, comp, 4096)
    out.write(payload); out.finish()
    val decomp = new graft.codec.BrotliDecompressor()
    decomp.setDictionary(dictionary, 0, dictionary.length)
    val cin = new org.apache.hadoop.io.compress.DecompressorStream(
      new ByteArrayInputStream(sink.toByteArray), decomp, 4096)
    val got = new ByteArrayOutputStream()
    val buf = new Array[Byte](333)
    var n = cin.read(buf)
    while (n > 0) { got.write(buf, 0, n); n = cin.read(buf) }
    assert(java.util.Arrays.equals(got.toByteArray, payload))
  }

  test("concatenated members read via Hadoop's own multi-member protocol") {
    // DecompressorStream handles member rollover itself — on finished()
    // with getRemaining()==0 it fetches more file bytes, with a leftover
    // it reset()s and re-feeds the tail — so honest finished/
    // getRemaining/reset contracts make `cat a.bro b.bro` readable with
    // the GENERIC stream, no codec-specific machinery (the reference's
    // hard-coded getRemaining=0 + no-op reset broke exactly this).
    val p1 = ("first member " * 40).getBytes
    val p2 = ("second member, different content " * 30).getBytes
    val p3 = "third, tiny".getBytes
    val catted = Brotli.compress(p1, 6) ++ Brotli.compress(p2, 4) ++
      Brotli.compress(p3, 9)
    // raw decompressor level: stops at the member boundary and reports
    // the remaining bytes (the contract the stream protocol builds on)
    val raw = new graft.codec.BrotliDecompressor()
    raw.setInput(catted, 0, catted.length)
    val out0 = new ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    var n = raw.decompress(buf, 0, buf.length)
    while (n > 0) { out0.write(buf, 0, n); n = raw.decompress(buf, 0, buf.length) }
    assert(raw.finished() && java.util.Arrays.equals(out0.toByteArray, p1))
    assert(raw.getRemaining > 0)
    // stream level: all members decode, across various chunk sizes so
    // member boundaries land both mid-chunk and on chunk edges
    val codec = new BrotliCodec
    codec.setConf(new org.apache.hadoop.conf.Configuration(false))
    for (chunk <- Seq(1 << 16, 333, 64, catted.length)) {
      val cin = codec.createInputStream(
        new ByteArrayInputStream(catted), new graft.codec.BrotliDecompressor())
      val got = new ByteArrayOutputStream()
      val rb = new Array[Byte](chunk)
      var m = cin.read(rb)
      while (m > 0) { got.write(rb, 0, m); m = cin.read(rb) }
      assert(java.util.Arrays.equals(got.toByteArray, p1 ++ p2 ++ p3),
        s"multi-member read failed at read-buffer $chunk")
    }
  }

  test("decoder fails cleanly on fuzzed garbage (IOException, never a crash)") {
    // corrupted .bro files at 100 TB are a when, not an if: the decoder
    // must surface IOException (the reference's 'Corrupted' contract,
    // BroDecompressor.java:105-111), not index errors or hangs.
    val rnd = new Random(99)
    var decodedOk = 0
    for (_ <- 0 until 300) {
      val n = 1 + rnd.nextInt(4096)
      val garbage = new Array[Byte](n)
      rnd.nextBytes(garbage)
      try {
        Brotli.decompress(garbage)
        decodedOk += 1 // vanishingly unlikely but legal
      } catch {
        case _: java.io.IOException => () // expected
        case _: IllegalArgumentException => () // truncated-stream require()
      }
    }
    // bit-flip corruption of real streams must also fail cleanly or
    // decode to SOMETHING without crashing (flips in literal payloads
    // legitimately decode to altered bytes)
    val payload = ("fuzz corpus payload " * 200).getBytes
    val enc = Brotli.compress(payload, 6)
    for (_ <- 0 until 300) {
      val c = enc.clone()
      val i = rnd.nextInt(c.length)
      c(i) = (c(i) ^ (1 << rnd.nextInt(8))).toByte
      try Brotli.decompress(c)
      catch {
        case _: java.io.IOException => ()
        case _: IllegalArgumentException => ()
      }
    }
  }

  test("getRemaining reports real unconsumed input (reference parity)") {
    // feed a valid stream PLUS trailing garbage in one setInput: after
    // the stream completes, the trailing bytes must be reported, not 0
    // (BroDecompressor.java:125-127 returns the real count; rounds 1-2
    // hard-coded 0).
    val payload = ("remaining-input probe " * 50).getBytes
    val enc = Brotli.compress(payload, 6)
    val trailer = new Array[Byte](97) // concatenated-stream stand-in
    val fed = enc ++ trailer
    val decomp = new graft.codec.BrotliDecompressor()
    decomp.setInput(fed, 0, fed.length)
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    var n = decomp.decompress(buf, 0, buf.length)
    while (n > 0) { out.write(buf, 0, n); n = decomp.decompress(buf, 0, buf.length) }
    assert(decomp.finished())
    assert(java.util.Arrays.equals(out.toByteArray, payload))
    assert(decomp.getRemaining == trailer.length,
      s"expected ${trailer.length} unconsumed bytes, got ${decomp.getRemaining}")
  }

  test("q11 zopfli parse round-trips adversarial shapes and beats greedy q10") {
    val rnd = new scala.util.Random(7)
    // template-heavy text: the corpus shape the DP's rep modeling targets
    val words = Array("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    val text = (0 until 4000).map { i =>
      s"record ${i % 97} status=${words(i % words.length)} " +
        s"payload ${words(rnd.nextInt(words.length))} end"
    }.mkString("\n").getBytes
    val zeros = new Array[Byte](3 << 20) // MaxCopy-clipped rep runs
    val periodic = Array.tabulate[Byte](2 << 20)(i => (i % 1023).toByte)
    val random = { val a = new Array[Byte](1 << 20); rnd.nextBytes(a); a } // no matches
    for (payload <- Seq(text, zeros, periodic, random)) {
      val enc = Brotli.compress(payload, 11)
      assert(java.util.Arrays.equals(Brotli.decompress(enc), payload),
        s"q11 round-trip failed for ${payload.length}-byte payload")
    }
    val q10 = Brotli.compress(text, 10).length
    val q11 = Brotli.compress(text, 11).length
    assert(q11 <= q10, s"max-ratio rung regressed: q11 $q11 vs q10 $q10")
  }
}
