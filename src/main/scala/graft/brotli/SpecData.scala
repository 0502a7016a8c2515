package graft.brotli

import java.io.IOException

/** RFC 7932 specification data embedded as resources: the static
  * dictionary (Appendix A), the word transforms (Appendix B), and the
  * literal-context lookup tables (§7.1). The resource files are flat
  * dumps of the RFC's published data (extracted by
  * `tools/dump_brotli_tables.c`; see that file for provenance).
  */
object SpecData {

  private def resource(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(s"/graft/brotli/$name")
    if (in == null) throw new IOException(s"missing resource graft/brotli/$name")
    try {
      val out = new java.io.ByteArrayOutputStream(1 << 17)
      val buf = new Array[Byte](1 << 16)
      var n = in.read(buf)
      while (n > 0) { out.write(buf, 0, n); n = in.read(buf) }
      out.toByteArray
    } finally in.close()
  }

  private def u16(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)
  private def u32(b: Array[Byte], off: Int): Int =
    u16(b, off) | (u16(b, off + 2) << 16)

  /** Static dictionary (§8): words of length 4..24, 2^sizeBits(len) words
    * per length, stored back to back at offsets(len). */
  object Dictionary {
    private val raw = resource("dictionary.bin")
    val sizeBits: Array[Int] = Array.tabulate(32)(i => raw(i) & 0xff)
    val offsets: Array[Int] = Array.tabulate(32)(i => u32(raw, 32 + 4 * i))
    val dataSize: Int = u32(raw, 160)
    val data: Array[Byte] = java.util.Arrays.copyOfRange(raw, 164, 164 + dataSize)
    require(dataSize == 122784, s"bad dictionary resource: $dataSize")

    def word(len: Int, index: Int): Array[Byte] = {
      val off = offsets(len) + index * len
      java.util.Arrays.copyOfRange(data, off, off + len)
    }
  }

  /** The 121 word transforms (§8): prefix ++ transform(word) ++ suffix.
    * Transform types: 0 identity, 1..9 omit-last-N, 10 ferment-first,
    * 11 ferment-all, 12..20 omit-first-N. */
  object Transforms {
    private val raw = resource("transforms.bin")
    private val prefixSuffixSize = u16(raw, 0)
    private val blob = java.util.Arrays.copyOfRange(raw, 2, 2 + prefixSuffixSize)
    private val mapN = u16(raw, 2 + prefixSuffixSize)
    private val map = Array.tabulate(mapN)(i => u16(raw, 4 + prefixSuffixSize + 2 * i))
    val count: Int = u32(raw, 4 + prefixSuffixSize + 2 * mapN)
    private val triples =
      java.util.Arrays.copyOfRange(raw, 8 + prefixSuffixSize + 2 * mapN,
        8 + prefixSuffixSize + 2 * mapN + 3 * count)
    require(count == 121, s"bad transforms resource: $count")

    // strings in the blob are length-prefixed: blob(map(id)) = length
    private def str(id: Int): Array[Byte] = {
      val off = map(id)
      val len = blob(off) & 0xff
      java.util.Arrays.copyOfRange(blob, off + 1, off + 1 + len)
    }
    private val prefixes = Array.tabulate(count)(t => str(triples(3 * t) & 0xff))
    private val types = Array.tabulate(count)(t => triples(3 * t + 1) & 0xff)
    private val suffixes = Array.tabulate(count)(t => str(triples(3 * t + 2) & 0xff))

    /** §8 "ferment" (uppercase-ish) step at position i; returns the
      * number of bytes consumed (UTF-8 aware per the RFC's rule). */
    private def ferment(w: Array[Byte], i: Int): Int = {
      val b = w(i) & 0xff
      if (b < 192) {
        if (b >= 97 && b <= 122) w(i) = (b ^ 32).toByte
        1
      } else if (b < 224) {
        if (i + 1 < w.length) w(i + 1) = (w(i + 1) ^ 32).toByte
        2
      } else {
        if (i + 2 < w.length) w(i + 2) = (w(i + 2) ^ 5).toByte
        3
      }
    }

    /** Apply transform t to a dictionary word; returns the output bytes. */
    def apply(t: Int, word: Array[Byte]): Array[Byte] = {
      val ty = types(t)
      var w = word
      if (ty >= 12) { // omit first N
        val n = ty - 11
        w = if (n >= w.length) Array.emptyByteArray
          else java.util.Arrays.copyOfRange(w, n, w.length)
      } else if (ty >= 1 && ty <= 9) { // omit last N
        w = if (ty >= w.length) Array.emptyByteArray
          else java.util.Arrays.copyOfRange(w, 0, w.length - ty)
      } else if (ty == 10 || ty == 11) {
        w = w.clone()
        if (ty == 10) { if (w.nonEmpty) ferment(w, 0) }
        else { var i = 0; while (i < w.length) i += ferment(w, i) }
      }
      val p = prefixes(t); val s = suffixes(t)
      val out = new Array[Byte](p.length + w.length + s.length)
      System.arraycopy(p, 0, out, 0, p.length)
      System.arraycopy(w, 0, out, p.length, w.length)
      System.arraycopy(s, 0, out, p.length + w.length, s.length)
      out
    }

    /** (transform id, prefix, suffix) for every transform whose output
      * embeds the UNCHANGED word — the encoder-matchable set beyond
      * plain identity (47 of the 121: ' w ', 'w ', ', w ', 'w. ', …).
      * Probed through [[apply]] with a lowercase word (ferment
      * transforms change it and drop out; omit-N transforms shrink it),
      * so no assumption about table ordering is baked in. */
    lazy val identityAffixes: Array[(Int, Array[Byte], Array[Byte])] = {
      val probe = "abcdef".getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
      (0 until count).flatMap { t =>
        val out = apply(t, probe)
        val hit = (0 to out.length - probe.length).find(k =>
          java.util.Arrays.equals(out, k, k + probe.length, probe, 0, probe.length))
        hit match {
          case Some(k) if out.length > probe.length =>
            Some((t, java.util.Arrays.copyOfRange(out, 0, k),
              java.util.Arrays.copyOfRange(out, k + probe.length, out.length)))
          case _ => None
        }
      }.toArray
    }

    /** (transform id, prefix, suffix) for every transform whose output
      * embeds the word with its FIRST letter uppercased (ferment-first)
      * — how sentence-initial capitalized words reach the all-lowercase
      * dictionary ("The" = ferment_first("the")). Probed like
      * [[identityAffixes]]. */
    lazy val fermentFirstAffixes: Array[(Int, Array[Byte], Array[Byte])] = {
      val probe = "abcdef".getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
      val fp = probe.clone()
      fp(0) = (fp(0) ^ 32).toByte // "Abcdef"
      (0 until count).flatMap { t =>
        val out = apply(t, probe)
        val hit = (0 to out.length - fp.length).find(k =>
          java.util.Arrays.equals(out, k, k + fp.length, fp, 0, fp.length))
        hit.map { k =>
          (t, java.util.Arrays.copyOfRange(out, 0, k),
            java.util.Arrays.copyOfRange(out, k + fp.length, out.length))
        }
      }.toArray
    }
  }

  /** Literal context lookup tables (§7.1): 4 modes × (256-entry p1 LUT ++
    * 256-entry p2 LUT); ContextID = lut(mode)(p1) | lut(mode)(256+p2). */
  val ContextLut: Array[Int] = {
    val raw = resource("context.bin")
    require(raw.length == 2048, s"bad context resource: ${raw.length}")
    Array.tabulate(2048)(i => raw(i) & 0xff)
  }
}
