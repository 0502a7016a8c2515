package graft.sources

/** The `graft` table log: the manifest format and the one optimistic
  * commit protocol every writer goes through (the MVCC core of
  * Iceberg/Delta, built on immutable data files plus one text manifest
  * per version).
  *
  * A table root `base` holds `_manifests/v<N>.txt`, one per committed
  * version. A manifest is `#key\tvalue` header lines followed by one
  * line per live data file (see `render` for the line forms). Readers
  * resolve a VERSION to its manifest and scan exactly those files, so
  * reading an old version after later commits still returns its rows.
  *
  * Writers publish the next version with `GraftFs.putIfAbsent`'s
  * per-scheme atomic no-overwrite primitive (hard link locally,
  * rename-NONE on HDFS; see GraftFs for the object-store contract): a
  * reader never sees a partial manifest, and of two writers racing to
  * `v{n+1}` exactly one wins. `commit` is the retry loop around that
  * CAS: resolve the latest snapshot, let the caller check conflicts and
  * rebase onto it, publish at `latest + 1`, repeat on a lost race.
  */
private[graft] object GraftManifest {

  /** Commit attempts (lost CAS races included) before `commit` gives up. */
  val MaxAttempts = 10

  /** One manifest entry: an immutable data file, its optional committed
    * key-column (min, max), and an optional DELETION VECTOR — a sidecar
    * of row POSITIONS within the file that are logically deleted
    * (merge-on-read DELETE: the file is untouched, readers skip the
    * listed ordinals). A DV change is a new logical version of the
    * file, so commit-conflict identity is (path, dv), never path alone
    * — two writers disagreeing about a file's live rows must conflict
    * even though neither touched its bytes. `colStats` are per-column
    * (min, max) keyed by PHYSICAL column name (stable across RENAME
    * evolution); `partValues` are the partition spec's transform
    * outputs rendered canonically (a null value is a NULL tuple). */
  case class Entry(path: String,
      stats: Option[(Long, Long)] = None, dv: Option[String] = None,
      colStats: Map[String, (Long, Long)] = Map.empty,
      partValues: Map[String, String] = Map.empty) {
    /** Conflict identity for OCC checks: path + the DV generation. */
    def identity: String = dv.fold(path)(d => path + "\u0000" + d)
  }

  /** One committed version, headers and entries from a single read.
    * Version 0 is the empty table before its first commit. */
  final case class Snapshot(version: Int, headers: Map[String, String],
      entries: Seq[Entry]) {
    def paths: Seq[String] = entries.map(_.path)

    /** Files whose committed key [min, max] intersects [lo, hi]; files
      * committed without stats are kept (pruning is never unsound). */
    def pruned(lo: Long, hi: Long): Seq[String] = entries.collect {
      case Entry(f, None, _, _, _) => f
      case Entry(f, Some((mn, mx)), _, _, _) if mx >= lo && mn <= hi => f
    }
  }

  private val VersionFile = "^v(\\d+)\\.txt$".r

  private[graft] def fileOf(base: String, version: Int): String =
    s"$base/_manifests/v$version.txt"

  /** Whether `base` holds a table log at all. */
  def exists(base: String): Boolean = GraftFs.isDirectory(s"$base/_manifests")

  /** Still-resolvable versions, ascending (O(#versions) listing). */
  def versions(base: String): Seq[Int] =
    GraftFs.listNames(s"$base/_manifests")
      .flatMap(n => VersionFile.findFirstMatchIn(n).map(_.group(1).toInt))
      .sorted

  def latest(base: String): Int = versions(base).lastOption.getOrElse(0)

  /** Parses `version`'s manifest; throws NoSuchFileException when the
    * version was never committed or has been expired. */
  def read(base: String, version: Int): Snapshot =
    parse(version, GraftFs.readString(fileOf(base, version)))

  /** The latest snapshot (version 0, empty, before the first commit). */
  def resolve(base: String): Snapshot = latest(base) match {
    case 0 => Snapshot(0, Map.empty, Seq.empty)
    case v => read(base, v)
  }

  /** Commit timestamp (epoch millis): the `#ts` header when the commit
    * recorded one, else the manifest file's mtime (pre-header manifests
    * — the fallback keeps TIMESTAMP AS OF total over old tables). */
  def commitTime(base: String, s: Snapshot): Long =
    s.headers.get("ts").map(_.toLong)
      .getOrElse(GraftFs.mtime(fileOf(base, s.version)))

  def commitTime(base: String, version: Int): Long =
    commitTime(base, read(base, version))

  /** TIMESTAMP AS OF resolution: the LATEST version committed at or
    * before `tsMillis` (Delta/Iceberg's timestamp→snapshot rule).
    * Errors when the timestamp predates the first available commit —
    * naming the earliest, so the caller can rephrase. */
  def versionAt(base: String, tsMillis: Long): Int = {
    val vs = versions(base)
    if (vs.isEmpty) throw new IllegalStateException(s"no commits under $base")
    val stamped = vs.map(v => v -> commitTime(base, v))
    stamped.filter(_._2 <= tsMillis).map(_._1).maxOption.getOrElse(
      throw new IllegalArgumentException(
        s"timestamp $tsMillis predates the table's history: earliest " +
          s"commit is v${stamped.head._1} at ${stamped.head._2}"))
  }

  /** Deletes an expired version's manifest (vacuum). */
  def expire(base: String, version: Int): Unit =
    GraftFs.deleteIfExists(fileOf(base, version))

  // -------------------------------------------------------------------
  // Format
  // -------------------------------------------------------------------

  private def enc(s: String): String = java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String): String = java.net.URLDecoder.decode(s, "UTF-8")

  /** A manifest's text: `#key\tvalue` headers in the given order, then
    * one line per entry sorted by path. Entry line forms (tab-separated;
    * `-` placeholders keep the arity-dispatched parser unambiguous):
    *  - `path` — no stats, no DV;
    *  - `path lo hi` — key-column stats;
    *  - `path lo hi dv` — with a deletion vector (`- -` without stats);
    *  - `path lo hi dv colStats` — per-column stats, `name=lo:hi;...`
    *    with URL-encoded names so `=:;`, tabs and newlines never
    *    collide with a column name;
    *  - `path lo hi dv colStats partValues` — partitioned tables,
    *    `key=v<value>;...` both sides URL-encoded, `key=` alone for a
    *    NULL value. */
  private def render(headers: Seq[(String, String)],
      entries: Seq[Entry]): String = {
    def colStats(cs: Map[String, (Long, Long)]): String =
      cs.toSeq.sortBy(_._1).map { case (c, (lo, hi)) => s"${enc(c)}=$lo:$hi" }
        .mkString(";")
    def partValues(pv: Map[String, String]): String =
      pv.toSeq.sortBy(_._1).map { case (k, v) =>
        if (v == null) s"${enc(k)}=" else s"${enc(k)}=v${enc(v)}"
      }.mkString(";")
    (headers.map { case (k, v) => s"#$k\t$v" } ++
      entries.sortBy(_.path).map { e =>
        val ks = e.stats.map { case (lo, hi) => s"$lo\t$hi" }.getOrElse("-\t-")
        val dv = e.dv.getOrElse("-")
        if (e.partValues.nonEmpty)
          s"${e.path}\t$ks\t$dv\t" +
            s"${if (e.colStats.nonEmpty) colStats(e.colStats) else "-"}\t" +
            partValues(e.partValues)
        else if (e.colStats.nonEmpty) s"${e.path}\t$ks\t$dv\t${colStats(e.colStats)}"
        else (e.stats, e.dv) match {
          case (None, None) => e.path
          case (_, None) => s"${e.path}\t$ks"
          case (_, Some(d)) => s"${e.path}\t$ks\t$d"
        }
      }).mkString("\n")
  }

  /** Inverse of `render`. Unparseable stats fields are dropped, never
    * guessed. */
  private def parse(version: Int, text: String): Snapshot = {
    def fields(s: String): Iterator[Array[String]] =
      if (s == "-" || s.isEmpty) Iterator.empty
      else s.split(";").iterator.map(_.split("=", 2)).filter(_.length == 2)
    def colStats(s: String): Map[String, (Long, Long)] =
      fields(s).flatMap { case Array(c, v) => v.split(":", 2) match {
        case Array(lo, hi) => Some(dec(c) -> (lo.toLong, hi.toLong))
        case _ => None
      }}.toMap
    def partValues(s: String): Map[String, String] =
      fields(s).collect {
        case Array(k, "") => dec(k) -> null
        case Array(k, v) if v.startsWith("v") => dec(k) -> dec(v.drop(1))
      }.toMap
    def stats(lo: String, hi: String): Option[(Long, Long)] =
      if (lo == "-") None else Some((lo.toLong, hi.toLong))
    def dv(d: String): Option[String] = if (d == "-") None else Some(d)
    val (hdr, body) = text.split("\n").toSeq.filter(_.nonEmpty)
      .partition(_.startsWith("#"))
    val headers = hdr.flatMap { line =>
      line.drop(1).split("\t", 2) match {
        case Array(k, v) => Some(k -> v)
        case _ => None
      }
    }.toMap
    Snapshot(version, headers, body.map { line =>
      line.split("\t") match {
        case Array(f, lo, hi) => Entry(f, stats(lo, hi))
        case Array(f, lo, hi, d) => Entry(f, stats(lo, hi), Some(d))
        case Array(f, lo, hi, d, cs) => Entry(f, stats(lo, hi), dv(d), colStats(cs))
        case Array(f, lo, hi, d, cs, pv) =>
          Entry(f, stats(lo, hi), dv(d), colStats(cs), partValues(pv))
        case _ => Entry(line)
      }
    })
  }

  // -------------------------------------------------------------------
  // Writing
  // -------------------------------------------------------------------

  /** Publishes `entries` as manifest `v$version` — one CAS; false when
    * another writer already holds that version. Every commit records
    * `ts` (epoch millis; pass it to pin a deterministic fixture), and
    * the `#schema`/`#props` headers CARRY FORWARD from `previous` (the
    * headers of `v${version - 1}`) unless the caller supplies new ones,
    * so every version of a catalog table is self-describing. Headers
    * ride INSIDE the manifest so the atomic publish covers them. */
  private def write(base: String, version: Int, entries: Seq[Entry],
      headers: Seq[(String, String)], previous: Map[String, String]): Boolean = {
    val stamped = if (headers.exists(_._1 == "ts")) headers
      else ("ts" -> System.currentTimeMillis.toString) +: headers
    val carried = if (version <= 1) Seq.empty
      else Seq(GraftSchemas.Header, GraftProps.Header)
        .filterNot(k => stamped.exists(_._1 == k))
        .flatMap(k => previous.get(k).map(k -> _))
    GraftFs.putIfAbsent(fileOf(base, version),
      render(stamped ++ carried, entries).getBytes("UTF-8"))
  }

  /** One CAS at an explicit version (CREATE's v1, fixture builds);
    * headers carry forward from `v${version - 1}` when it exists. */
  def publish(base: String, version: Int, entries: Seq[Entry],
      headers: Seq[(String, String)] = Seq.empty): Boolean = {
    val previous =
      if (version <= 1) Map.empty[String, String]
      else try read(base, version - 1).headers
      catch { case _: java.nio.file.NoSuchFileException => Map.empty[String, String] }
    write(base, version, entries, headers, previous)
  }

  /** Single-writer commit (fixture builds): losing the CAS is a bug. */
  def commitAt(base: String, version: Int, entries: Seq[Entry],
      headers: Seq[(String, String)] = Seq.empty): Unit =
    if (!publish(base, version, entries, headers))
      throw new IllegalStateException(
        s"concurrent commit detected: $base v$version already exists " +
          "(multi-writer paths commit through GraftManifest.commit)")

  /** What one attempt of `commit` publishes at `latest + 1`; `onLost`
    * runs when the CAS loses (drop this attempt's staged sidecars). */
  final case class Publish(entries: Seq[Entry],
      headers: Seq[(String, String)] = Seq.empty,
      onLost: () => Unit = () => ())

  /** `version` is the committed version when `published`, else the
    * snapshot the caller stopped at (or the last one tried). */
  final case class Result(version: Int, published: Boolean)

  /** The optimistic commit loop — the one path every multi-writer
    * commit takes. Each attempt resolves the latest snapshot once and
    * hands it to `attempt`, which checks it for conflicts (throwing, or
    * returning None to commit nothing) and returns the rebased
    * `Publish`; the loop publishes at `latest + 1` and, on a lost CAS,
    * runs `onLost` and tries again. After `MaxAttempts` lost races it
    * runs `gaveUp` (throw, or clean up and abandon). `known` is a
    * snapshot the caller already read: when it is still the latest, the
    * first attempt reuses it instead of reading the manifest again
    * (manifests are immutable, so a held snapshot of the latest version
    * is exact). */
  def commit(base: String, gaveUp: => Unit, known: Option[Snapshot] = None)(
      attempt: Snapshot => Option[Publish]): Result = {
    var reuse = known
    var tried = 0
    var snap: Snapshot = null
    while (tried < MaxAttempts) {
      tried += 1
      val v = latest(base)
      snap = reuse.filter(_.version == v).getOrElse(
        if (v == 0) Snapshot(0, Map.empty, Seq.empty) else read(base, v))
      reuse = None
      attempt(snap) match {
        case None => return Result(snap.version, published = false)
        case Some(p) =>
          if (write(base, v + 1, p.entries, p.headers, snap.headers))
            return Result(v + 1, published = true)
          p.onLost()
      }
    }
    gaveUp
    Result(snap.version, published = false)
  }
}
