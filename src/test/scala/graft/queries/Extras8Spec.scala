package graft.queries

import graft.SparkSpec
import graft.sources.{GraftCatalog, GraftFs}
import graft.sources.GraftManifest
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Pins the SQL CALL maintenance contract (q104) the oracle hash
  * cannot see: procedure result rows report what happened, vacuum
  * reference-counts across retained versions (restore-re-listed files
  * survive), compaction bin-packs with stats preserved and skips DV'd
  * files, and bad targets/modes fail with clear messages. */
class Extras8Spec extends SparkSpec {
  import spark.implicits._

  private def freshTable(tag: String, mod: Int = 3): (String, String) = {
    GraftCatalog.install(spark)
    val base = graft.Scratch.dir(s"x8_$tag")
    graft.Tables.load(spark, sf, "orders")
      .filter($"o_orderkey" % mod === 0)
      .select($"o_orderkey", $"o_orderstatus",
        $"o_totalprice".cast(DecimalType(18, 2)).as("price"))
      .repartitionByRange(8, $"o_orderkey")
      .write.parquet(s"$base/files-v1")
    val v1 = GraftFs.list(s"$base/files-v1")
      .filter { case (n, _, _) => n.startsWith("part-") && n.endsWith(".parquet") }
      .map(_._2).sorted
    val stats = Extras5.parquetKeyStats(v1, "o_orderkey")
    GraftManifest.commitAt(base, 1,
      v1.map(f => GraftManifest.Entry(f, stats.get(f))))
    val name = s"x8${tag}_${java.util.UUID.randomUUID().toString.take(8)}"
    GraftCatalog.register(name, base)
    (name, base)
  }

  test("CALL restore reports (restored_to, committed_version) and commits") {
    val (name, base) = freshTable("rs")
    spark.sql(s"INSERT INTO graft.$name SELECT o_orderkey + 1000000, " +
      "o_orderstatus, price FROM graft.${name} VERSION AS OF 1".replace(
        "${name}", name))
    assert(GraftManifest.latest(base) == 2)
    val r = spark.sql(s"CALL graft.system.restore('$name', 1)").head()
    assert(r.getLong(0) == 1L && r.getLong(1) == 3L)
    assert(GraftManifest.read(base, 3).entries.map(_.path) ==
      GraftManifest.read(base, 1).entries.map(_.path))
  }

  test("CALL vacuum deletes only unreferenced files; restore-listed files survive") {
    val (name, base) = freshTable("vac")
    // v2: COW delete rewrites the touched files (v1 originals die with v1)
    spark.sql(s"DELETE FROM graft.$name WHERE o_orderstatus = 'F'")
    val v1Only = GraftManifest.read(base, 1).paths.toSet --
      GraftManifest.read(base, 2).paths.toSet
    assert(v1Only.nonEmpty, "the COW delete must rewrite some files")
    val rowsV2 = spark.sql(s"SELECT COUNT(*) FROM graft.$name").head().getLong(0)
    val r = spark.sql(s"CALL graft.system.vacuum('$name', 2)").head()
    assert(r.getLong(1) == 1L, "exactly v1 expired")
    assert(r.getLong(0) == v1Only.size.toLong,
      s"deleted ${r.getLong(0)} files, expected ${v1Only.size}")
    v1Only.foreach(p => assert(!GraftFs.exists(p), s"$p must be deleted"))
    // the current snapshot is untouched
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.$name").head().getLong(0) == rowsV2)
    intercept[Exception] { GraftManifest.read(base, 1).entries }
    // refusing to expire everything
    val e = intercept[Exception] {
      spark.sql(s"CALL graft.system.vacuum('$name', 99)").collect()
    }
    def msgs(t: Throwable): String =
      if (t == null) "" else Option(t.getMessage).getOrElse("") + msgs(t.getCause)
    assert(msgs(e).contains("every version"))
  }

  test("vacuum by age: floor = snapshot current at the cutoff; pre-history cutoff no-op (r18)") {
    // Operators think in retention windows, not version numbers. The
    // floor is the version current AT the cutoff instant, so every
    // TIMESTAMP AS OF inside the window keeps resolving; everything
    // strictly older expires through the same reference-counted,
    // tag-protected vacuumRetain the version-floor path uses.
    val (name, base) = freshTable("ta")
    spark.sql(s"INSERT INTO graft.$name VALUES (111111111, 'O', " +
      "CAST(1 AS DECIMAL(18,2)))") // v2
    Thread.sleep(5) // distinct #ts millis between v2 and v3
    spark.sql(s"INSERT INTO graft.$name VALUES (222222222, 'O', " +
      "CAST(2 AS DECIMAL(18,2)))") // v3
    val ts1 = GraftManifest.commitTime(base, 1)
    val ts2 = GraftManifest.commitTime(base, 2)
    assert(ts2 < GraftManifest.commitTime(base, 3))
    val hour = 3600000L
    // cutoff predating the whole history: nothing is old enough
    assert(Extras8.vacuumRetainHours(base, 1L,
      nowMillis = ts1 - 10 + hour) == (0L, 0L))
    assert(GraftManifest.latest(base) == 3)
    // SQL surface: a huge window is the same no-op; omitting both
    // (or giving both) floors is refused
    val r = spark.sql(
      s"CALL graft.system.vacuum('$name', retain_hours => 999999)").head()
    assert(r.getLong(0) == 0L && r.getLong(1) == 0L)
    def msgs(t: Throwable): String =
      if (t == null) "" else Option(t.getMessage).getOrElse("") + msgs(t.getCause)
    val both = intercept[Exception] {
      spark.sql(s"CALL graft.system.vacuum('$name', 2, 1)").collect()
    }
    assert(msgs(both).contains("exactly one"))
    // cutoff landing ON v2's commit: the snapshot current then is v2 —
    // v1 expires, v2 (the AS-OF-cutoff read) and v3 stay
    val (_, expired) =
      Extras8.vacuumRetainHours(base, 1L, nowMillis = ts2 + hour)
    assert(expired == 1L)
    intercept[Exception] { GraftManifest.read(base, 1).entries }
    assert(GraftManifest.versionAt(base, ts2) == 2)
    GraftManifest.read(base, 2).entries.foreach(e =>
      assert(GraftFs.exists(e.path), s"${e.path} is inside the window"))
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.$name VERSION AS OF 2")
      .head().getLong(0) > 0)
  }

  test("CALL optimize zorder: fewer files on a 2-D box, DV'd carried, fresh stats (r18)") {
    GraftCatalog.install(spark)
    val base = graft.Scratch.dir("x8_zo")
    // a 128×32 grid with independent dims, 64 a-sorted slices — the
    // 1-D layout where a b-constraint prunes nothing
    val grid = spark.range(0, 4096).selectExpr(
      "id % 128 AS a", "id div 128 AS b", "id AS v")
    grid.withColumn("slice", expr("a div 2"))
      .repartition(col("slice"))
      .write.partitionBy("slice").parquet(s"$base/slices")
    val files = GraftFs.list(s"$base/slices")
      .filter { case (n, _, isDir) => isDir && n.startsWith("slice=") }
      .sortBy(_._1).flatMap { case (_, p, _) => Extras8.parts(p) }
    assert(files.size == 64)
    val aS = Extras5.parquetKeyStats(files, "a")
    val bS = Extras5.parquetKeyStats(files, "b")
    GraftManifest.commitAt(base, 1, files.map { f =>
      GraftManifest.Entry(f, aS.get(f),
        colStats = (aS.get(f).map("a" -> _) ++ bS.get(f).map("b" -> _)).toMap)
    })
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    GraftFs.writeAtomicReplace(s"$base/_props.json", m.writeValueAsBytes(
      scala.jdk.CollectionConverters.MapHasAsJava(Map(
        GraftCatalog.StatsColumnsKey -> "a,b")).asJava))
    val name = s"x8zo_${java.util.UUID.randomUUID().toString.take(8)}"
    GraftCatalog.register(name, base)
    // one MOR delete → one DV'd file (zorder must carry it untouched)
    Extras7.deleteMorOcc(spark, base, col("v") === 0)
    val dvPath = GraftManifest.read(base, 2).entries
      .filter(_.dv.isDefined).map(_.path)
    assert(dvPath.size == 1)
    def boxOpened: Int = GraftCatalog.scannedFileCount(spark.sql(
      s"SELECT * FROM graft.$name WHERE a BETWEEN 0 AND 63 " +
        "AND b BETWEEN 0 AND 7")).getOrElse(-1)
    val before = boxOpened
    assert(before == 32, s"1-D layout: the a-window alone decides, got $before")
    val total = GraftFs.lengths(files).values.sum
    val r = spark.sql(s"CALL graft.system.optimize('$name', 'zorder', " +
      s"${math.max(1L, total / 64)}, 'a,b')").head()
    assert(r.getString(0) == "zorder" && r.getLong(1) == 3L)
    val v3 = GraftManifest.read(base, 3).entries
    // the DV'd file carried with its DV; every rewritten file is new
    assert(v3.filter(_.dv.isDefined).map(_.path) == dvPath)
    val rewritten = v3.filter(_.dv.isEmpty)
    assert(rewritten.forall(e => !files.contains(e.path)))
    // fresh two-column stats on every output (pruning's fuel)
    assert(rewritten.forall(e => e.colStats.contains("a") &&
      e.colStats.contains("b")), "zorder outputs must carry fresh 2-D stats")
    // the same box through the same catalog scan opens strictly fewer
    val after = boxOpened
    assert(after > 0 && after < before,
      s"zorder must make the 2-D box cheaper: $after !< $before")
    // content identical (one MOR-deleted row stays deleted)
    val t = spark.sql(s"SELECT COUNT(*) AS n, SUM(v) AS s FROM graft.$name").head()
    assert(t.getLong(0) == 4095L && t.getLong(1) == 4096L * 4095 / 2)
  }

  test("zorder on a partitioned table rewrites per tuple group — attribution survives (r18)") {
    GraftCatalog.install(spark)
    val base = graft.Scratch.dir("x8_zop")
    val name = s"x8zop_${java.util.UUID.randomUUID().toString.take(8)}"
    spark.sql(s"CREATE TABLE graft.$name (k BIGINT, x BIGINT, s STRING) " +
      s"PARTITIONED BY (s) LOCATION '$base' " +
      "TBLPROPERTIES ('graft.stats.columns'='k,x')")
    spark.sql(s"INSERT INTO graft.$name SELECT id, id * 7 % 1000, " +
      "CASE WHEN id % 2 = 0 THEN 'even' ELSE 'odd' END FROM range(0, 2000)")
    val r = spark.sql(s"CALL graft.system.optimize('$name', 'zorder', " +
      s"${64L * 1024 * 1024}, 'k,x')").head()
    assert(!r.isNullAt(1))
    val entries = GraftManifest.read(base, r.getLong(1).toInt).entries
    assert(entries.nonEmpty)
    // every output keeps its partition tuple — a later INSERT OVERWRITE
    // PARTITION still attributes the rewritten files
    assert(entries.forall(_.partValues.get("s").exists(
      v => v == "even" || v == "odd")),
      s"zorder outputs lost partition attribution: $entries")
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.$name WHERE s = 'even'")
      .head().getLong(0) == 1000L)
  }

  test("CALL optimize('t','compact') bin-packs small files, preserves stats, skips DV'd") {
    val (name, base) = freshTable("cp")
    // one file gets a DV: compaction must leave it alone
    Extras7.deleteMorOcc(spark, base,
      col("o_orderkey") === spark.sql(
        s"SELECT MIN(o_orderkey) FROM graft.$name").head().getLong(0))
    val v2 = GraftManifest.read(base, 2).entries
    val dvd = v2.filter(_.dv.isDefined).map(_.path)
    assert(dvd.size == 1)
    val rows = spark.sql(s"SELECT COUNT(*) FROM graft.$name").head().getLong(0)
    val r = spark.sql(
      s"CALL graft.system.optimize('$name', 'compact', ${64L * 1024 * 1024})").head()
    assert(r.getString(0) == "compact" && r.getLong(1) == 3L)
    val v3 = GraftManifest.read(base, 3).entries
    // the 7 small DV-less files packed into one; the DV'd file carried
    assert(v3.size == 2, s"expected DV'd + 1 compacted, got ${v3.size}")
    assert(v3.exists(e => dvd.contains(e.path) && e.dv.isDefined))
    val packed = v3.filterNot(e => dvd.contains(e.path)).head
    assert(packed.stats.isDefined, "compacted output keeps union stats")
    val inputStats = v2.filterNot(_.dv.isDefined).flatMap(_.stats)
    assert(packed.stats.contains(
      (inputStats.map(_._1).min, inputStats.map(_._2).max)))
    // rows identical (compaction is layout-only)
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.$name").head().getLong(0) == rows)
    // nothing left to compact: no-op returns the current version
    val r2 = spark.sql(
      s"CALL graft.system.optimize('$name', 'compact', ${64L * 1024 * 1024})").head()
    assert(r2.getLong(1) == 3L, "no multi-file bin: no new commit")
  }

  test("compact executes as ONE job regardless of bin count (r17)") {
    GraftCatalog.install(spark)
    val base = graft.Scratch.dir("x8_onejob")
    graft.Tables.load(spark, sf, "orders")
      .select($"o_orderkey", $"o_totalprice".cast(DecimalType(18, 2)).as("price"))
      .repartition(18, $"o_orderkey")
      .write.parquet(s"$base/files-v1")
    val v1 = GraftFs.list(s"$base/files-v1")
      .filter { case (n, _, _) => n.startsWith("part-") && n.endsWith(".parquet") }
      .map(_._2).sorted
    val stats = Extras5.parquetKeyStats(v1, "o_orderkey")
    GraftManifest.commitAt(base, 1,
      v1.map(f => GraftManifest.Entry(f, stats.get(f))))
    val rows = spark.read.parquet(v1: _*).count()
    // target ≈ 3 files per bin → ~4 multi-file bins
    val target = GraftFs.lengths(v1).values.max * 3 + 1
    spark.sparkContext.setJobGroup("x8_onejob", "compact", false)
    val committed =
      try Extras8.compactSmallFiles(spark, base, target)
      finally spark.sparkContext.clearJobGroup()
    assert(committed.contains(2))
    val v2 = GraftManifest.read(base, 2).entries
    val nBins = v2.size
    assert(nBins >= 6 && nBins < v1.size,
      s"expected a multi-bin layout, got $nBins bins from ${v1.size} files")
    // one output per bin, union stats preserved, rows identical
    assert(v2.forall(_.stats.isDefined))
    assert(spark.read.parquet(v2.map(_.path): _*).count() == rows)
    // the execution is O(1) jobs, not O(bins): broadcast build +
    // shuffle stage(s) + write — never a job per bin
    val jobs = spark.sparkContext.statusTracker
      .getJobIdsForGroup("x8_onejob").length
    assert(jobs > 0 && jobs < nBins && jobs <= 5,
      s"compaction ran $jobs jobs for $nBins bins — must be one " +
        "tag-shuffle-write job, not a job per bin")
  }

  test("CALL optimize purge (default mode) folds DVs; bad mode/table error clearly") {
    val (name, base) = freshTable("pg")
    Extras7.deleteMorOcc(spark, base, col("o_orderstatus") === "F")
    assert(GraftManifest.read(base, 2).entries.exists(_.dv.isDefined))
    val rows = spark.sql(s"SELECT COUNT(*) FROM graft.$name").head().getLong(0)
    val r = spark.sql(s"CALL graft.system.optimize('$name')").head()
    assert(r.getString(0) == "purge" && r.getLong(1) == 3L)
    assert(GraftManifest.read(base, 3).entries.forall(_.dv.isEmpty))
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.$name").head().getLong(0) == rows)
    def msgs(t: Throwable): String =
      if (t == null) "" else Option(t.getMessage).getOrElse("") + msgs(t.getCause)
    val badMode = intercept[Exception] {
      spark.sql(s"CALL graft.system.optimize('$name', 'defrag')").collect()
    }
    assert(msgs(badMode).contains("purge"))
    val badTable = intercept[Exception] {
      spark.sql("CALL graft.system.vacuum('no_such_table_xyz', 1)").collect()
    }
    assert(msgs(badTable).contains("not found"))
    val badProc = intercept[Exception] {
      spark.sql(s"CALL graft.system.frobnicate('$name')").collect()
    }
    assert(msgs(badProc).contains("no procedure"))
  }

  test("type widening rewrites nothing; lossy retypes stay refused (q105)") {
    val (name, base) = Extras8.q105Build(spark, sf)
    // the ALTERs are metadata-only COMMITS (r17 — schema rides the
    // protocol): v3/v4 re-list v2's entries verbatim, rewrite no file,
    // and the final insert lands at v5
    val v2 = GraftManifest.read(base, 2).entries
    assert(GraftManifest.latest(base) == 5)
    assert(GraftManifest.read(base, 3).entries.map(_.path) == v2.map(_.path))
    assert(GraftManifest.read(base, 4).entries.map(_.path) == v2.map(_.path))
    assert(GraftManifest.read(base, 5).entries.map(_.path)
      .toSet.intersect(v2.map(_.path).toSet) == v2.map(_.path).toSet,
      "widening must not rewrite existing files")
    // both physical generations carry key stats (int widened at track)
    assert(GraftManifest.read(base, 5).entries.forall(_.stats.isDefined))
    // the pre-widening snapshot reads NARROW (its own schema)
    import org.apache.spark.sql.types.{IntegerType, DecimalType}
    val preWiden = spark.sql(s"SELECT * FROM graft.$name VERSION AS OF 2")
    assert(preWiden.schema("o_orderkey").dataType == IntegerType)
    assert(preWiden.schema("price").dataType == DecimalType(12, 2))
    // ...and the post-widening snapshot wide
    assert(spark.table(s"graft.$name").schema("o_orderkey").dataType ==
      org.apache.spark.sql.types.LongType)
    // the narrow-file read upcasts: values identical to the narrow read
    val narrow = spark.read.parquet(v2.map(_.path): _*)
      .agg(sum(col("o_orderkey").cast("long"))).head().getLong(0)
    assert(spark.sql(
      s"SELECT SUM(o_orderkey) FROM graft.$name VERSION AS OF 2")
      .head().getLong(0) == narrow)
    // key predicates stay exact across the mixed physical types: the
    // widened-range rows are exactly the post-ALTER insert
    val full = spark.sql(s"SELECT COUNT(*) FROM graft.$name").head().getLong(0)
    val old = spark.sql(s"SELECT COUNT(*) FROM graft.$name VERSION AS OF 2")
      .head().getLong(0)
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.$name " +
      "WHERE o_orderkey > 10000000000").head().getLong(0) == full - old)
    // refusals, both layers: a LOSSY retype dies in Spark's analyzer
    // (canUpCast gate) before reaching the catalog...
    def msgs(t: Throwable): String =
      if (t == null) "" else Option(t.getMessage).getOrElse("") + msgs(t.getCause)
    val lossy = intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.$name ALTER COLUMN o_orderkey TYPE INT")
    }
    assert(msgs(lossy).contains("NOT_SUPPORTED_CHANGE_COLUMN"))
    // ...and an upcast the analyzer allows but our decode ladder does
    // not (INT→DOUBLE crosses the int/float families) is refused by
    // the catalog with the allowed ladder in the message
    spark.sql(s"ALTER TABLE graft.$name ADD COLUMN j INT")
    val unsupported = intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.$name ALTER COLUMN j TYPE DOUBLE")
    }
    assert(msgs(unsupported).contains("safe widenings only"))
  }

  test("tags: immutable CAS, vacuum protection, drop re-exposes (q106)") {
    val (name, base) = Extras8.q106Build(spark, sf)
    def msgs(t: Throwable): String =
      if (t == null) "" else Option(t.getMessage).getOrElse("") + msgs(t.getCause)
    // the vacuum expired exactly the untagged v2 and deleted only its
    // superseded originals (v1's files survive via the tag AND via v3)
    intercept[Exception] { GraftManifest.read(base, 2).entries }
    assert(GraftManifest.read(base, 1).entries.nonEmpty, "tagged v1 resolves")
    GraftManifest.read(base, 1).entries.foreach(e =>
      assert(GraftFs.exists(e.path), s"tag-protected file deleted: ${e.path}"))
    // tag-addressed read == version-addressed read
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.$name VERSION AS OF 'initial'")
      .head().getLong(0) ==
      spark.sql(s"SELECT COUNT(*) FROM graft.$name VERSION AS OF 1")
        .head().getLong(0))
    // the graft.<t>.tags metadata table lists the ref with its
    // target's commit timestamp
    val tagRows = spark.sql(
      s"SELECT tag, version, ts_millis FROM graft.$name.tags").collect()
    assert(tagRows.length == 1 && tagRows.head.getString(0) == "initial" &&
      tagRows.head.getLong(1) == 1L &&
      tagRows.head.getLong(2) == GraftManifest.commitTime(base, 1))
    // tags are immutable: duplicate create fails with one winner
    val dup = intercept[Exception] {
      spark.sql(s"CALL graft.system.create_tag('$name', 'initial', 3)").collect()
    }
    assert(msgs(dup).contains("already exists"))
    // unknown tags name the available ones
    val unk = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft.$name VERSION AS OF 'nope'").collect()
    }
    assert(msgs(unk).contains("no such tag") && msgs(unk).contains("initial"))
    // numeric tag names are refused (they would shadow version numbers)
    val num = intercept[Exception] {
      spark.sql(s"CALL graft.system.create_tag('$name', '7', 1)").collect()
    }
    assert(msgs(num).contains("non-numeric"))
    // drop re-exposes the version to retention: the next vacuum expires v1
    assert(spark.sql(s"CALL graft.system.drop_tag('$name', 'initial')")
      .head().getBoolean(0))
    spark.sql(s"CALL graft.system.vacuum('$name', 3)")
    intercept[Exception] { GraftManifest.read(base, 1).entries }
    // but files v3 still references survive the expiry (refcount)
    GraftManifest.read(base, 3).entries.foreach(e =>
      assert(GraftFs.exists(e.path)))
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.$name").head().getLong(0) > 0)
  }

  test("vacuum with a floor above latest refuses even when an older version is tagged") {
    // r16 ADVICE: a tagged older version used to satisfy the
    // retained-nonEmpty guard while the HEAD manifest was deleted —
    // the table silently rolled back to the tag
    val (name, base) = freshTable("hd")
    spark.sql(s"CALL graft.system.create_tag('$name', 'keep', 1)")
    spark.sql(s"INSERT INTO graft.$name VALUES (999999999, 'O', " +
      "CAST(1 AS DECIMAL(18,2)))") // v2 = HEAD
    val headRows = spark.sql(s"SELECT COUNT(*) FROM graft.$name")
      .head().getLong(0)
    def msgs(t: Throwable): String =
      if (t == null) "" else Option(t.getMessage).getOrElse("") + msgs(t.getCause)
    val e = intercept[Exception] {
      spark.sql(s"CALL graft.system.vacuum('$name', 99)").collect()
    }
    assert(msgs(e).contains("every version"))
    // HEAD untouched: v2 still the current version with all its rows
    assert(GraftManifest.latest(base) == 2)
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.$name")
      .head().getLong(0) == headRows)
  }

  test("traversal-shaped tag names are rejected at create/drop/resolve") {
    val (name, base) = freshTable("tn")
    def msgs(t: Throwable): String =
      if (t == null) "" else Option(t.getMessage).getOrElse("") + msgs(t.getCause)
    Seq("../escape", "a/b", "a\\b", "", "x y").foreach { bad =>
      val e = intercept[Exception] {
        spark.sql(s"CALL graft.system.create_tag('$name', " +
          s"'${bad.replace("\\", "\\\\")}', 1)").collect()
      }
      assert(msgs(e).contains("tag name"), s"'$bad' must be refused")
      assert(!Extras8.dropTag(base, bad), s"dropTag('$bad') must be a no-op")
      assert(Extras8.resolveTag(base, bad).isEmpty)
    }
    // nothing escaped _refs/: the table dir has no stray artifacts and
    // a traversal-shaped VERSION AS OF errors as an unknown tag
    assert(!GraftFs.exists(s"$base/escape.txt"))
    val unk = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft.$name VERSION AS OF '../escape'").collect()
    }
    assert(msgs(unk).contains("no such tag"))
  }
}
