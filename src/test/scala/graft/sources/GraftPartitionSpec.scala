package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Pins the partition-transform contract (q108) the oracle hash cannot
  * see: one file per partition tuple per job (fan-out under the
  * clustered distribution), partition values in the MANIFEST (no
  * directory coupling), exact partition-pruned file counts through the
  * catalog scan, static and dynamic partition overwrite semantics,
  * days() transforms with range pruning, null-partition soundness, and
  * the evolution refusals on partition columns. */
class GraftPartitionSpec extends SparkSpec {
  import spark.implicits._

  private def opened(sql: String): Option[Int] =
    GraftCatalog.scannedFileCount(spark.sql(sql))

  test("identity partitioning: fan-out one file per tuple, manifest carries values, exact pruning") {
    GraftCatalog.install(spark)
    val base = graft.Scratch.dir("ptspec_id")
    val name = s"pt_${java.util.UUID.randomUUID().toString.take(8)}"
    spark.sql(s"CREATE TABLE graft.$name (o_orderkey BIGINT, " +
      "o_orderstatus STRING, price DECIMAL(18,2)) " +
      s"PARTITIONED BY (o_orderstatus) LOCATION '$base'")
    assert(spark.table(s"graft.$name").queryExecution.analyzed.toString
      != null) // resolves
    graft.Tables.load(spark, sf, "orders")
      .filter($"o_orderkey" % 3 === 0)
      .select($"o_orderkey", $"o_orderstatus",
        $"o_totalprice".cast(DecimalType(18, 2)).as("price"))
      .createOrReplaceTempView(s"src_$name")
    spark.sql(s"INSERT INTO graft.$name SELECT * FROM src_$name")
    val statuses = spark.sql(s"SELECT DISTINCT o_orderstatus FROM src_$name")
      .as[String].collect().toSet
    val entries = GraftManifest.read(base, 2).entries
    // ONE file per tuple for the whole job, not per task
    assert(entries.size == statuses.size,
      s"expected ${statuses.size} files (one per partition), got " +
        s"${entries.map(_.path)}")
    assert(entries.map(_.partValues).toSet ==
      statuses.map(v => Map("o_orderstatus" -> v)))
    // stats still tracked alongside partition values
    assert(entries.forall(_.stats.isDefined))
    // exact pruning through the catalog scan: = opens 1, IN opens 2,
    // non-partition predicates open everything
    assert(opened(s"SELECT * FROM graft.$name WHERE o_orderstatus = 'F'")
      .contains(1))
    val two = statuses.take(2).map(v => s"'$v'").mkString(", ")
    assert(opened(
      s"SELECT * FROM graft.$name WHERE o_orderstatus IN ($two)")
      .contains(2))
    assert(opened(s"SELECT * FROM graft.$name WHERE price > 0")
      .contains(statuses.size))
    // answers stay exact (pruning is a hint, predicates stay residual)
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.$name " +
      "WHERE o_orderstatus = 'F'").head().getLong(0) ==
      spark.sql(s"SELECT COUNT(*) FROM src_$name " +
        "WHERE o_orderstatus = 'F'").head().getLong(0))
    // evolution refusals: partition columns are immutable
    def msgs(t: Throwable): String =
      if (t == null) "" else Option(t.getMessage).getOrElse("") + msgs(t.getCause)
    Seq(s"ALTER TABLE graft.$name RENAME COLUMN o_orderstatus TO st",
      s"ALTER TABLE graft.$name DROP COLUMN o_orderstatus").foreach { ddl =>
      val e = intercept[Exception] { spark.sql(ddl) }
      assert(msgs(e).contains("partition column"), s"$ddl must refuse")
    }
  }

  test("static PARTITION overwrite replaces one slice; dynamic overwrite replaces written tuples") {
    GraftCatalog.install(spark)
    val base = graft.Scratch.dir("ptspec_ow")
    val name = s"ptow_${java.util.UUID.randomUUID().toString.take(8)}"
    spark.sql(s"CREATE TABLE graft.$name (k BIGINT, s STRING, " +
      s"v BIGINT) PARTITIONED BY (s) LOCATION '$base'")
    spark.sql(s"INSERT INTO graft.$name VALUES " +
      "(1, 'a', 10), (2, 'b', 20), (3, 'c', 30)")
    val v2 = GraftManifest.read(base, 2).entries
    assert(v2.size == 3)
    // STATIC: INSERT OVERWRITE ... PARTITION (s='a') replaces only a
    spark.sql(s"INSERT OVERWRITE graft.$name PARTITION (s = 'a') " +
      "VALUES (9, 99)")
    val v3 = GraftManifest.read(base, 3).entries
    assert(v3.size == 3)
    val untouched = v2.filter(_.partValues("s") != "a").map(_.path).toSet
    assert(untouched.subsetOf(v3.map(_.path).toSet),
      "non-matching partitions carry byte-identical")
    assert(spark.sql(s"SELECT k, v FROM graft.$name WHERE s = 'a'")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((9L, 99L)))
    // DYNAMIC: only the tuples the job writes are replaced
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try
      spark.sql(s"INSERT OVERWRITE graft.$name VALUES (7, 'b', 70)")
    finally
      spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    val v4 = GraftManifest.read(base, 4).entries
    assert(v4.size == 3)
    val rows = spark.sql(s"SELECT s, SUM(v) FROM graft.$name GROUP BY s " +
      "ORDER BY s").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows == Seq(("a", 99L), ("b", 70L), ("c", 30L)),
      s"dynamic overwrite must replace only 'b', got $rows")
    // time travel across the overwrites still serves the old slices
    assert(spark.sql(s"SELECT SUM(v) FROM graft.$name VERSION AS OF 2")
      .head().getLong(0) == 60L)
  }

  test("days() transform: ordinal tuples, range pruning, boundary days kept") {
    GraftCatalog.install(spark)
    val base = graft.Scratch.dir("ptspec_days")
    val name = s"ptd_${java.util.UUID.randomUUID().toString.take(8)}"
    spark.sql(s"CREATE TABLE graft.$name (k BIGINT, d DATE, v BIGINT) " +
      s"PARTITIONED BY (days(d)) LOCATION '$base'")
    spark.sql(s"INSERT INTO graft.$name VALUES " +
      "(1, DATE'2026-01-01', 1), (2, DATE'2026-01-02', 2), " +
      "(3, DATE'2026-01-03', 3), (4, DATE'2026-01-01', 4)")
    val entries = GraftManifest.read(base, 2).entries
    assert(entries.size == 3, "one file per day")
    assert(entries.forall(_.partValues.keySet == Set("days.d")))
    // range pruning on the source column: two of three days
    assert(opened(s"SELECT * FROM graft.$name WHERE d >= DATE'2026-01-02'")
      .contains(2))
    assert(opened(s"SELECT * FROM graft.$name WHERE d = DATE'2026-01-01'")
      .contains(1))
    assert(spark.sql(s"SELECT SUM(v) FROM graft.$name " +
      "WHERE d >= DATE'2026-01-02'").head().getLong(0) == 5L)
    // null partition values: prunable for literals, still readable
    spark.sql(s"INSERT INTO graft.$name VALUES (5, NULL, 50)")
    assert(opened(s"SELECT * FROM graft.$name WHERE d = DATE'2026-01-01'")
      .contains(1), "a null-day file never matches a literal")
    assert(spark.sql(s"SELECT v FROM graft.$name WHERE d IS NULL")
      .head().getLong(0) == 50L)
  }

  test("dynamic partition pruning: a selective dim join drops fact partitions at runtime") {
    GraftCatalog.install(spark)
    val base = graft.Scratch.dir("ptspec_dpp")
    val name = s"ptdpp_${java.util.UUID.randomUUID().toString.take(8)}"
    spark.sql(s"CREATE TABLE graft.$name (k BIGINT, s STRING, v BIGINT) " +
      s"PARTITIONED BY (s) LOCATION '$base'")
    spark.sql(s"INSERT INTO graft.$name SELECT id, " +
      "CASE CAST(id % 4 AS INT) WHEN 0 THEN 'a' WHEN 1 THEN 'b' " +
      "WHEN 2 THEN 'c' ELSE 'd' END, id FROM range(0, 400)")
    assert(GraftManifest.read(base, 2).entries.size == 4)
    // a dim whose filter selects ONE partition value at runtime
    Seq(("a", 1), ("b", 0), ("c", 0), ("d", 0)).toDF("s", "flag")
      .write.mode("overwrite").parquet(s"$base/dim")
    spark.read.parquet(s"$base/dim").createOrReplaceTempView(s"dim_$name")
    val q = spark.sql(
      s"""SELECT f.k, f.v FROM graft.$name f
         |JOIN dim_$name d ON f.s = d.s WHERE d.flag = 1""".stripMargin)
    val scan = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources
          .v2.DataSourceV2ScanRelation => r.scan
    }.collectFirst { case g: GraftScan => g }.get
    assert(scan.activeEntries.size == 4, "static planning keeps all four")
    val rows = q.collect()
    assert(rows.length == 100 && rows.forall(_.getLong(0) % 4 == 0))
    assert(scan.activeEntries.size == 1,
      s"the runtime IN-filter must drop the other partitions, " +
        s"kept ${scan.activeEntries.map(_.partValues)}")
  }

  test("string identity partitions: range predicates NEVER range-prune (lexicographic vs numeric order, r17 ADVICE)") {
    GraftCatalog.install(spark)
    val base = graft.Scratch.dir("ptspec_strrange")
    val name = s"ptsr_${java.util.UUID.randomUUID().toString.take(8)}"
    spark.sql(s"CREATE TABLE graft.$name (k BIGINT, s STRING) " +
      s"PARTITIONED BY (s) LOCATION '$base'")
    // the adversarial values: '9' > '20' lexicographically (Spark's
    // string order) but 9 < 20 numerically (the rendered-ordinal order
    // the pruner would compare under)
    spark.sql(s"INSERT INTO graft.$name VALUES (1, '9'), (2, '20')")
    assert(GraftManifest.read(base, 2).entries.size == 2)
    // s > '20' matches the '9' row; numeric pruning would have dropped
    // its file (9 >= 20 is false) — the type gate keeps BOTH files
    val q = spark.sql(s"SELECT k FROM graft.$name WHERE s > '20'")
    assert(opened(s"SELECT k FROM graft.$name WHERE s > '20'").contains(2),
      "a string identity range must not ordinal-prune")
    assert(q.collect().map(_.getLong(0)).toSeq == Seq(1L),
      "the lexicographically-greater '9' row must survive")
    // EQUALITY on string identity partitions still prunes exactly
    assert(opened(s"SELECT k FROM graft.$name WHERE s = '9'").contains(1))
    // and on a NUMERIC identity partition, range pruning still works
    val nname = s"ptnr_${java.util.UUID.randomUUID().toString.take(8)}"
    spark.sql(s"CREATE TABLE graft.$nname (k BIGINT, n BIGINT) " +
      s"PARTITIONED BY (n) LOCATION '${graft.Scratch.dir("ptspec_numrange")}'")
    spark.sql(s"INSERT INTO graft.$nname VALUES (1, 9), (2, 20)")
    assert(opened(s"SELECT k FROM graft.$nname WHERE n > 20").contains(1),
      "numeric identity ranges keep pruning (ordinal == column order)")
  }

  test("bucket/truncate/hours transforms: fan-out, equality pruning, no unsound range pruning on buckets (r18)") {
    GraftCatalog.install(spark)
    val base = graft.Scratch.dir("ptspec_bucket")
    val name = s"ptb_${java.util.UUID.randomUUID().toString.take(8)}"
    spark.sql(s"CREATE TABLE graft.$name (k BIGINT, s STRING, v BIGINT) " +
      s"PARTITIONED BY (bucket(4, k)) LOCATION '$base'")
    spark.sql(s"INSERT INTO graft.$name SELECT id, CAST(id AS STRING), id " +
      "FROM range(0, 400)")
    val entries = GraftManifest.read(base, 2).entries
    assert(entries.size <= 4 && entries.size >= 2,
      s"one file per non-empty bucket, got ${entries.size}")
    assert(entries.forall(_.partValues.keySet.head.startsWith("bucket.4.")))
    // a point lookup opens exactly the key's bucket
    assert(opened(s"SELECT * FROM graft.$name WHERE k = 123").contains(1))
    assert(spark.sql(s"SELECT v FROM graft.$name WHERE k = 123")
      .head().getLong(0) == 123L)
    // a RANGE on the bucketed column must NOT prune (buckets aren't
    // monotone) — and every row comes back
    assert(opened(s"SELECT * FROM graft.$name WHERE k >= 390")
      .contains(entries.size))
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.$name WHERE k >= 390")
      .head().getLong(0) == 10L)
    // truncate over strings: prefix tuples, equality prunes
    val tname = s"ptt_${java.util.UUID.randomUUID().toString.take(8)}"
    spark.sql(s"CREATE TABLE graft.$tname (s STRING, v BIGINT) " +
      s"PARTITIONED BY (truncate(2, s)) " +
      s"LOCATION '${graft.Scratch.dir("ptspec_trunc")}'")
    spark.sql(s"INSERT INTO graft.$tname VALUES ('aax', 1), ('aay', 2), " +
      "('bbx', 3)")
    assert(opened(s"SELECT v FROM graft.$tname WHERE s = 'aay'").contains(1))
    assert(spark.sql(s"SELECT SUM(v) FROM graft.$tname WHERE s LIKE 'aa%'")
      .head().getLong(0) == 3L)
    // hours over timestamps: ordinal tuples, range pruning holds
    val hname = s"pth_${java.util.UUID.randomUUID().toString.take(8)}"
    spark.sql(s"CREATE TABLE graft.$hname (ts TIMESTAMP, v BIGINT) " +
      s"PARTITIONED BY (hours(ts)) " +
      s"LOCATION '${graft.Scratch.dir("ptspec_hours")}'")
    spark.sql(s"INSERT INTO graft.$hname VALUES " +
      "(TIMESTAMP'2026-01-01 00:10:00', 1), " +
      "(TIMESTAMP'2026-01-01 01:10:00', 2), " +
      "(TIMESTAMP'2026-01-01 02:10:00', 3)")
    assert(GraftManifest.read(
      GraftCatalog.baseFor(hname).get, 2).entries.size == 3, "one file per hour")
    assert(opened(s"SELECT v FROM graft.$hname " +
      "WHERE ts >= TIMESTAMP'2026-01-01 01:00:00'").contains(2))
  }

  test("partition spec EVOLUTION: old files prune under the retired spec, new files under the new one (r18)") {
    GraftCatalog.install(spark)
    val base = graft.Scratch.dir("ptspec_evolve")
    val name = s"pte_${java.util.UUID.randomUUID().toString.take(8)}"
    spark.sql(s"CREATE TABLE graft.$name (k BIGINT, s STRING, d DATE) " +
      s"PARTITIONED BY (s) LOCATION '$base'")
    spark.sql(s"INSERT INTO graft.$name VALUES " +
      "(1, 'a', DATE'2026-01-01'), (2, 'b', DATE'2026-01-02')") // v2: 2 files
    // evolve identity(s) -> days(d): one props-CAS commit (v3)
    val res = spark.sql(
      s"CALL graft.system.evolve_partition_spec('$name', 'days(d)')").head()
    assert(res.getString(0) == "s" && res.getString(1) == "days(d)" &&
      res.getLong(2) == 3L)
    spark.sql(s"INSERT INTO graft.$name VALUES " +
      "(3, 'a', DATE'2026-01-03'), (4, 'b', DATE'2026-01-04')") // v4: 2 files
    val v4 = GraftManifest.read(base, 4).entries
    assert(v4.size == 4)
    val oldGen = v4.filter(_.partValues.keySet == Set("s"))
    val newGen = v4.filter(_.partValues.keySet == Set("days.d"))
    assert(oldGen.size == 2 && newGen.size == 2,
      s"two spec generations in one manifest, got ${v4.map(_.partValues)}")
    // a predicate on the OLD spec's column: prunes the old generation
    // exactly (1 of 2), keeps every new-gen file (no 's' tuple) — 3 total
    assert(opened(s"SELECT * FROM graft.$name WHERE s = 'a'").contains(3))
    assert(spark.sql(s"SELECT SUM(k) FROM graft.$name WHERE s = 'a'")
      .head().getLong(0) == 4L)
    // a predicate on the NEW spec's column: prunes the new generation
    // exactly, keeps the old one — 3 total
    assert(opened(
      s"SELECT * FROM graft.$name WHERE d >= DATE'2026-01-04'").contains(3))
    assert(spark.sql(
      s"SELECT SUM(k) FROM graft.$name WHERE d >= DATE'2026-01-04'")
      .head().getLong(0) == 4L)
    // both at once: 1 old + 1 new kept = 2
    assert(opened(s"SELECT * FROM graft.$name WHERE s = 'a' AND " +
      "d >= DATE'2026-01-04'").contains(2))
    // partition-scoped overwrite under the evolved spec refuses (old
    // files are unattributable under days(d))
    def msgs(t: Throwable): String =
      if (t == null) "" else Option(t.getMessage).getOrElse("") + msgs(t.getCause)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      val e = intercept[Exception] {
        spark.sql(s"INSERT OVERWRITE graft.$name VALUES " +
          "(9, 'a', DATE'2026-01-03')")
      }
      assert(msgs(e).contains("cannot attribute"), msgs(e))
    } finally spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    // time travel BEFORE the evolution prunes under the old spec only
    assert(GraftCatalog.scannedFileCount(spark.sql(
      s"SELECT * FROM graft.$name VERSION AS OF 2 WHERE s = 'a'"))
      .contains(1), "the pinned pre-evolution snapshot uses ITS spec")
    // partition columns of the RETIRED spec stay immutable too
    val er = intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.$name RENAME COLUMN s TO st")
    }
    assert(msgs(er).contains("partition column"))
  }

  test("MOR delta appends fan out WITH tuples: deltas prune and partition overwrites can attribute them (r18)") {
    GraftCatalog.install(spark)
    val base = graft.Scratch.dir("ptspec_mor")
    val name = s"ptm_${java.util.UUID.randomUUID().toString.take(8)}"
    spark.sql(s"CREATE TABLE graft.$name (k BIGINT, s STRING, " +
      s"v BIGINT) PARTITIONED BY (s) " +
      s"LOCATION '$base' TBLPROPERTIES ('graft.merge.mode' = 'merge-on-read')")
    spark.sql(s"INSERT INTO graft.$name VALUES (1, 'a', 10), (2, 'b', 20)")
    // a MATCHED clause forces the real delta-based (SupportsDelta) MOR
    // path — an insert-only MERGE is optimized to a plain append
    Seq((1L, "a", 100L), (3L, "a", 30L)).toDF("dk", "ds", "dv")
      .createOrReplaceTempView(s"delta_$name")
    spark.sql(
      s"""MERGE INTO graft.$name t USING delta_$name d ON t.k = d.dk
         |WHEN MATCHED THEN UPDATE SET v = d.dv
         |WHEN NOT MATCHED THEN INSERT (k, s, v) VALUES (dk, ds, dv)"""
        .stripMargin)
    val v3 = GraftManifest.read(base, 3).entries
    // r18 (r17 ADVICE): the delta-append half of a MOR merge fans out
    // per tuple exactly like an INSERT — no tuple-less file is born, so
    // the delta prunes under its partition and a later partition
    // overwrite can attribute every file
    assert(v3.forall(_.partValues.nonEmpty),
      s"every file carries a tuple, got ${v3.map(_.partValues)}")
    val deltas = v3.filter(e => e.dv.isEmpty && e.partValues("s") == "a")
    assert(deltas.nonEmpty, "the merge appended 'a'-partition delta file(s)")
    assert(v3.exists(e => e.dv.isDefined && e.partValues("s") == "a"),
      "the matched 'a' base file is DV'd")
    // partition pruning now covers the delta: s='a' opens the DV'd 'a'
    // base + the 'a' delta(s); the 'b' file is pruned
    assert(opened(s"SELECT * FROM graft.$name WHERE s = 'a'")
      .contains(1 + deltas.size))
    assert(opened(s"SELECT * FROM graft.$name WHERE s = 'b'").contains(1),
      "the 'a' delta is PRUNED for a 'b' probe")
    assert(spark.sql(s"SELECT k, v FROM graft.$name WHERE s = 'a' ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 100L), (3L, 30L)))
    // dynamic overwrite of 'a' REPLACES the delta too — no stale rows
    // (the r17 ADVICE failure sequence)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try spark.sql(s"INSERT OVERWRITE graft.$name VALUES (9, 'a', 90)")
    finally spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    assert(spark.sql(s"SELECT k, v FROM graft.$name WHERE s = 'a'")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((9L, 90L)), "no stale 'a' rows survive the overwrite")
    assert(spark.sql(s"SELECT k, v FROM graft.$name WHERE s = 'b'")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((2L, 20L)))
    // the graft.<t>.files metadata table agrees: every file tupled
    val files = spark.sql(s"SELECT partition, has_dv, size_bytes " +
      s"FROM graft.$name.files ORDER BY partition").collect()
    assert(files.forall(!_.isNullAt(0)))
    assert(files.forall(_.getLong(2) > 0L))
  }

  test("a partition overwrite REFUSES when a live file has no tuple — never silent stale rows (r18)") {
    GraftCatalog.install(spark)
    val base = graft.Scratch.dir("ptspec_guard")
    val name = s"ptg_${java.util.UUID.randomUUID().toString.take(8)}"
    spark.sql(s"CREATE TABLE graft.$name (k BIGINT, s STRING, v BIGINT) " +
      s"PARTITIONED BY (s) LOCATION '$base'")
    spark.sql(s"INSERT INTO graft.$name VALUES (1, 'a', 10), (2, 'b', 20)")
    // forge a tuple-less file into the manifest (what an API-level MOR
    // merge or a pre-partitioning commit would leave)
    Seq((7L, "a", 70L)).toDF("k", "s", "v")
      .coalesce(1).write.parquet(s"$base/bare")
    val bare = GraftFs.list(s"$base/bare").collect {
      case (n, p, _) if n.startsWith("part-") && n.endsWith(".parquet") => p
    }.head
    val cur = GraftManifest.read(base, 2).entries
    GraftManifest.commitAt(base, 3, cur :+ GraftManifest.Entry(bare))
    def msgs(t: Throwable): String =
      if (t == null) "" else Option(t.getMessage).getOrElse("") + msgs(t.getCause)
    // static slice overwrite: refused (the bare file might hold 'a' rows)
    val e1 = intercept[Exception] {
      spark.sql(s"INSERT OVERWRITE graft.$name PARTITION (s = 'a') " +
        "VALUES (9, 99)")
    }
    assert(msgs(e1).contains("cannot attribute"), msgs(e1))
    // dynamic overwrite: refused the same way
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      val e2 = intercept[Exception] {
        spark.sql(s"INSERT OVERWRITE graft.$name VALUES (9, 'a', 90)")
      }
      assert(msgs(e2).contains("cannot attribute"), msgs(e2))
    } finally spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    // a FULL overwrite still works (replaces everything, bare included)
    spark.sql(s"INSERT OVERWRITE graft.$name VALUES (5, 'c', 50)")
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.$name").head().getLong(0) == 1L)
  }
}
