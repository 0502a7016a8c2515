package graft.sources

import graft.SparkSpec
import graft.queries.Extras6
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Pins the SQL-catalog contract (q93 family) the oracle hash cannot
  * see: copy-on-write carries untouched files (runtime group filtering
  * actually fired), commits record stats for the new files, time travel
  * stays isolated, UPDATE/DELETE statements ride the same machinery,
  * and reads prune files statically from pushed key predicates.
  */
class GraftCatalogSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): (String, String) = {
    GraftCatalog.install(spark)
    val base = Extras6.q93Build(spark, sf)
    val name = s"spec_${java.util.UUID.randomUUID().toString.take(8)}"
    GraftCatalog.register(name, base)
    (name, base)
  }

  private def keyRange(name: String): (Long, Long) = {
    val r = spark.sql(s"SELECT MIN(o_orderkey), MAX(o_orderkey) FROM graft.$name").head()
    (r.getLong(0), r.getLong(1))
  }

  test("MERGE touching one key carries every other file (runtime group filtering)") {
    val (name, base) = freshTable()
    val v1 = GraftManifest.read(base, 1).paths
    val (loKey, _) = keyRange(name)
    spark.sql(s"SELECT $loKey AS d_key, 'X' AS d_status, CAST(1 AS DECIMAL(18,2)) AS d_price")
      .createOrReplaceTempView("one_key_delta")
    spark.sql(
      s"""MERGE INTO graft.$name t USING one_key_delta d
         |ON t.o_orderkey = d.d_key
         |WHEN MATCHED THEN UPDATE SET o_orderstatus = d.d_status""".stripMargin)
    val v2 = GraftManifest.read(base, 2).paths
    val sharedWithV1 = v2.toSet.intersect(v1.toSet)
    assert(sharedWithV1.size == v1.size - 1,
      s"exactly one of ${v1.size} files should be rewritten; carried ${sharedWithV1.size}")
    // the row changed; the table's row count did not
    assert(spark.sql(s"SELECT o_orderstatus FROM graft.$name WHERE o_orderkey = $loKey")
      .head().getString(0) == "X")
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.$name").head().getLong(0) ==
      spark.read.parquet(v1: _*).count())
    // time travel still sees the pre-merge row
    assert(spark.sql(
      s"SELECT o_orderstatus FROM graft.$name VERSION AS OF 1 WHERE o_orderkey = $loKey")
      .head().getString(0) != "X")
  }

  test("commit records key stats for rewritten files; carried stats survive") {
    val (name, base) = freshTable()
    val (loKey, _) = keyRange(name)
    spark.sql(s"UPDATE graft.$name SET price = CAST(price + 1 AS DECIMAL(18,2)) " +
      s"WHERE o_orderkey = $loKey")
    val v2 = GraftManifest.read(base, 2).entries.map(e => (e.path, e.stats))
    assert(v2.forall(_._2.isDefined),
      "every file in the post-write manifest must carry stats")
    // and the new file's range actually contains the key it rewrote
    val newFiles = v2.filterNot(f => GraftManifest.read(base, 1).paths.contains(f._1))
    assert(newFiles.nonEmpty)
    assert(newFiles.exists { case (_, Some((mn, mx))) => mn <= loKey && loKey <= mx
      case _ => false })
  }

  test("UPDATE and DELETE statements ride the same COW machinery") {
    val (name, base) = freshTable()
    val before = spark.sql(s"SELECT COUNT(*) FROM graft.$name").head().getLong(0)
    val fBefore = spark.sql(
      s"SELECT COUNT(*) FROM graft.$name WHERE o_orderstatus = 'F'").head().getLong(0)
    assert(fBefore > 0, "fixture needs F rows")
    spark.sql(s"DELETE FROM graft.$name WHERE o_orderstatus = 'F'")
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.$name").head().getLong(0) ==
      before - fBefore)
    spark.sql(s"UPDATE graft.$name SET o_orderstatus = 'Z'")
    assert(spark.sql(
      s"SELECT COUNT(*) FROM graft.$name WHERE o_orderstatus = 'Z'").head().getLong(0) ==
      before - fBefore)
    assert(GraftManifest.latest(base) == 3)
    // v1 remains byte-identical history
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.$name VERSION AS OF 1")
      .head().getLong(0) == before)
  }

  test("CREATE TABLE / INSERT INTO / INSERT OVERWRITE lifecycle") {
    GraftCatalog.install(spark)
    val name = s"lcspec_${java.util.UUID.randomUUID().toString.take(8)}"
    spark.sql(s"CREATE TABLE graft.$name " +
      "(o_orderkey BIGINT, o_orderstatus STRING, price DECIMAL(18,2))")
    // an empty table is readable (v1 = empty manifest, schema persisted)
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.$name").head().getLong(0) == 0)
    // duplicate create refuses
    intercept[Exception] {
      spark.sql(s"CREATE TABLE graft.$name (x BIGINT)")
    }
    spark.sql(s"INSERT INTO graft.$name VALUES " +
      "(10, 'O', CAST(1.50 AS DECIMAL(18,2))), (20, 'F', CAST(2.25 AS DECIMAL(18,2)))")
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.$name").head().getLong(0) == 2)
    spark.sql(s"INSERT INTO graft.$name VALUES (30, 'O', CAST(4.00 AS DECIMAL(18,2)))")
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.$name").head().getLong(0) == 3)
    // append carries prior files by reference
    val base = GraftCatalog.baseFor(name).get
    val v2 = GraftManifest.read(base, 2).paths
    val v3 = GraftManifest.read(base, 3).paths
    assert(v2.toSet.subsetOf(v3.toSet), "append must carry v2's files")
    // appended files landed with key stats (writer-tracked, no footer pass)
    assert(GraftManifest.read(base, 3).entries.map(e => (e.path, e.stats))
      .forall(_._2.isDefined))
    // overwrite replaces the file set; history stays readable
    spark.sql(s"INSERT OVERWRITE graft.$name VALUES (99, 'X', CAST(9.99 AS DECIMAL(18,2)))")
    val v4 = GraftManifest.read(base, 4).paths
    assert(v4.toSet.intersect(v3.toSet).isEmpty, "overwrite starts fresh")
    assert(spark.sql(s"SELECT o_orderkey FROM graft.$name").head().getLong(0) == 99)
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.$name VERSION AS OF 3")
      .head().getLong(0) == 3)
    // and the merged history streams out of the change feed machinery:
    // transitions 1→2 (2 inserts), 2→3 (1 insert), 3→4 (3 del + 1 ins)
    val stream = new GraftChangeFeedStream(base,
      GraftChangeFeed.schemaFor(base), 1, GraftChangeFeed.physicalOf(base))
    val parts = stream.planInputPartitions(
      GraftVersionOffset(1), GraftVersionOffset(4))
    assert(parts.nonEmpty)
  }

  test("ALTER TABLE ADD COLUMN: history reads back with NULLs, no rewrite") {
    GraftCatalog.install(spark)
    val name = s"evspec_${java.util.UUID.randomUUID().toString.take(8)}"
    spark.sql(s"CREATE TABLE graft.$name " +
      "(o_orderkey BIGINT, o_orderstatus STRING, price DECIMAL(18,2))")
    spark.sql(s"INSERT INTO graft.$name VALUES (1, 'O', CAST(1 AS DECIMAL(18,2)))")
    val base = GraftCatalog.baseFor(name).get
    val filesBefore = GraftManifest.read(base, 2).paths
    spark.sql(s"ALTER TABLE graft.$name ADD COLUMN note STRING")
    // the ALTER is a metadata-only COMMIT (r17): v3 re-lists v2's
    // files verbatim — nothing on disk rewritten
    assert(GraftManifest.latest(base) == 3)
    assert(GraftManifest.read(base, 3).paths == filesBefore)
    assert(GraftManifest.read(base, 2).paths == filesBefore)
    spark.sql(s"INSERT INTO graft.$name VALUES " +
      "(2, 'F', CAST(2 AS DECIMAL(18,2)), 'new-era')")
    val rows = spark.sql(
      s"SELECT o_orderkey, note FROM graft.$name ORDER BY o_orderkey").collect()
    assert(rows.length == 2)
    assert(rows(0).isNullAt(1), "pre-evolution row reads NULL for the new column")
    assert(rows(1).getString(1) == "new-era")
    // time travel to the pre-evolution version reads its OWN schema
    // (r17: no note column there — the Delta convention)
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.$name VERSION AS OF 2")
      .head().getLong(0) == 1)
    assert(!spark.sql(s"SELECT * FROM graft.$name VERSION AS OF 2")
      .columns.contains("note"))
    // unsupported changes (retype) refuse loudly instead of corrupting
    intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.$name ALTER COLUMN note TYPE BIGINT")
    }
    // the change feed survives evolution: pre-evolution transitions
    // read under the widened schema with NULL for the new column
    val feed = spark.sql(s"SELECT side, commit_version, o_orderkey, note " +
      s"FROM graft.$name.changes ORDER BY commit_version, o_orderkey").collect()
    assert(feed.exists(r => r.getLong(1) == 2 && r.isNullAt(3)),
      "pre-evolution feed rows carry NULL for the added column")
    assert(feed.exists(r => r.getLong(1) == 4 && r.getString(3) == "new-era"))
  }

  test("big files split into multiple partitions; every row read exactly once") {
    val (name, base) = freshTable()
    val nFiles = GraftManifest.read(base, 1).paths.size
    val expect = spark.sql(
      s"SELECT COUNT(*), SUM(o_orderkey) FROM graft.$name").head()
    // tiny split target: each (small) fixture file spans several splits;
    // parquet's midpoint rule must hand every row group to exactly one
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1k")
    try {
      val cat = new GraftCatalog
      cat.initialize("graft", CaseInsensitiveStringMap.empty())
      val table = cat.loadTable(Identifier.of(Array.empty, name))
        .asInstanceOf[GraftTable]
      val planned = new GraftScanBuilder(table, None).build()
        .asInstanceOf[GraftScan].planInputPartitions()
      assert(planned.length > nFiles,
        s"expected more partitions than the $nFiles files, got ${planned.length}")
      val got = spark.sql(
        s"SELECT COUNT(*), SUM(o_orderkey) FROM graft.$name").head()
      assert(got == expect, "split reads must neither lose nor duplicate rows")
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", "128MB")
  }

  test("a fresh catalog instance resolves tables from the persisted registry") {
    val (name, base) = freshTable()
    // drop the in-JVM registry: resolution now MUST come from
    // _catalog.json under the warehouse root
    GraftCatalog.resetInMemoryForTest()
    val cat = new GraftCatalog
    cat.initialize("graft", CaseInsensitiveStringMap.empty())
    val t = cat.loadTable(Identifier.of(Array.empty, name))
      .asInstanceOf[GraftTable]
    assert(t.base == base)
    // and the reload repopulated the shared registry for the session
    assert(GraftCatalog.baseFor(name).contains(base))
  }

  test("MERGE aborts when a concurrent commit adds files it did not see") {
    val (name, base) = freshTable()
    val (loKey, hiKey) = keyRange(name)
    spark.sql(s"SELECT $loKey AS d_key, 'X' AS d_status, " +
      "CAST(1 AS DECIMAL(18,2)) AS d_price")
      .createOrReplaceTempView("conflict_delta")
    // a competing INSERT lands inside the merge's snapshot->commit window
    GraftCatalog.commitRaceHook = () =>
      spark.sql(s"INSERT INTO graft.$name VALUES " +
        s"(${hiKey + 7}, 'C', CAST(0 AS DECIMAL(18,2)))")
    val e = intercept[Exception] {
      spark.sql(
        s"""MERGE INTO graft.$name t USING conflict_delta d
           |ON t.o_orderkey = d.d_key
           |WHEN MATCHED THEN UPDATE SET o_orderstatus = d.d_status""".stripMargin)
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("re-run the statement")),
      s"expected the added-file conflict message, got: ${messages(e)}")
    // the insert's commit is intact, and re-running the merge against
    // the fresh snapshot succeeds and composes both effects
    spark.sql(
      s"""MERGE INTO graft.$name t USING conflict_delta d
         |ON t.o_orderkey = d.d_key
         |WHEN MATCHED THEN UPDATE SET o_orderstatus = d.d_status""".stripMargin)
    assert(spark.sql(s"SELECT o_orderstatus FROM graft.$name " +
      s"WHERE o_orderkey = $loKey").head().getString(0) == "X")
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.$name " +
      s"WHERE o_orderkey = ${hiKey + 7}").head().getLong(0) == 1)
  }

  test("key predicates prune files statically via committed stats") {
    val (name, base) = freshTable()
    val (loKey, _) = keyRange(name)
    val cat = new GraftCatalog
    cat.initialize("graft", CaseInsensitiveStringMap.empty())
    val table = cat.loadTable(Identifier.of(Array.empty, name))
      .asInstanceOf[GraftTable]
    val builder = new GraftScanBuilder(table, None)
    // push o_orderkey = loKey through the public V2 predicate API
    import org.apache.spark.sql.connector.expressions.{Expressions => E}
    builder.pushPredicates(Array(
      new Predicate("=", Array(E.column("o_orderkey"),
        E.literal(java.lang.Long.valueOf(loKey))))))
    val scan = builder.build().asInstanceOf[GraftScan]
    val planned = scan.planInputPartitions()
    assert(planned.length == 1,
      s"point lookup should open 1 of ${table.manifest.size} files, opened ${planned.length}")
    // and the full unpruned scan sees all files
    val full = new GraftScanBuilder(table, None).build().asInstanceOf[GraftScan]
    assert(full.planInputPartitions().length == table.manifest.size)
  }

  test("graft.stats.columns: SQL writers track all, scans prune the second column (r17)") {
    GraftCatalog.install(spark)
    val base = graft.Scratch.dir("mcstats_table")
    val name = s"mc_${java.util.UUID.randomUUID().toString.take(8)}"
    spark.sql(s"CREATE TABLE graft.$name (o_orderkey BIGINT, " +
      "o_custkey BIGINT, price DECIMAL(18,2)) " +
      s"LOCATION '$base' TBLPROPERTIES " +
      "('graft.stats.columns' = 'o_orderkey,o_custkey')")
    // four single-file commits: o_custkey ranges DISJOINT per file,
    // o_orderkey ranges overlapping everywhere (so only second-column
    // stats can prune anything)
    (0 until 4).foreach { b =>
      spark.sql(s"INSERT INTO graft.$name " +
        s"SELECT id % 100, ${b * 1000} + id, CAST(1 AS DECIMAL(18,2)) " +
        "FROM range(0, 1000, 1, 1)")
    }
    val entries = GraftManifest.read(base, 5).entries
    assert(entries.size == 4)
    assert(entries.forall(e => e.colStats.keySet == Set("o_orderkey", "o_custkey")),
      s"both columns tracked, got ${entries.map(_.colStats.keySet)}")
    assert(entries.forall(_.stats.isDefined), "legacy key stats still recorded")
    // a range predicate on the SECOND column prunes to exactly one file
    val probe = spark.sql(
      s"SELECT * FROM graft.$name WHERE o_custkey BETWEEN 2100 AND 2200")
    assert(GraftCatalog.scannedFileCount(probe).contains(1),
      s"expected 1 file, scanned ${GraftCatalog.scannedFileCount(probe)}")
    assert(probe.count() == 101)
    // key-column ranges overlap: a key predicate alone keeps all files
    val keyProbe = spark.sql(
      s"SELECT * FROM graft.$name WHERE o_orderkey < 10")
    assert(GraftCatalog.scannedFileCount(keyProbe).contains(4))
    assert(keyProbe.count() == 400)
    // RENAME SOUNDNESS, structurally: colStats keys are PHYSICAL names
    // and the stats-columns property follows renames, so after an
    // adversarial name SWAP skipping still follows the right bytes
    spark.sql(s"ALTER TABLE graft.$name RENAME COLUMN o_custkey TO ck")
    spark.sql(s"ALTER TABLE graft.$name RENAME COLUMN o_orderkey TO o_custkey")
    // the rebound name (old key bytes, overlapping): nothing pruned,
    // every row found
    val rebound = spark.sql(
      s"SELECT * FROM graft.$name WHERE o_custkey < 10")
    assert(GraftCatalog.scannedFileCount(rebound).contains(4))
    assert(rebound.count() == 400,
      "rebound-name predicate must not lose rows to stale stats")
    // the renamed second column still prunes exactly (stats followed it)
    val renamed = spark.sql(
      s"SELECT * FROM graft.$name WHERE ck BETWEEN 2100 AND 2200")
    assert(GraftCatalog.scannedFileCount(renamed).contains(1))
    assert(renamed.count() == 101)
  }

  test("ALTER TABLE SET/UNSET TBLPROPERTIES: a CAS commit — modes and stats columns change post-create (r17/r18)") {
    GraftCatalog.install(spark)
    val base = graft.Scratch.dir("setprops_table")
    val name = s"sp_${java.util.UUID.randomUUID().toString.take(8)}"
    spark.sql(s"CREATE TABLE graft.$name (k BIGINT, s STRING, " +
      s"v BIGINT) LOCATION '$base'")
    spark.sql(s"INSERT INTO graft.$name SELECT id, 'x', id FROM range(0, 50, 1, 1)")
    // switch DELETE to merge-on-read AFTER create: SET is a COMMIT
    // (r18 — a `#props` header through the CAS, never a mirror-file
    // last-writer-wins), and the next delete writes sidecars
    spark.sql(s"ALTER TABLE graft.$name SET TBLPROPERTIES " +
      "('graft.delete.mode' = 'merge-on-read')")
    assert(GraftManifest.latest(base) == 3, "SET TBLPROPERTIES is a commit")
    assert(GraftManifest.read(base, 3).entries.map(_.path) ==
      GraftManifest.read(base, 2).entries.map(_.path),
      "a props commit re-lists the same entries")
    // time travel resolves props AS OF the version: the pre-SET
    // snapshot still reads copy-on-write props
    assert(GraftProps.propsAt(base, 2)
      .exists(!_.contains("graft.delete.mode")))
    assert(GraftProps.propsAt(base, 3)
      .exists(_.get("graft.delete.mode").contains("merge-on-read")))
    spark.sql(s"DELETE FROM graft.$name WHERE k < 10")
    val v4 = GraftManifest.read(base, 4).entries
    assert(v4.exists(_.dv.isDefined), "post-SET delete must be MOR")
    assert(v4.map(_.path) == GraftManifest.read(base, 2).entries.map(_.path),
      "no data file rewritten")
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.$name").head().getLong(0) == 40L)
    // switch stats columns post-create: the next insert tracks both
    spark.sql(s"ALTER TABLE graft.$name SET TBLPROPERTIES " +
      "('graft.stats.columns' = 'k,v')") // v5
    spark.sql(s"INSERT INTO graft.$name SELECT id, 'y', id FROM range(100, 150, 1, 1)") // v6
    val newest = GraftManifest.read(base, 6).entries
      .filterNot(v4.map(_.path).toSet contains _.path)
    assert(newest.nonEmpty && newest.forall(_.colStats.keySet == Set("k", "v")))
    // UNSET restores copy-on-write
    spark.sql(s"ALTER TABLE graft.$name UNSET TBLPROPERTIES ('graft.delete.mode')") // v7
    spark.sql(s"DELETE FROM graft.$name WHERE k = 100") // v8
    assert(GraftManifest.read(base, 8).entries
      .filterNot(e => GraftManifest.read(base, 7).entries.map(_.identity)
        .contains(e.identity)).forall(_.dv.isEmpty),
      "post-UNSET delete rewrites (COW) — no new DVs")
    // engine-managed and unknown-column properties refuse loudly
    def msgs(t: Throwable): String =
      if (t == null) "" else Option(t.getMessage).getOrElse("") + msgs(t.getCause)
    val res = intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.$name SET TBLPROPERTIES " +
        "('graft.partition.spec' = 'identity(s)')")
    }
    assert(msgs(res).contains("engine-managed"))
    val unk = intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.$name SET TBLPROPERTIES " +
        "('graft.stats.columns' = 'k,nope')")
    }
    assert(msgs(unk).contains("unknown column"))
    // a failed SET committed nothing — v8 is still the head
    assert(GraftManifest.latest(base) == 8)
  }

  test("racing SETs serialize through the CAS: exactly one winner (r18)") {
    GraftCatalog.install(spark)
    val base = graft.Scratch.dir("setrace_table")
    val name = s"spr_${java.util.UUID.randomUUID().toString.take(8)}"
    spark.sql(s"CREATE TABLE graft.$name (k BIGINT, v STRING) " +
      s"LOCATION '$base'")
    def msgs(t: Throwable): String =
      if (t == null) "" else Option(t.getMessage).getOrElse("") + msgs(t.getCause)
    // interleave a competing SET between the outer SET's props
    // computation and its CAS attempt — the loser must error, never
    // silently drop the winner's property (pre-r18 the mirror file was
    // last-writer-wins)
    GraftCatalog.alterRaceHook = () =>
      spark.sql(s"ALTER TABLE graft.$name SET TBLPROPERTIES " +
        "('graft.update.mode' = 'merge-on-read')")
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.$name SET TBLPROPERTIES " +
        "('graft.delete.mode' = 'merge-on-read')")
    }
    assert(msgs(e).contains("concurrent property change"),
      s"racing SET must conflict explicitly, got: ${msgs(e)}")
    val props = GraftProps.propsAt(base, GraftManifest.latest(base)).get
    assert(props.get("graft.update.mode").contains("merge-on-read"),
      "the inner SET won")
    assert(!props.contains("graft.delete.mode"),
      "the outer SET must not have half-applied")
    // racing a DATA commit instead: the SET rebases and succeeds
    GraftCatalog.alterRaceHook = () =>
      spark.sql(s"INSERT INTO graft.$name VALUES (1, 'x')")
    spark.sql(s"ALTER TABLE graft.$name SET TBLPROPERTIES " +
      "('graft.delete.mode' = 'merge-on-read')")
    val after = GraftProps.propsAt(base, GraftManifest.latest(base)).get
    assert(after.get("graft.delete.mode").contains("merge-on-read") &&
      after.get("graft.update.mode").contains("merge-on-read"))
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.$name").head().getLong(0) == 1,
      "the interleaved insert survives the rebased SET")
  }

  test("graft.stats.column property: writers track it, scans prune on it (r16)") {
    GraftCatalog.install(spark)
    val base = graft.Scratch.dir("statscol")
    val name = s"sc_${java.util.UUID.randomUUID().toString.take(8)}"
    spark.sql(s"CREATE TABLE graft.$name (k BIGINT, v STRING) " +
      s"LOCATION '$base' TBLPROPERTIES ('graft.stats.column'='k')")
    (0 until 4).foreach(b => spark.sql(
      s"INSERT INTO graft.$name SELECT id AS k, CAST(id AS STRING) AS v " +
        s"FROM range(${b * 1000}, ${b * 1000 + 1000})"))
    // every committed file carries k-stats (no o_orderkey in sight)
    assert(GraftManifest.read(base, 5).entries.forall(_.stats.isDefined),
      "writers must track the configured stats column")
    val cat = new GraftCatalog()
    cat.initialize("graft", CaseInsensitiveStringMap.empty())
    val table = cat.loadTable(Identifier.of(Array.empty, name))
      .asInstanceOf[GraftTable]
    assert(table.statsColumn == "k")
    // a point predicate on k prunes the manifest statically
    import org.apache.spark.sql.connector.expressions.{Expressions => E}
    val builder = new GraftScanBuilder(table, None)
    builder.pushPredicates(Array(
      new Predicate("=", Array(E.column("k"),
        E.literal(java.lang.Long.valueOf(5L))))))
    val planned = builder.build().asInstanceOf[GraftScan].planInputPartitions()
    assert(planned.length < table.manifest.size,
      s"k=5 lookup should prune, opened ${planned.length}/${table.manifest.size}")
    // answers stay exact through the pruned path
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.$name WHERE k < 1000")
      .head().getLong(0) == 1000L)
    assert(spark.sql(s"SELECT v FROM graft.$name WHERE k = 2500")
      .head().getString(0) == "2500")
  }

  test("scan reports post-pruning statistics; a small graft dim auto-broadcasts unhinted (r18)") {
    // Without SupportsReportStatistics a DSv2 scan defaults to
    // spark.sql.defaultSizeInBytes (effectively infinite): a small graft
    // dimension table would NEVER auto-broadcast — at 100 TB that is a
    // sort-merge join where a BHJ is free. Pins (a) the reported size
    // comes from manifest lengths, (b) static file pruning SHRINKS it,
    // (c) the planner's STATIC join choice (pre-AQE) is a broadcast
    // join with no hint anywhere.
    val (name, _) = freshTable()
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
    def scanBytes(df: org.apache.spark.sql.DataFrame): BigInt =
      df.queryExecution.optimizedPlan.collect {
        case r: DataSourceV2ScanRelation => r.stats.sizeInBytes
      }.head
    val full = scanBytes(spark.table(s"graft.$name"))
    assert(full > 0 && full < (1L << 30),
      s"reported size must be the manifest's, not defaultSizeInBytes: $full")
    val (loKey, _) = keyRange(name)
    val pruned = scanBytes(
      spark.table(s"graft.$name").filter(col("o_orderkey") === loKey))
    assert(pruned < full,
      s"a pushed key predicate must shrink the reported size: $pruned !< $full")
    // probe side: ~24 MB by Spark's own sizing — over the 10 MB
    // auto-broadcast threshold, so the BHJ build side can only be the
    // graft dim, and only because it reported its true (small) size
    val probe = spark.range(3000000L)
      .withColumn("o_orderkey", col("id") % 1024L)
    val joined = probe.join(spark.table(s"graft.$name"), "o_orderkey")
    val static = joined.queryExecution.sparkPlan.toString
    assert(static.contains("BroadcastHashJoin") &&
      !static.contains("SortMergeJoin"),
      s"small graft dim must auto-broadcast statically:\n$static")
  }
}
