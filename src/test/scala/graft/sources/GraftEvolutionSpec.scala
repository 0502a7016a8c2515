package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Pins the column-mapping evolution contract (q103) the oracle hash
  * cannot see: a rename rewrites NOTHING (physical names on disk are
  * unchanged; old files serve the renamed column), a re-added dropped
  * name gets a fresh physical column (old bytes cannot resurrect), and
  * the change feed reads pre-rename transitions under the current
  * logical schema. */
class GraftEvolutionSpec extends SparkSpec {
  import spark.implicits._

  private def footerFields(path: String): Seq[String] = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.conf.Configuration())
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      import scala.jdk.CollectionConverters._
      r.getFooter.getFileMetaData.getSchema.getFields.asScala.map(_.getName).toSeq
    } finally r.close()
  }

  test("rename rewrites nothing; re-added dropped column cannot resurrect old bytes") {
    GraftCatalog.install(spark)
    val base = graft.Scratch.dir("evspec_table")
    val name = s"ev_${java.util.UUID.randomUUID().toString.take(8)}"
    spark.sql(s"CREATE TABLE graft.$name (o_orderkey BIGINT, " +
      s"o_orderstatus STRING, price DECIMAL(18,2)) LOCATION '$base'")
    graft.Tables.load(spark, sf, "orders")
      .filter($"o_orderkey" % 3 === 0)
      .select($"o_orderkey", $"o_orderstatus",
        $"o_totalprice".cast(DecimalType(18, 2)).as("price"))
      .createOrReplaceTempView(s"src_$name")
    spark.sql(s"INSERT INTO graft.$name SELECT * FROM src_$name")
    val v2 = GraftManifest.read(base, 2).entries
    val sumBefore = spark.sql(
      s"SELECT CAST(SUM(price) AS DOUBLE) FROM graft.$name").head().getDouble(0)

    spark.sql(s"ALTER TABLE graft.$name RENAME COLUMN price TO amount")
    // nothing on disk changed: same files, physical column still 'price'
    assert(GraftManifest.read(base, 2).entries.map(_.path) == v2.map(_.path))
    assert(footerFields(v2.head.path).contains("price"))
    // the renamed column serves the old bytes
    assert(spark.sql(s"SELECT CAST(SUM(amount) AS DOUBLE) FROM graft.$name")
      .head().getDouble(0) == sumBefore)
    intercept[Exception] { // old name is gone
      spark.sql(s"SELECT price FROM graft.$name").collect()
    }

    // drop + re-add the same name: the re-added column must be NULL on
    // every old row even though the old physical bytes still exist
    spark.sql(s"ALTER TABLE graft.$name DROP COLUMN o_orderstatus")
    assert(!spark.table(s"graft.$name").columns.contains("o_orderstatus"))
    spark.sql(s"ALTER TABLE graft.$name ADD COLUMN o_orderstatus STRING")
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.$name " +
      "WHERE o_orderstatus IS NOT NULL").head().getLong(0) == 0,
      "re-added column must not resurrect dropped bytes")
    // new writes land the re-added column under a FRESH physical name
    spark.sql(s"INSERT INTO graft.$name " +
      "SELECT o_orderkey + 1000000, CAST(price AS DECIMAL(18,2)), 'Z' " +
      s"FROM src_$name LIMIT 5")
    val v5 = GraftManifest.read(base, GraftManifest.latest(base)).entries
    val newFile = v5.map(_.path).filterNot(v2.map(_.path).toSet).head
    val fields = footerFields(newFile)
    assert(!fields.contains("o_orderstatus"),
      s"re-added column must use a fresh physical name, footer: $fields")
    assert(fields.exists(_.startsWith("o_orderstatus_")))
    assert(fields.contains("price"), "renamed column keeps its physical name")
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.$name " +
      "WHERE o_orderstatus = 'Z'").head().getLong(0) == 5)

    // stats pruning survives the rename (physical key column unchanged)
    assert(v5.forall(_.stats.isDefined))
  }

  test("time travel resolves the schema AS OF the version (r17: schema in the protocol)") {
    GraftCatalog.install(spark)
    val base = graft.Scratch.dir("evspec_asof")
    val name = s"evao_${java.util.UUID.randomUUID().toString.take(8)}"
    spark.sql(s"CREATE TABLE graft.$name (o_orderkey BIGINT, " +
      s"o_orderstatus STRING, price DECIMAL(18,2)) LOCATION '$base'")
    graft.Tables.load(spark, sf, "orders")
      .filter($"o_orderkey" % 30 === 0)
      .select($"o_orderkey", $"o_orderstatus",
        $"o_totalprice".cast(DecimalType(18, 2)).as("price"))
      .createOrReplaceTempView(s"src_$name")
    spark.sql(s"INSERT INTO graft.$name SELECT * FROM src_$name") // v2
    val statusCount = spark.sql(s"SELECT COUNT(*) FROM graft.$name " +
      "WHERE o_orderstatus IS NOT NULL").head().getLong(0)
    assert(statusCount > 0)
    spark.sql(s"ALTER TABLE graft.$name RENAME COLUMN price TO amount") // v3
    spark.sql(s"ALTER TABLE graft.$name DROP COLUMN o_orderstatus") // v4
    // the PRE-DROP snapshot reads back WITH the dropped column — real
    // values, not NULLs — and under the pre-rename name
    val pre = spark.sql(s"SELECT * FROM graft.$name VERSION AS OF 2")
    assert(pre.columns.toSeq == Seq("o_orderkey", "o_orderstatus", "price"))
    assert(pre.filter($"o_orderstatus".isNotNull).count() == statusCount,
      "pre-DROP snapshot must serve the dropped column's values")
    // the post-rename pre-drop snapshot (v3) serves amount + status
    val v3 = spark.sql(s"SELECT * FROM graft.$name VERSION AS OF 3")
    assert(v3.columns.toSeq == Seq("o_orderkey", "o_orderstatus", "amount"))
    // the current table has neither price nor o_orderstatus
    assert(spark.table(s"graft.$name").columns.toSeq ==
      Seq("o_orderkey", "amount"))
    // latest-schema projection over old data (the q103 backfill shape)
    spark.conf.set(GraftSchemas.TimeTravelConf, "latest")
    try {
      val proj = spark.sql(s"SELECT * FROM graft.$name VERSION AS OF 2")
      assert(proj.columns.toSeq == Seq("o_orderkey", "amount"))
      assert(proj.agg(sum($"amount")).head().getDecimal(0) ==
        pre.agg(sum($"price")).head().getDecimal(0))
    } finally spark.conf.unset(GraftSchemas.TimeTravelConf)
    // TIMESTAMP AS OF resolves the same way: the v2 commit's instant
    // reads v2's schema
    val ts = GraftManifest.commitTime(base, 2)
    val zone = java.time.ZoneId.of(spark.conf.get("spark.sql.session.timeZone"))
    val lit = java.time.Instant.ofEpochMilli(ts).atZone(zone).toLocalDateTime
      .format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
    assert(spark.sql(s"SELECT * FROM graft.$name TIMESTAMP AS OF '$lit'")
      .columns.toSeq == Seq("o_orderkey", "o_orderstatus", "price"))
  }

  test("racing ALTERs serialize through the CAS: exactly one winner") {
    GraftCatalog.install(spark)
    val base = graft.Scratch.dir("evspec_race")
    val name = s"evrc_${java.util.UUID.randomUUID().toString.take(8)}"
    spark.sql(s"CREATE TABLE graft.$name (o_orderkey BIGINT, " +
      s"o_orderstatus STRING, price DECIMAL(18,2)) LOCATION '$base'")
    // interleave a competing ALTER between the outer ALTER's schema
    // computation and its CAS attempt
    GraftCatalog.alterRaceHook = () =>
      spark.sql(s"ALTER TABLE graft.$name RENAME COLUMN o_orderstatus TO st")
    def msgs(t: Throwable): String =
      if (t == null) "" else Option(t.getMessage).getOrElse("") + msgs(t.getCause)
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.$name RENAME COLUMN price TO amount")
    }
    assert(msgs(e).contains("concurrent schema change"),
      s"racing ALTER must conflict explicitly, got: ${msgs(e)}")
    // exactly the inner ALTER won — never last-writer-wins
    assert(spark.table(s"graft.$name").columns.toSeq ==
      Seq("o_orderkey", "st", "price"))
    // but an ALTER racing a DATA commit rebases and succeeds
    GraftCatalog.alterRaceHook = () =>
      spark.sql(s"INSERT INTO graft.$name VALUES " +
        "(1, 'O', CAST(1 AS DECIMAL(18,2)))")
    spark.sql(s"ALTER TABLE graft.$name RENAME COLUMN price TO amount")
    assert(spark.table(s"graft.$name").columns.toSeq ==
      Seq("o_orderkey", "st", "amount"))
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.$name").head().getLong(0) == 1,
      "the interleaved insert must survive the rebased ALTER")
  }

  test("the change feed serves pre-rename transitions under the current schema") {
    GraftCatalog.install(spark)
    val base = graft.Scratch.dir("evspec_cdf")
    val name = s"evcdf_${java.util.UUID.randomUUID().toString.take(8)}"
    spark.sql(s"CREATE TABLE graft.$name (o_orderkey BIGINT, " +
      s"price DECIMAL(18,2)) LOCATION '$base'")
    graft.Tables.load(spark, sf, "orders")
      .filter($"o_orderkey" % 30 === 0)
      .select($"o_orderkey", $"o_totalprice".cast(DecimalType(18, 2)).as("price"))
      .createOrReplaceTempView(s"src_$name")
    spark.sql(s"INSERT INTO graft.$name SELECT * FROM src_$name")
    spark.sql(s"ALTER TABLE graft.$name RENAME COLUMN price TO amount")
    val feed = spark.sql(
      s"SELECT side, commit_version, amount FROM graft.$name.changes")
    assert(feed.filter($"commit_version" === 2 && $"amount".isNotNull)
      .count() > 0, "pre-rename transition rows serve the renamed column")
  }

  test("a feed pinned AS OF serves its version's OWN schema; transitions ceiled there (r18)") {
    GraftCatalog.install(spark)
    val base = graft.Scratch.dir("evspec_cdfv")
    val name = s"evcdfv_${java.util.UUID.randomUUID().toString.take(8)}"
    spark.sql(s"CREATE TABLE graft.$name (o_orderkey BIGINT, " +
      s"price DECIMAL(18,2)) LOCATION '$base'")
    spark.sql(s"INSERT INTO graft.$name VALUES " +
      "(1, CAST(10 AS DECIMAL(18,2))), (2, CAST(20 AS DECIMAL(18,2)))") // v2
    spark.sql(s"ALTER TABLE graft.$name RENAME COLUMN price TO amount") // v3
    spark.sql(s"INSERT INTO graft.$name VALUES " +
      "(3, CAST(30 AS DECIMAL(18,2)))") // v4
    // pinned at v2 (pre-rename): the transition 1→2 replays under the
    // pre-rename column NAME with its values — a CDC consumer
    // reconstructing history sees each commit as it was committed
    val pinned = spark.sql(
      s"SELECT * FROM graft.$name.changes VERSION AS OF 2")
    assert(pinned.columns.contains("price") &&
      !pinned.columns.contains("amount"),
      s"pinned feed must serve v2's own schema: ${pinned.columns.toSeq}")
    val rows = pinned.collect()
    assert(rows.forall(_.getLong(1) <= 2L),
      "a pinned feed must not leak post-pin transitions")
    assert(rows.count(r => r.getString(0) == "post" &&
      r.getDecimal(3) != null) == 2, "v2's inserts replay with values")
    // the unpinned feed serves ALL transitions under the current schema
    val full = spark.sql(
      s"SELECT side, commit_version, amount FROM graft.$name.changes")
    assert(full.filter($"commit_version" === 4).count() > 0)
    // an explicit looser endingVersion cannot widen a pinned feed
    val clamped = spark.read.option("endingVersion", "4")
      .table(s"graft.$name.changes")
    // (options compose on the unpinned address; the pinned address is
    // exercised through SQL above — both must agree on v<=2 content)
    assert(clamped.filter($"commit_version" === 4).count() > 0)
    // TIMESTAMP AS OF composes with metadata addressing (r18): pin by
    // v2's commit instant, same serving rules
    val ts2 = GraftManifest.commitTime(base, 2)
    val zone = java.time.ZoneId.of(spark.conf.get("spark.sql.session.timeZone"))
    val lit = java.time.LocalDateTime.ofInstant(
      java.time.Instant.ofEpochMilli(ts2), zone).format(
      java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
    val byTs = spark.sql(
      s"SELECT * FROM graft.$name.changes TIMESTAMP AS OF '$lit'")
    assert(byTs.columns.contains("price") &&
      byTs.collect().forall(_.getLong(1) <= 2L))
  }

  test("stats pruning refuses a rebound o_orderkey (r15 ADVICE: no unsound skipping)") {
    GraftCatalog.install(spark)
    val base = graft.Scratch.dir("evspec_prune")
    val name = s"evpr_${java.util.UUID.randomUUID().toString.take(8)}"
    spark.sql(s"CREATE TABLE graft.$name (o_orderkey BIGINT, " +
      s"other_key BIGINT) LOCATION '$base'")
    // four single-file commits with DISJOINT o_orderkey ranges and
    // ANTI-correlated other_key values — the adversarial layout: after
    // the rename swap, pruning on the old stats would skip exactly the
    // files the predicate's rows live in
    (0 until 4).foreach { b =>
      spark.sql(s"INSERT INTO graft.$name SELECT id AS o_orderkey, " +
        s"3999 - id AS other_key FROM range(${b * 1000}, ${b * 1000 + 1000})")
    }
    // manifest carries o_orderkey stats; a key predicate prunes (sanity)
    assert(GraftManifest.read(base, 5).entries.forall(_.stats.isDefined))
    assert(spark.sql(
      s"SELECT COUNT(*) FROM graft.$name WHERE o_orderkey < 1000")
      .head().getLong(0) == 1000L)
    // rebind the NAME o_orderkey onto different bytes
    spark.sql(s"ALTER TABLE graft.$name RENAME COLUMN o_orderkey TO okey")
    spark.sql(s"ALTER TABLE graft.$name RENAME COLUMN other_key TO o_orderkey")
    // rows with (new) o_orderkey < 1000 are the OLD okey range
    // [3000, 4000) — whose file's committed o_orderkey stats are
    // [3000, 3999]. Unsound pruning would skip that file and return 0.
    assert(spark.sql(
      s"SELECT COUNT(*) FROM graft.$name WHERE o_orderkey < 1000")
      .head().getLong(0) == 1000L,
      "predicate on a rebound column name must not prune on stale stats")
    // and the values really are the swapped column's
    assert(spark.sql(s"SELECT MIN(okey) FROM graft.$name " +
      "WHERE o_orderkey < 10").head().getLong(0) == 3990L)
  }
}
