package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins the atomic CTAS/RTAS contract (StagingTableCatalog) and SQL
  * TRUNCATE: data and existence commit together (v1 CARRIES the rows —
  * no create-then-append window), a failed CTAS leaves nothing behind,
  * REPLACE is one commit with history (and per-version schemas)
  * intact, a partitioned CTAS fans out with manifest tuples, and
  * TRUNCATE is a metadata-only version. */
class GraftStagingSpec extends SparkSpec {
  import spark.implicits._

  test("CTAS is atomic: v1 carries the data; a failed CTAS leaves nothing") {
    GraftCatalog.install(spark)
    val name = s"ctas_${java.util.UUID.randomUUID().toString.take(8)}"
    spark.sql(s"CREATE TABLE graft.$name AS " +
      "SELECT id AS k, id * 2 AS v FROM range(0, 100)")
    val base = GraftCatalog.baseFor(name).get
    assert(GraftManifest.latest(base) == 1, "data and existence are ONE commit")
    assert(GraftManifest.read(base, 1).entries.nonEmpty)
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.$name").head().getLong(0) == 100L)
    // schema rode the commit protocol from birth
    assert(GraftSchemas.schemaAt(base, 1).isDefined)
    // a CTAS whose query fails mid-write registers nothing
    val bad = s"ctasbad_${java.util.UUID.randomUUID().toString.take(8)}"
    val boom = udf((x: Long) => {
      if (x == 50L) throw new RuntimeException("boom"); x
    })
    spark.udf.register(s"boom_$bad", boom)
    intercept[Exception] {
      spark.sql(s"CREATE TABLE graft.$bad AS " +
        s"SELECT boom_$bad(id) AS k FROM range(0, 100, 1, 1)")
    }
    assert(GraftCatalog.baseFor(bad).isEmpty, "failed CTAS must not register")
    intercept[Exception] { spark.table(s"graft.$bad").collect() }
  }

  test("RTAS is one commit; old versions keep their data AND their schema") {
    GraftCatalog.install(spark)
    val name = s"rtas_${java.util.UUID.randomUUID().toString.take(8)}"
    spark.sql(s"CREATE TABLE graft.$name AS " +
      "SELECT id AS k, CAST(id AS STRING) AS s FROM range(0, 20)")
    val base = GraftCatalog.baseFor(name).get
    spark.sql(s"REPLACE TABLE graft.$name AS " +
      "SELECT id AS a, id * 10 AS b, id * 100 AS c FROM range(0, 5)")
    assert(GraftManifest.latest(base) == 2, "REPLACE = exactly one more commit")
    assert(spark.table(s"graft.$name").columns.toSeq == Seq("a", "b", "c"))
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.$name").head().getLong(0) == 5L)
    // time travel across the replace: old data under the OLD schema
    val v1 = spark.sql(s"SELECT * FROM graft.$name VERSION AS OF 1")
    assert(v1.columns.toSeq == Seq("k", "s"))
    assert(v1.count() == 20L)
    // CREATE OR REPLACE works both ways
    spark.sql(s"CREATE OR REPLACE TABLE graft.$name AS " +
      "SELECT id AS z FROM range(0, 3)")
    assert(spark.table(s"graft.$name").columns.toSeq == Seq("z"))
    val fresh = s"corp_${java.util.UUID.randomUUID().toString.take(8)}"
    spark.sql(s"CREATE OR REPLACE TABLE graft.$fresh AS " +
      "SELECT id FROM range(0, 2)")
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.$fresh").head().getLong(0) == 2L)
  }

  test("partitioned CTAS fans out with manifest tuples") {
    GraftCatalog.install(spark)
    val name = s"ctasp_${java.util.UUID.randomUUID().toString.take(8)}"
    spark.sql(s"CREATE TABLE graft.$name PARTITIONED BY (s) AS " +
      "SELECT id AS k, CASE CAST(id % 3 AS INT) WHEN 0 THEN 'a' " +
      "WHEN 1 THEN 'b' ELSE 'c' END AS s FROM range(0, 90)")
    val base = GraftCatalog.baseFor(name).get
    val entries = GraftManifest.read(base, 1).entries
    assert(entries.size == 3, s"one file per tuple, got ${entries.size}")
    assert(entries.map(_.partValues("s")).toSet == Set("a", "b", "c"))
    assert(GraftCatalog.scannedFileCount(
      spark.sql(s"SELECT * FROM graft.$name WHERE s = 'b'")).contains(1))
  }

  test("a REPLACE that loses every CAS attempt mutates NOTHING (r18 — props/mirrors ride the commit)") {
    GraftCatalog.install(spark)
    val name = s"rtfail_${java.util.UUID.randomUUID().toString.take(8)}"
    spark.sql(s"CREATE TABLE graft.$name " +
      "TBLPROPERTIES ('graft.stats.column' = 'k') AS " +
      "SELECT id AS k, id * 2 AS v FROM range(0, 20)")
    val base = GraftCatalog.baseFor(name).get
    val schemaBefore = GraftFs.readString(s"$base/_schema.json")
    val propsBefore = GraftFs.readString(s"$base/_props.json")
    val propsAtBefore = GraftProps.propsAt(base, 1)
    // a competitor wins EVERY CAS attempt: the REPLACE must exhaust
    // and throw without touching properties, spec, or mirrors
    GraftStagedTable.replaceRaceHook = () => {
      val latest = GraftManifest.latest(base)
      GraftManifest.publish(base, latest + 1,
        GraftManifest.read(base, latest).entries)
      ()
    }
    try {
      intercept[Exception] {
        spark.sql(s"REPLACE TABLE graft.$name " +
          "TBLPROPERTIES ('graft.stats.column' = 'v') AS " +
          "SELECT id AS a, CAST(id AS STRING) AS b FROM range(0, 5)")
      }
    } finally GraftStagedTable.replaceRaceHook = () => ()
    assert(GraftFs.readString(s"$base/_schema.json") == schemaBefore,
      "the schema mirror must be byte-identical after a failed REPLACE")
    assert(GraftFs.readString(s"$base/_props.json") == propsBefore,
      "the props mirror must be byte-identical after a failed REPLACE")
    val head = GraftManifest.latest(base)
    assert(GraftProps.propsAt(base, head) == propsAtBefore,
      "the serving properties must be unchanged")
    assert(spark.table(s"graft.$name").columns.toSeq == Seq("k", "v"))
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.$name").head().getLong(0) == 20L,
      "the old data is intact")
    // and a clean REPLACE afterwards still works, properties included
    spark.sql(s"REPLACE TABLE graft.$name " +
      "TBLPROPERTIES ('graft.stats.column' = 'a') AS " +
      "SELECT id AS a, id AS b FROM range(0, 3)")
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.$name").head().getLong(0) == 3L)
    assert(GraftProps.propsAt(base, GraftManifest.latest(base))
      .exists(_.get("graft.stats.column").contains("a")))
  }

  test("TRUNCATE TABLE is a metadata-only version; history stays readable") {
    GraftCatalog.install(spark)
    val name = s"trunc_${java.util.UUID.randomUUID().toString.take(8)}"
    spark.sql(s"CREATE TABLE graft.$name AS SELECT id FROM range(0, 30)")
    val base = GraftCatalog.baseFor(name).get
    spark.sql(s"TRUNCATE TABLE graft.$name")
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.$name").head().getLong(0) == 0L)
    assert(GraftManifest.latest(base) == 2)
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.$name VERSION AS OF 1")
      .head().getLong(0) == 30L, "truncation is a version, not deletion")
    // and the table accepts inserts again
    spark.sql(s"INSERT INTO graft.$name VALUES (99)")
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.$name").head().getLong(0) == 1L)
  }
}
