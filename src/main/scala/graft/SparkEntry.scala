package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates the per-package query registries. Every entry with an
  * `oracleSql` row is hash-checked against DuckDB by the driver; entries
  * without one (hash-based / float-heavy ops) get a rows-only check.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    graft.queries.Relational.q04(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.Relational.queries ++
      graft.queries.Extras.queries ++
      graft.queries.Extras2.queries ++
      graft.queries.Extras3.queries ++
      graft.queries.Extras4.queries ++
      graft.queries.Extras5.queries ++
      graft.queries.Extras6.queries ++
      graft.queries.Extras7.queries ++
      graft.queries.Extras8.queries ++
      graft.queries.CodecQueries.queries ++
      graft.ops.TextOps.queries ++
      graft.ops.Dedup.queries ++
      graft.ops.Similarity.queries ++
      graft.ops.Multimodal.queries ++
      graft.ops.Pipeline.queries ++
      graft.streaming.EventsStream.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    graft.queries.Relational.oracle ++
      graft.queries.Extras.oracle ++
      graft.queries.Extras2.oracle ++
      graft.queries.Extras3.oracle ++
      graft.queries.Extras4.oracle ++
      graft.queries.Extras5.oracle ++
      graft.queries.Extras6.oracle ++
      graft.queries.Extras7.oracle ++
      graft.queries.Extras8.oracle ++
      graft.queries.CodecQueries.oracle ++
      graft.ops.TextOps.oracle ++
      graft.ops.Dedup.oracle ++
      graft.ops.Similarity.oracle ++
      graft.ops.Multimodal.oracle ++
      graft.ops.Pipeline.oracle ++
      graft.streaming.EventsStream.oracle
}
