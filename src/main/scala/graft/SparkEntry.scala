package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Query implementations live under [[graft.queries]]; each map entry is one
  * operator from SURVEY §2 (or a scale-path operator) with a DuckDB oracle. */
object SparkEntry {

  /** The smallest testdata scale: the smoke check's and `Tools plan`'s. */
  val smokeSfDir = "/root/testdata/sf0.001"
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    RelationalQueries.defs("q1_agg")(spark, smokeSfDir)

  /** Merge query-group maps, failing LOUDLY on duplicate names — with plain
    * `++` a reused query name silently shadows the earlier entry and its
    * oracle quietly leaves the correctness gate. */
  private def merged[T](parts: Map[String, T]*): Map[String, T] = {
    val out = parts.reduce(_ ++ _)
    if (out.size != parts.map(_.size).sum) {
      val dups = parts.flatMap(_.keys).groupBy(identity)
        .collect { case (k, vs) if vs.size > 1 => k }
      throw new IllegalStateException(
        s"duplicate query names across query files: ${dups.mkString(", ")}")
    }
    out
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = merged(
    RelationalQueries.defs, NormalizeQueries.defs, ValidateQueries.defs,
    MappingQueries.defs, SourceQueries.defs, ReshapeQueries.defs,
    SinkQueries.defs, DedupQueries.defs, SimilarityQueries.defs,
    TextQueries.defs, StreamQueries.defs, MultimodalQueries.defs,
    SessionQueries.defs, SemiStructuredQueries.defs, OlapQueries.defs,
    PrivacyQueries.defs, GraphQueries.defs, MiningQueries.defs)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = {
    val out = merged(
      RelationalQueries.oracles, NormalizeQueries.oracles, ValidateQueries.oracles,
      MappingQueries.oracles, SourceQueries.oracles, ReshapeQueries.oracles,
      SinkQueries.oracles, DedupQueries.oracles, SimilarityQueries.oracles,
      TextQueries.oracles, StreamQueries.oracles, MultimodalQueries.oracles,
      SessionQueries.oracles, SemiStructuredQueries.oracles, OlapQueries.oracles,
      PrivacyQueries.oracles, GraphQueries.oracles, MiningQueries.oracles)
    val orphanOracles = out.keySet -- queries.keySet
    if (orphanOracles.nonEmpty)
      throw new IllegalStateException(
        s"oracle entries without a matching query: ${orphanOracles.mkString(", ")}")
    out
  }
}
