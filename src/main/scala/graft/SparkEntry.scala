package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator group contributes a `queries` map (name → builder)
  * and, where SQL-expressible, a matching DuckDB `oracleSql` entry
  * with identical column names (the driver's compare hashes values
  * after sorting columns by name).
  */
object SparkEntry {

  private val groups: Seq[(Map[String, (SparkSession, String) => DataFrame], Map[String, String])] = Seq(
    (operators.Analytics.queries, operators.Analytics.oracleSql),
    (operators.Registry.queries, operators.Registry.oracleSql),
    (operators.Audit.queries, operators.Audit.oracleSql),
    (operators.Analysis.queries, operators.Analysis.oracleSql),
    (operators.Compat.queries, operators.Compat.oracleSql),
    (operators.FormatCompat.queries, operators.FormatCompat.oracleSql),
    (operators.Intelligence.queries, operators.Intelligence.oracleSql),
    (operators.Dedup.queries, operators.Dedup.oracleSql),
    (operators.Pipeline.queries, operators.Pipeline.oracleSql),
    (operators.Similarity.queries, operators.Similarity.oracleSql),
    (operators.TextAnalysis.queries, operators.TextAnalysis.oracleSql),
    (operators.Multimodal.queries, operators.Multimodal.oracleSql),
    (operators.Streaming.queries, operators.Streaming.oracleSql),
    (operators.Temporal.queries, operators.Temporal.oracleSql))

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    operators.Analytics.q1PricingSummary(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. Each
    * returns an unordered relation: order is part of a result only
    * under a limit (top-k), parity compares sorted multisets of rows,
    * and a caller who wants order sorts at the edge (SURVEY.md §5). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    groups.map(_._1).reduce(_ ++ _)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    groups.map(_._2).reduce(_ ++ _)
}
