package graft

import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see SURVEY.md §7.
  *
  * Every entry in `queries` has a matching DuckDB `oracleSql` unless the op is
  * not SQL-expressible; column names and values are engineered to hash-match
  * (exact-integer arithmetic, deterministic ORDER BY — see
  * [[graft.functions.Portable]]).
  */
object SparkEntry {

  /** Flagship: reference wordcount + point lookup (reference main.c:59-71 —
    * trailing CLI arg is the search term; here a filter on the aggregate).
    * Runs on sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("wordcount")(spark, "/root/testdata/sf0.001")
      .where(col("word").isin("spark", "data", "the", "batch"))

  def queries: Map[String, Q] =
    TextQueries.queries ++ Relational.queries ++ AdvancedQueries.queries ++
      EventQueries.queries ++ DedupQueries.queries ++
      SimilarityQueries.queries ++ MrQueries.queries ++
      MultimodalQueries.queries ++ StatsQueries.queries

  def oracleSql: Map[String, String] =
    TextQueries.oracles ++ Relational.oracles ++ AdvancedQueries.oracles ++
      EventQueries.oracles ++ DedupQueries.oracles ++
      SimilarityQueries.oracles ++ MrQueries.oracles ++
      MultimodalQueries.oracles ++ StatsQueries.oracles
}
