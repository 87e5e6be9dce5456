package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.QueryDef

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates every operator module's declared queries. Each entry has a
  * matching DuckDB oracle in [[oracleSql]] unless the operator is not
  * SQL-expressible (probabilistic dedup/ANN), in which case the driver
  * records a rows-only check and ScalaTest covers semantics.
  */
object SparkEntry {

  /** All declared capabilities, one QueryDef per operator (SURVEY.md §2). */
  def allDefs: Seq[QueryDef] =
    operators.Relational.defs ++ operators.RelationalExt.defs ++
      operators.EventOps.defs ++
      operators.TextAnalysis.defs ++ operators.Dedup.defs ++
      operators.Curation.defs ++ operators.Compliance.defs ++
      operators.Maintenance.defs ++ operators.Pipeline.defs ++
      operators.Similarity.defs ++ operators.Streams.defs ++
      operators.Multimodal.defs ++ operators.Generators.defs ++
      operators.NestedTypes.defs ++ operators.Temporal.defs ++
      operators.Retrieval.defs ++ operators.Graph.defs ++
      operators.Sketches.defs ++ operators.Pq.defs ++ operators.Fuzzy.defs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q05_multiway_join")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    QueryDef.toQueriesMap(allDefs)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    QueryDef.toOracleMap(allDefs)
}
