package graft

import org.apache.spark.sql.{SparkSession, DataFrame}

/** The engine's query surface (SURVEY.md §7).
  *
  * Every implemented operator from SURVEY.md §2 is registered as a
  * named query together with its DuckDB oracle ([[oracleSql]],
  * hash-compared by `scripts/local_verify.py` on sf0.01). Behaviour
  * the SQL cannot see (LSH bucketing internals, streaming state
  * machines, multimodal decode) is pinned by each module's own
  * ScalaTest suite.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Multi-way broadcast join + aggregation — exercises scan, pushdown,
    * broadcast strategy and partial aggregation in one DAG.
    */
  def entry(spark: SparkSession): DataFrame =
    analytics.Relational.revenueByNation(spark, "/root/testdata/sf0.001")

  /** Every query module, each listing its queries once with their
    * oracles ([[QueryModule.registry]]).
    */
  private[graft] val modules: Seq[QueryModule] = Seq(
    analytics.Relational, analytics.Affinity, analytics.Stats,
    analytics.TimeSeries, analytics.Events, analytics.TextOps,
    analytics.Similarity, analytics.Quality, analytics.Privacy,
    analytics.Packing, analytics.Multimodal, functions.Aggregators,
    operators.Scale, sinks.Sinks, etl.Prep)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.flatMap(_.queries).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables.
    */
  def oracleSql: Map[String, String] =
    modules.flatMap(_.oracles).toMap
}
