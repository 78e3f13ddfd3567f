package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: the engine's plan (`run(spark, sfDir)`) and
  * the ANSI SQL that DuckDB runs over the same parquet tables as its
  * oracle. Registering the two together is what keeps every query
  * oracle-checked.
  */
final case class Query(run: (SparkSession, String) => DataFrame,
                       oracleSql: String)

/** A module of queries: [[registry]] names each query once, and the
  * [[queries]] / [[oracles]] views that [[SparkEntry]] and the
  * benchmarks read are derived from it.
  */
trait QueryModule {
  def registry: Map[String, Query]

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (name, q) => name -> q.run }

  lazy val oracles: Map[String, String] =
    registry.map { case (name, q) => name -> q.oracleSql }
}
