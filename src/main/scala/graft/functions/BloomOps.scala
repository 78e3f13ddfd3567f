package graft.functions

import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{ScalarSubquery, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain

/** Bloom-filter semi-join pruning as an explicit, reusable operator.
  *
  * The pattern Spark's own `InjectRuntimeFilter` applies when it can:
  * aggregate the (filtered, selective) build side's join keys into a
  * bloom filter, broadcast the few-KB bitmap, and drop probe-side rows
  * scan-side BEFORE they reach the join's shuffle. At 100 TB this is
  * the difference between shuffling the full fact table and shuffling
  * only the ~selectivity fraction that can possibly match; false
  * positives are eliminated by the real join, so results are exactly
  * those of the unpruned join (which is what the DuckDB oracle
  * checks). Exposing it explicitly makes the pruning deterministic
  * rather than dependent on the optimizer's selectivity heuristics.
  *
  * Uses the same codegen'd Catalyst expressions as the built-in
  * runtime filter (`BloomFilterAggregate` / `BloomFilterMightContain`
  * over `xxhash64`), surfaced through [[GraftBridge]].
  */
object BloomOps {

  /** Aggregate: bloom filter (binary) over the xxhash64 of `key`. */
  def bloomAgg(key: Column, expectedItems: Long): Column =
    GraftBridge.column(
      new BloomFilterAggregate(
        new XxHash64(Seq(GraftBridge.expression(key))), expectedItems)
        .toAggregateExpression())

  /** Probe-side pruning: keep only `probe` rows whose `probeKey` might
    * be in `build`'s `buildKey` set. The bloom feeds the predicate as
    * a scalar subquery — the form `might_contain` requires (and the
    * one InjectRuntimeFilter itself emits), which Spark executes once
    * and broadcasts to the probe scan.
    */
  def bloomPrune(probe: DataFrame, probeKey: Column,
                 build: DataFrame, buildKey: Column,
                 expectedItems: Long): DataFrame = {
    val bfPlan = build.agg(bloomAgg(buildKey, expectedItems).as("_bf"))
      .queryExecution.analyzed
    probe.filter(GraftBridge.column(
      BloomFilterMightContain(
        ScalarSubquery(bfPlan),
        new XxHash64(Seq(GraftBridge.expression(probeKey))))))
  }
}
