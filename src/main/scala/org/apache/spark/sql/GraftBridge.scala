package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal public bridge to the `private[sql]` Column ⇄ Expression
  * converters — the supported way to expose a custom Catalyst
  * expression as a user-facing Column without going through a UDF.
  * Lives in this package solely to cross the access boundary; contains
  * no logic.
  */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a temp SQL function on an already-built session (the
    * extensions path in [[graft.functions.GraftExtensions]] covers
    * sessions built with `.withExtensions`; this covers everything
    * else, e.g. shared test sessions).
    */
  def registerFunction(spark: SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "internal")

  /** Build a DataFrame over a custom logical plan (the `private[sql]`
    * Dataset.ofRows) — how a custom operator's DataFrame API hands its
    * LogicalPlan back to the session.
    */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `df` as a STREAMING frame over the rows its plan computes — how a
    * v1 streaming source hands a batch plan back as one micro-batch
    * (`getBatch` must return `isStreaming = true`; Spark's own v1
    * sources build their batches the same way).
    */
  def streamingFrame(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    ds.sparkSession.internalCreateDataFrame(
      ds.queryExecution.toRdd, ds.schema, isStreaming = true)
  }

  /** `DataType.sameType` (ignore-nullability equality) is
    * `private[sql]` — bridged for custom-plan type validation.
    */
  def sameType(a: org.apache.spark.sql.types.DataType,
               b: org.apache.spark.sql.types.DataType): Boolean =
    a.sameType(b)

  /** `DataType.asNullable` (every nested field nullable) is
    * `private[spark]` — bridged for expressions that, like Spark's own
    * `from_json`, declare their output schema nullable throughout.
    */
  def asNullable(t: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType =
    t.asNullable

  /** The planner strategies a SparkSessionExtensions instance would
    * contribute to a session built `.withExtensions` — `private[sql]`,
    * exposed so specs can prove the injection actually registers the
    * engine's strategies (not just that the lambda doesn't throw).
    */
  def plannerStrategies(ext: SparkSessionExtensions, spark: SparkSession)
      : Seq[org.apache.spark.sql.execution.SparkStrategy] =
    ext.buildPlannerStrategies(spark.asInstanceOf[classic.SparkSession])

  /** Idempotently add a planner strategy to an already-built session —
    * the runtime twin of SparkSessionExtensions.injectPlannerStrategy
    * for sessions not constructed with `.withExtensions`.
    */
  def addStrategy(spark: SparkSession,
                  strategy: org.apache.spark.sql.execution.SparkStrategy): Unit = {
    val s = spark.asInstanceOf[classic.SparkSession]
    if (!s.experimental.extraStrategies.contains(strategy))
      s.experimental.extraStrategies =
        s.experimental.extraStrategies :+ strategy
  }

  /** Actually free the storage blocks behind a localCheckpoint'd
    * frame. `Dataset.unpersist()` goes through the CacheManager,
    * which does not track checkpoint RDDs — for them it is a SILENT
    * NO-OP (verified: getPersistentRDDs still holds the RDD after
    * unpersist(true)), so an iterative operator that "unpersists"
    * superseded rounds is really pinning every round until the
    * session dies. The RDD that localCheckpoint persisted lives in
    * the frame's LogicalRDD leaf; unpersisting THAT releases the
    * blocks. Walks the analyzed plan, so it also works on frames
    * derived from a checkpoint (select/drop/filter) — and therefore
    * frees EVERY checkpoint leaf under the frame: only call it when
    * the checkpointed data is genuinely dead to all consumers.
    */
  def freeCheckpoint(ds: Dataset[_]): Unit =
    ds.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** The FINAL adaptive physical plan — forces query-stage execution
    * so AQE's runtime join/exchange choices (the plan that actually
    * ran) are inspectable, not the static initial guess. `private[sql]`
    * surface, hence bridged.
    */
  def finalPlan(ds: Dataset[_]): org.apache.spark.sql.execution.SparkPlan =
    ds.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.finalPhysicalPlan
      case p => p
    }

  /** Children of a physical node FOR TRAVERSAL, crossing the
    * leaf-node boundaries `TreeNode.collect` stops at: adaptive
    * sub-plans, materialized query stages, and reused exchanges all
    * hide their subtree behind a LeafExecNode facade.
    */
  def planChildren(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      Seq(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      Seq(q.plan)
    case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
      Seq(r.child)
    case _ => p.children
  }

  /** Runtime twin of SparkSessionExtensions.injectOptimizerRule. */
  def addOptimization(spark: SparkSession,
                      rule: org.apache.spark.sql.catalyst.rules.Rule[
                        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]): Unit = {
    val s = spark.asInstanceOf[classic.SparkSession]
    if (!s.experimental.extraOptimizations.contains(rule))
      s.experimental.extraOptimizations =
        s.experimental.extraOptimizations :+ rule
  }
}
