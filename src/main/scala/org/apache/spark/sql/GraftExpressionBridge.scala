package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerEvent
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/**
 * Bridge between graft's custom Catalyst expressions and the public Column
 * API. Spark 4 moved Column construction behind `private[sql]`
 * (`classic.ExpressionUtils`), so extension libraries provide this shim in
 * the `org.apache.spark.sql` package — the standard pattern for libraries
 * that ship native expressions. It also reaches the two listener-bus
 * internals [[graft.monitoring.JobMetrics]] needs.
 */
object GraftExpressionBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `(name, descending, nullsFirst)` of a plain column, bare (ascending) or
    * under any `.asc`/`.desc` variant; None for any other expression. */
  def sortKey(c: Column): Option[(String, Boolean, Boolean)] = c.node match {
    case internal.SortOrder(internal.UnresolvedAttribute(Seq(n), _, _, _), dir, nulls, _) =>
      Some((n, dir == internal.SortOrder.Descending, nulls == internal.SortOrder.NullsFirst))
    case internal.UnresolvedAttribute(Seq(n), _, _, _) => Some((n, false, true))
    case _ => None
  }

  /** Analyzed logical plan of a DataFrame — for embedding one as a scalar subquery. */
  def analyzedPlan(df: Dataset[_]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed

  /**
   * `mapPartitions` over the PHYSICAL `InternalRow` stream of `df`,
   * rebuilt as a DataFrame of `schema` — without the per-row external
   * codec `Dataset.mapPartitions` inserts (DeserializeToObject → closure →
   * SerializeFromObject: per-field type validation, UTF8String↔String and
   * Decimal↔BigDecimal conversions in BOTH directions). For a cheap linear
   * pass (graft's per-shard running-sum scan) that codec IS the cost —
   * round 20 measured it dominating the scaffold's heaviest job.
   *
   * Contract for `f`: input rows may be reused buffers — `.copy()`
   * anything held across `next()` calls (including values extracted from
   * a row); output rows must match `schema` slot for slot.
   */
  def mapPartitionsInternal(df: Dataset[Row], schema: org.apache.spark.sql.types.StructType)(
      f: Iterator[org.apache.spark.sql.catalyst.InternalRow] =>
         Iterator[org.apache.spark.sql.catalyst.InternalRow]): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val session = ds.sparkSession
    val rdd = ds.queryExecution.toRdd.mapPartitions(f)
    val attrs = org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema)
    // Carry the child's cost statistics onto the rebuilt leaf (the same
    // origin-stats mechanism Dataset.checkpoint uses): a stats-less
    // LogicalRDD defaults to spark.sql.defaultSizeInBytes — effectively
    // infinite — which silently flips every downstream broadcast-eligible
    // join over this frame to sort-merge (PlanInvariantsSpec caught
    // bh_select/time_weighted_load doing exactly that).
    val childStats = ds.queryExecution.optimizedPlan.stats
    val plan = execution.LogicalRDD(
      attrs, rdd,
      org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning(0),
      Nil, false, None)(session, Some(childStats), None)
    classic.Dataset.ofRows(session, plan)
  }

  /** Posts `event` on the context's listener bus: each listener receives
    * it after every event posted before it. */
  def post(sc: SparkContext, event: SparkListenerEvent): Unit = sc.listenerBus.post(event)

  /** The query execution an execution-end event reports, when it succeeded. */
  def succeeded(end: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    Option(end.qe).filter(_ => end.executionFailure.isEmpty)
}
