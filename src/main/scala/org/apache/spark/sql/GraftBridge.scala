package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Four-forwarder bridge into the `private[sql]`/`private[spark]` seams a
  * whole-operator extension needs: constructing a DataFrame from a custom
  * LogicalPlan (`Dataset.ofRows`), a Column from a resolved Attribute
  * (`ExpressionUtils.column`), re-claiming a checkpointed frame's
  * hash partitioning ([[reclaimHashPartitioning]]), and draining the
  * listener bus ([[drainListenerBus]], Bench's counters). The standard
  * OSS-extension technique (Delta Lake, GraphFrames, Iceberg all ship
  * the same shim) — kept to exactly these forwarders so the engine's
  * dependence on non-public surface is auditable in one file.
  */
object GraftBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** Re-assert `hashpartitioning(cols, n)` on a CHECKPOINTED frame.
    *
    * `df.repartition(n, col).localCheckpoint()` physically lays rows
    * out hash-partitioned and the checkpoint preserves that layout
    * block-for-block — but under AQE the checkpoint captures the
    * partitioning from the not-yet-finalized AdaptiveSparkPlanExec, so
    * the resulting LogicalRDD reports UnknownPartitioning and every
    * downstream join re-exchanges a frame that is already correctly
    * placed (measured: the iterative-components loop re-shuffled its
    * round-invariant edge frame every round). This rebuilds the
    * LogicalRDD with the partitioning the caller just MATERIALIZED —
    * the caller must pass exactly the repartition's own (cols, n);
    * claiming a layout that wasn't produced would silently mis-join.
    * Returns `df` unchanged when the plan is not a checkpointed RDD or
    * a named column is missing (never claims what it cannot see).
    */
  def reclaimHashPartitioning(df: DataFrame, cols: Seq[String],
      n: Int): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    ds.queryExecution.logical match {
      case lr: execution.LogicalRDD =>
        val attrs = cols.map(c => lr.output.find(_.name == c))
        if (attrs.exists(_.isEmpty)) df
        else {
          val part = catalyst.plans.physical.HashPartitioning(
            attrs.map(_.get), n)
          // Forward the checkpoint's statistics and constraints instead
          // of dropping them (r16 ADVICE): with (None, None) the rebuilt
          // frame fell back to defaultSizeInBytes and CBO's join-strategy
          // choices could differ from the un-reclaimed frame. The curried
          // originStats/originConstraints have no public accessors, but
          // `stats`/`constraints` ARE them when set — localCheckpoint
          // always passes Some(optimizedPlan.stats)/Some(constraints) —
          // and when origin* were None the effective values equal what
          // the unmodified frame reports, so forwarding them changes
          // only outputPartitioning either way. Output attributes are
          // unchanged, so the constraint set needs no remapping.
          classic.Dataset.ofRows(ds.sparkSession.asInstanceOf[classic.SparkSession],
            lr.copy(outputPartitioning = part)(
              ds.sparkSession.asInstanceOf[classic.SparkSession],
              Some(lr.stats), Some(lr.constraints)))
        }
      case _ => df
    }
  }

  /** Blocks until every listener has processed every event posted so far
    * (`LiveListenerBus.waitUntilEmpty`, the barrier Spark's own suites
    * use), so a listener's view of an action that has returned is
    * complete. Throws a TimeoutException after `timeoutMs`.
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext,
      timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
