package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Sort}
import org.apache.spark.sql.execution.{CoalesceExec, SortExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.adaptive.LogicalQueryStage
import org.apache.spark.sql.internal.SQLConf

/** Plans a global sort of a small input whose size is measured, not
  * estimated, as one task: `SortExec(global)` over `CoalesceExec(1)`.
  * That output is a single partition, so `EnsureRequirements` adds no
  * range exchange, and the range-bound sampling job and the range
  * shuffle never run.
  *
  * The size is measured when every leaf of the sort's input is an AQE
  * `LogicalQueryStage` (the runtime statistics of a materialized stage)
  * or a `LocalRelation`. AQE re-plans after the stage below a sort has
  * materialized, so a groupBy + orderBy read runs its aggregation stage
  * and then one result task. The bound is Spark's own
  * `spark.sql.adaptive.advisoryPartitionSizeInBytes`: an input AQE would
  * coalesce into one post-shuffle partition anyway is sorted without
  * the shuffle. Above it, or over an input that has not materialized (a
  * sort straight over a scan), planning is Spark's, so a 100 TB sort
  * still range-partitions. A sort under a limit never reaches this
  * strategy: `SpecialLimits` plans it as `TakeOrderedAndProject`.
  */
object SmallSortStrategy extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Sort(order, true, child, _) if measuredSmall(child) =>
      SortExec(order, global = true, CoalesceExec(1, planLater(child))) :: Nil
    case _ => Nil
  }

  private def measuredSmall(input: LogicalPlan): Boolean =
    !input.isStreaming &&
      input.collectLeaves().forall {
        case _: LogicalQueryStage | _: LocalRelation => true
        case _ => false
      } &&
      input.stats.sizeInBytes <= SQLConf.get.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
}
