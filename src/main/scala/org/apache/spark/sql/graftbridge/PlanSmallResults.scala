package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, OneRowRelation, Project, Sort}
import org.apache.spark.sql.execution.{CoalesceExec, LocalTableScanExec, SortExec, SparkPlan}
import org.apache.spark.sql.internal.SQLConf

/** Planner strategy for results small enough to need no parallelism.
  *
  * A global `Sort` whose child's estimated size is at most
  * `spark.sql.adaptive.advisoryPartitionSizeInBytes` (the size adaptive
  * execution aims for in one post-shuffle partition) plans as a sort over
  * its child coalesced to one partition. `CoalesceExec(1)` reports
  * `SinglePartition`, which satisfies the sort's ordered distribution, so
  * no range exchange is added: the child and the sort run in one task,
  * with no sampling job and no shuffle. Rows equal on every sort key may
  * come out in another order than a range exchange gives them; SQL leaves
  * that order open. The estimate is the one Spark's broadcast choice uses;
  * above a finished adaptive stage the child is a `LogicalQueryStage`
  * whose size was measured. Above the guard, or for a streaming child,
  * Spark plans the sort as before. `ORDER BY … LIMIT` never reaches this
  * case: `SpecialLimits` plans the `Limit` and its sort together.
  *
  * A `Project` of aliased literals over `OneRowRelation` (`SELECT 1 AS
  * one`) plans as a one-row local scan, which
  * `SparkArrowBridge.arrowBatches` encodes on the driver with no Spark job.
  * Constant folding has already made a literal of every foldable
  * expression it could evaluate; one it left (`1/0`) is planned by Spark
  * and fails at execution, as before.
  */
final class PlanSmallResults(session: SparkSession) extends GraftStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Sort(order, true, child, _) if !child.isStreaming &&
        child.stats.sizeInBytes <= session.sessionState.conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES) =>
      SortExec(order, global = true, CoalesceExec(1, planLater(child))) :: Nil
    case Project(list, _: OneRowRelation) if list.forall { case Alias(_: Literal, _) => true; case _ => false } =>
      LocalTableScanExec(plan.output, Seq(InternalRow.fromSeq(list.map(_.eval()))), None) :: Nil
    case _ => Nil
  }
}
