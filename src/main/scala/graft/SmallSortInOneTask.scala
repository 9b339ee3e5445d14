package graft

import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Repartition, Sort}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.adaptive.{LogicalQueryStage, QueryStageExec}
import org.apache.spark.sql.internal.SQLConf

/** AQE runtime optimizer rule: a global sort whose whole input is already
  * computed and small sorts in the one task that reads it.
  *
  * Spark plans `ORDER BY` as a range exchange under the sort. Executing that
  * exchange costs two jobs, a `RangePartitioner` sampling job and the
  * range-shuffle map job, and each of them recomputes the stage below it.
  * Once every leaf below the sort is a materialized query stage (or a
  * `LocalRelation`) and those stages hold no more bytes than AQE's own
  * target for one coalesced partition, AQE would coalesce both the sort's
  * input and its range shuffle to one partition anyway. Then this rule
  * rewrites `Sort(global, child)` to
  * `Sort(global, Repartition(1, shuffle = false, child))`: the sort's
  * required ordered distribution is met by a single partition and the range
  * exchange, with its sampling job, is not planned.
  *
  * The target is `spark.sql.adaptive.coalescePartitions.minPartitionSize`
  * under `coalescePartitions.parallelismFirst` (the default) and
  * `spark.sql.adaptive.advisoryPartitionSizeInBytes` otherwise; the rule is
  * off when `coalescePartitions.enabled` is. The bytes judged are the
  * stages' runtime sizes, the same bytes AQE coalesces by. A sort fed by a
  * file scan, or by more bytes than the target, keeps its range exchange,
  * so at scale the rule leaves plans alone. It runs only under AQE; exclude
  * it by name (`graft.SmallSortInOneTask`) through
  * `spark.sql.adaptive.optimizer.excludedRules`.
  */
object SmallSortInOneTask extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!conf.coalesceShufflePartitionsEnabled) plan
    else plan.transformUp {
      case s @ Sort(_, true, child, _) if !inOneTask(child) && fitsOnePartition(child) =>
        s.copy(child = Repartition(1, shuffle = false, child))
    }

  private def inOneTask(p: LogicalPlan): Boolean = p match {
    case Repartition(1, false, _) => true
    case _ => false
  }

  /** Whether every leaf of `p` is a materialized query stage or a local
    * relation, and the stages' runtime bytes fit AQE's one-partition
    * target. */
  private def fitsOnePartition(p: LogicalPlan): Boolean = {
    val perLeaf: Seq[Option[Seq[QueryStageExec]]] = p.collectLeaves().map {
      case q: LogicalQueryStage =>
        val leaves = q.physicalPlan.collectLeaves()
        val stages = leaves.collect { case s: QueryStageExec => s }
        Option.when(stages.nonEmpty && stages.size == leaves.size &&
          stages.forall(_.isMaterialized))(stages)
      case _: LocalRelation => Some(Nil)
      case _ => None
    }
    perLeaf.forall(_.isDefined) &&
      perLeaf.flatten.flatten.map(_.getRuntimeStatistics.sizeInBytes).sum <= target
  }

  private def target: BigInt =
    if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
      conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
    else conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
}
