package graft.plans

import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.QueryStageExec
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.internal.SQLConf

/** Query-stage prep rule: a global ORDER BY over a small AQE result
  * sorts in one partition, without range sampling.
  *
  * A `RangePartitioning` exchange first runs a sampling job over its
  * input to pick the range bounds. When that input is already known to
  * be small, AQE's partition coalescing would merge the range output
  * back into one partition anyway, so the sampling job is pure fixed
  * cost (one Spark job per ORDER BY). The rule swaps the exchange for a
  * `SinglePartition` one when all of these hold:
  *
  *   - the exchange was added to meet a sort's required distribution
  *     (`ENSURE_REQUIREMENTS`), so a user's `repartitionByRange(n, …)`
  *     keeps its n partitions;
  *   - its input contains a materialized query stage, so its size
  *     estimate carries that stage's runtime statistics;
  *   - that estimate is at most
  *     `spark.sql.adaptive.coalescePartitions.minPartitionSize`;
  *   - `spark.sql.adaptive.coalescePartitions.enabled` is on.
  *
  * The rows are the same either way; only the job count changes.
  */
object SmallSortRule extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan =
    if (!conf.coalesceShufflePartitionsEnabled) plan
    else plan.transformUp {
      case e @ ShuffleExchangeExec(_: RangePartitioning, child, ENSURE_REQUIREMENTS, _)
          if small(child) =>
        e.copy(outputPartitioning = SinglePartition)
    }

  private def small(child: SparkPlan): Boolean =
    child.exists {
      case s: QueryStageExec => s.isMaterialized
      case _ => false
    } && child.logicalLink.exists(_.stats.sizeInBytes <=
      conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE))
}
