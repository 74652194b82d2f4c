package graft.plans

import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{BroadcastQueryStageExec, QueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.internal.SQLConf

/** AQE query-stage preparation rule: a global sort whose input is already
  * materialized and small runs as ONE range partition.
  *
  * A range exchange with n > 1 partitions picks its bounds with a
  * `RangePartitioner`, which runs a separate sample job over the
  * exchange's child. A final ORDER BY over a shuffled input therefore
  * computes that input twice: once for the sample, once for the exchange.
  * A one-partition `RangePartitioner` takes no sample. When AQE re-plans
  * after a stage completes, this rule rewrites
  * `ShuffleExchangeExec(RangePartitioning(o, n > 1), child,
  * ENSURE_REQUIREMENTS)` to `RangePartitioning(o, 1)` if every leaf of
  * `child` is a materialized shuffle or broadcast stage and their bytes sum
  * to at most `spark.sql.adaptive.advisoryPartitionSizeInBytes`, the
  * existing conf for one partition's worth of data.
  *
  * It never touches a range exchange the query asked for
  * (`repartitionByRange`: the REPARTITION_BY_* origins that WRITE ORDERED
  * BY and zorder landings rely on), nor one over an unmaterialized scan, so
  * the initial plan never changes; only re-plans after a stage completes do.
  */
object SmallRangeSort extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case e @ ShuffleExchangeExec(RangePartitioning(order, n), child,
        ENSURE_REQUIREMENTS, _) if n > 1 && smallMaterialized(child) =>
      e.copy(outputPartitioning = RangePartitioning(order, 1))
  }

  private def smallMaterialized(child: SparkPlan): Boolean = {
    val leaves = child.collectLeaves()
    val stages = leaves.collect {
      case s: ShuffleQueryStageExec if s.isMaterialized => s: QueryStageExec
      case b: BroadcastQueryStageExec if b.isMaterialized => b: QueryStageExec
    }
    stages.size == leaves.size &&
      stages.map(_.getRuntimeStatistics.sizeInBytes).sum <=
        conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
  }
}
