package graft.functions

import scala.annotation.tailrec
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.internal.SQLConf

/** AQE query-stage preparation rule ([[GraftExtensions]]): a global
  * sort's range exchange over a result AQE would read as one partition
  * anyway shuffles to [[SinglePartition]] instead. A range exchange
  * samples its input for the partition bounds in a job of its own
  * before it shuffles; a single-partition exchange runs no such job.
  *
  * It fires only when the exchange (one `EnsureRequirements` added)
  * sits on a chain of operators that add no rows (project, filter,
  * aggregate, window, sort) over one MATERIALIZED shuffle stage, and
  * that stage's bytes are no more than coalescing folds into one
  * partition: `coalescePartitions.minPartitionSize` under
  * `parallelismFirst`, else the larger of it and the advisory size.
  * Then the range exchange's reduce side would also be one task, so no
  * parallelism is lost and the sort stays global. (The bytes are the
  * stage's, read before the chain runs: a projection that widens rows
  * can take the sort's input past the limit.) An initial plan has
  * no materialized stage, so it is never changed; the rule acts at AQE
  * re-plans, once the stage below has run.
  */
object SinglePartitionSort extends Rule[SparkPlan] {
  def apply(plan: SparkPlan): SparkPlan =
    if (!conf.getConf(SQLConf.COALESCE_PARTITIONS_ENABLED)) plan
    else plan.transformUp {
      case e @ ShuffleExchangeExec(_: RangePartitioning, child, ENSURE_REQUIREMENTS, _)
          if stageBytesBelow(child).exists(_ <= foldedBytes) =>
        e.copy(outputPartitioning = SinglePartition)
    }

  /** Bytes at or under which coalescing reads a shuffle as one partition. */
  private def foldedBytes: Long = {
    val min = conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
    if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST)) min
    else math.max(min, conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
  }

  /** The bytes of the materialized shuffle stage under a chain of
    * operators that add no rows, or None when `p` is not such a chain.
    */
  @tailrec private def stageBytesBelow(p: SparkPlan): Option[Long] = p match {
    case s: ShuffleQueryStageExec =>
      if (s.isMaterialized) Some(s.mapStats.fold(0L)(_.bytesByPartitionId.sum)) else None
    case _: ProjectExec | _: FilterExec | _: BaseAggregateExec | _: WindowExec | _: SortExec |
        _: AQEShuffleReadExec => stageBytesBelow(p.children.head)
    case _ => None
  }
}
