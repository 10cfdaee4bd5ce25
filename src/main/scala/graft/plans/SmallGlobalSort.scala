package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Sort, Union, Window}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.{SortExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.internal.SQLConf

/** Plans a global sort whose input the optimizer estimates at or under the
  * broadcast budget (`spark.sql.autoBroadcastJoinThreshold`; a threshold
  * ≤ 0 never qualifies) as one sort task behind a single-partition
  * exchange, instead of Spark's range-partitioned sort.
  *
  * Why: `Exchange rangepartitioning` builds a `RangePartitioner`, whose
  * bounds come from a sampling job that recomputes the sort's whole input
  * stage. For a result small enough to broadcast, that second pass (and
  * its job dispatch) costs more than sorting in one task. `SinglePartition`
  * satisfies `OrderedDistribution`, so `EnsureRequirements` adds nothing
  * and no sampling job runs. The budget is the one StarCC's driver finish
  * uses, so no conf key is added.
  *
  * Left to other strategies: `Limit(Sort)` is planned by Spark's
  * `SpecialLimits` as `TakeOrderedAndProject` before this strategy sees
  * the sort, and per-group top-k by [[TopKPerGroupStrategy]]. Streaming
  * plans, inputs of at most one row and inputs Spark already gathers into
  * one partition (so its own plan has no exchange at all) keep Spark's
  * planning.
  */
object SmallGlobalSort extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case s: Sort if s.global && !s.isStreaming && !gathered(s.child) &&
        fitsBudget(s.child) =>
      SortExec(s.order, global = true,
        ShuffleExchangeExec(SinglePartition, planLater(s.child))) :: Nil
    case _ => Nil
  }

  /** True where the physical child is one partition before any sort
    * exchange: at most one row, a window over the whole input (it
    * requires `AllTuples`), or a union or row-wise map of such. */
  private def gathered(p: LogicalPlan): Boolean = p.maxRows.exists(_ <= 1) || (p match {
    case w: Window => w.partitionSpec.isEmpty
    case u: Union => u.children.forall(gathered)
    case Project(_, c) => gathered(c)
    case Filter(_, c) => gathered(c)
    case _ => false
  })

  private def fitsBudget(child: LogicalPlan): Boolean = {
    val budget = SQLConf.get.autoBroadcastJoinThreshold
    budget > 0 && child.stats.sizeInBytes <= budget
  }
}
