package graft.plans

import org.apache.spark.sql.{GraftPlanBridge, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Sort}
import org.apache.spark.sql.execution.{CoalesceExec, SortExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.internal.SQLConf

/** graft's planner additions on a live session. The builder-time path is
  * `.withExtensions(new GraftExtensions)`, which injects the same ones. */
object Plans {

  /** Idempotently install [[AsOfJoinStrategy]], [[SmallSortStrategy]]
    * and [[AsOfJoinRules]]. Every gate `SparkEntry.queries` hands out and
    * every `MapReduce` front door calls it. */
  def install(s: SparkSession): Unit = {
    GraftPlanBridge.addStrategy(s, AsOfJoinStrategy)
    GraftPlanBridge.addStrategy(s, SmallSortStrategy)
    GraftPlanBridge.addOptimization(s, AsOfJoinRules)
  }
}

/** Plans a small batch global sort in one task: `Sort(order, global)`
  * over an input of at most `spark.sql.adaptive.coalescePartitions.
  * minPartitionSize` bytes (1 MiB; below it AQE merges the partitions
  * into one anyway) becomes a sort of the child coalesced to one
  * partition. Its `SinglePartition` output satisfies the sort's ordered
  * distribution, so no range exchange is planned, and with it go the
  * sampling job and the shuffle-map job that each recompute the input.
  * AQE re-plans through the session planner after each stage, so a sort
  * over a small aggregate of a large table qualifies once the
  * aggregate's stage has run and reports its shuffle bytes. Streaming
  * plans and larger sorts stay with Spark. */
object SmallSortStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Sort(order, true, child, _) if !plan.isStreaming &&
        child.stats.sizeInBytes <=
          SQLConf.get.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE) =>
      SortExec(order, global = true, CoalesceExec(1, planLater(child))) :: Nil
    case _ => Nil
  }
}
