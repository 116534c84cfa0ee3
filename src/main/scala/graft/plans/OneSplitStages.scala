package graft.plans

import org.apache.spark.sql.catalyst.expressions.{DynamicPruning, Expression, PlanExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{First, Last}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.BroadcastQueryStageExec
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ENSURE_REQUIREMENTS, ShuffleExchangeExec, ShuffleExchangeLike}

/** Run a query over a one-split file scan as one Spark stage.
  *
  * `EnsureRequirements` plans a hash exchange under every final aggregate
  * and a range exchange under every global sort, whatever the input's size.
  * Over a scan that reads as one `FilePartition` the data is already in one
  * partition, which satisfies every distribution, yet each exchange still
  * costs a stage: a grouped, ordered aggregate runs as four one-task jobs
  * (scan with partial aggregate, the range sample, the range shuffle, the
  * result), and per-stage scheduling, task-binary broadcasts and AQE
  * re-planning, not the scan, set its latency. This rule removes the
  * exchanges `EnsureRequirements` added when all of these hold:
  *
  *  - outside broadcast exchanges the plan has one leaf, a non-bucketed
  *    `FileSourceScanExec` without subquery or dynamic pruning filters that
  *    plans to exactly one `FilePartition` (so it has no shuffled join,
  *    union or cartesian product either: each would bring a second leaf);
  *  - no expression is nondeterministic (`rand`,
  *    `monotonically_increasing_id`, `spark_partition_id`) or an
  *    order-dependent `first`/`last`, which Spark documents as
  *    nondeterministic but no longer flags;
  *  - every shuffle there comes from `EnsureRequirements`, so a user's
  *    `repartition` keeps the plan as it is.
  *
  * The aggregate with ORDER BY then runs as one job, a broadcast join as
  * the broadcast plus one. It is a query-stage preparation rule (registered
  * in `GraftExtensions`): AQE applies it right after `EnsureRequirements`,
  * to the initial plan and after every re-optimization. Broadcast subtrees
  * are left as they are. */
object OneSplitStages extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan =
    if (plan.exists(_.isInstanceOf[ShuffleExchangeLike]) && oneSplit(plan)) strip(plan) else plan

  private def broadcast(p: SparkPlan): Boolean = p match {
    case _: BroadcastExchangeLike | _: BroadcastQueryStageExec => true
    case _ => false
  }

  /** The nodes outside broadcast subtrees. */
  private def outside(p: SparkPlan): Seq[SparkPlan] =
    if (broadcast(p)) Nil else p +: p.children.flatMap(outside)

  private def strip(p: SparkPlan): SparkPlan = p match {
    case b if broadcast(b) => b
    case s: ShuffleExchangeExec => strip(s.child)
    case other => other.withNewChildren(other.children.map(strip))
  }

  private def oneSplit(plan: SparkPlan): Boolean = {
    val nodes = outside(plan)
    val shufflesOk = nodes.forall {
      case s: ShuffleExchangeExec => s.shuffleOrigin == ENSURE_REQUIREMENTS
      case _: ShuffleExchangeLike => false
      case _ => true
    }
    shufflesOk && !plan.exists(_.expressions.exists(_.exists(orderDependent))) &&
      (nodes.filter(_.children.isEmpty) match {
        case Seq(scan: FileSourceScanExec) => onePartition(scan)
        case _ => false
      })
  }

  private def orderDependent(e: Expression): Boolean = e match {
    case _: First | _: Last => true
    case other => !other.deterministic
  }

  /** Whether the scan plans to exactly one `FilePartition`, counted from
    * its selected partitions the way `createNonBucketedReadRDD` cuts and
    * packs them: a splitable file in `maxSplitBytes` pieces (none when it is
    * empty), any other file whole; `getFilePartitions` then packs the
    * pieces largest first and opens a new partition once the next piece
    * would pass `maxSplitBytes`, each piece packed adding the open cost.
    * Reads the file listing only: building `inputRDD` here would create the
    * reader and broadcast the Hadoop configuration at planning time. */
  private def onePartition(scan: FileSourceScanExec): Boolean =
    !scan.bucketedScan &&
      !(scan.partitionFilters ++ scan.dataFilters).exists(_.exists {
        case _: PlanExpression[_] | _: DynamicPruning => true
        case _ => false
      }) && {
        val rel = scan.relation
        val listing = scan.selectedPartitions
        val maxSplit = FilePartition.maxSplitBytes(rel.sparkSession, listing)
        val (pieces, bytes) = listing.filePartitionIterator.flatMap(_.files).foldLeft((0L, 0L)) {
          case ((n, b), f) =>
            val splitable = rel.fileFormat.isSplitable(rel.sparkSession, rel.options, f.getPath)
            (n + (if (splitable) (f.getLen + maxSplit - 1) / maxSplit else 1L), b + f.getLen)
        }
        pieces == 1 ||
          (pieces > 1 && bytes + (pieces - 1) * conf.filesOpenCostInBytes <= maxSplit)
      }
}
