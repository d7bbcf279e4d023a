package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Sort}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning, SinglePartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ProjectExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, LogicalQueryStage}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.internal.SQLConf

/** Plans a small global sort over one single-partition exchange.
  *
  * A global `Sort` normally plans as a range exchange, and Spark's range
  * partitioner first runs a sampling job over the sort's input: the
  * whole child pipeline executes a second time, only to pick partition
  * bounds. When that input is no larger than AQE's
  * `spark.sql.adaptive.coalescePartitions.minPartitionSize` (1 MB by
  * default) the coalescer then reads the range shuffle as ONE partition
  * anyway, so the sampler buys nothing. For a sort whose input leaves
  * are that small (the size test below) this rule swaps the range
  * exchange for a `SinglePartition` one: the same rows in the same
  * order, in one partition, with the child run once.
  *
  * Where the sort's child is a final aggregate over a hash exchange
  * (possibly through projections), that hash exchange becomes the
  * single partition instead and the sort needs no exchange of its own:
  * one shuffle where there were two. Partial aggregation stays below
  * the shuffle, so it still ships pre-aggregated rows.
  *
  * Either way the exchange keeps the `ENSURE_REQUIREMENTS` origin of
  * the exchange it replaces: it is the sort's (or the aggregate's)
  * required distribution, not a user repartition, and it is not counted
  * as one.
  *
  * Size test: the summed bytes of the distinct leaf relations under the
  * logical sort. A file scan counts its file sizes. A cached relation
  * counts the leaves of the plan it caches, so it sizes the same before
  * and after its cache fills, and an AQE query stage counts the leaves
  * of the logical plan it stands for, so every re-plan of a query
  * decides as its first plan did. The test is on the sort's input
  * LEAVES, not on the rows that reach the sort: where the child grows
  * its rows (explode, n-grams, joins) the sort's shuffle can be several
  * times the leaf bytes, and for such a sort above the bound AQE would
  * have kept more than one range partition while this rule sorts in
  * one task (README, "Small global sorts", lists the measured heads).
  * Spark's own plan estimate is not used: it multiplies sizes across a
  * cross join, and a broadcast 1-row scalar would push a small input
  * over the bound. A leaf without a size (an RDD-backed relation)
  * reports Spark's default size, far above the bound, so the rule
  * declines.
  *
  * Where it does not fire:
  *  - a sort with no range exchange below it: under `Limit` (planned as
  *    `TakeOrderedAndProject`), or over a child already in one partition;
  *  - a materialized stage: only unexecuted exchanges are rewritten, so
  *    a stage that has run keeps its partitioning;
  *  - a streaming plan, which AQE does not plan;
  *  - the child below the replaced exchange is untouched, so a fan-out
  *    exchange below the sort (`Tables.fanOut`) keeps its parallel
  *    kernel stage.
  *
  * Installed by [[graft.GraftExtensions]] as an AQE query-stage
  * preparation rule, so it runs on the first physical plan and on every
  * re-plan after a stage materializes; it adds no option.
  */
object SmallSort extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = {
    val bound = conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
    plan.transformDown {
      case s @ SortExec(_, true, e @ ShuffleExchangeExec(_: RangePartitioning, child, ENSURE_REQUIREMENTS, _), _)
          if s.logicalLink.exists { case l: Sort => leafBytes(l.child, bound) <= bound; case _ => false } =>
        s.withNewChildren(Seq(singleAggregate(child).getOrElse(e.copy(outputPartitioning = SinglePartition))))
    }
  }

  /** `plan` — projections over a final aggregate over an unexecuted
    * hash exchange — with that exchange made the single partition. */
  private def singleAggregate(plan: SparkPlan): Option[SparkPlan] = plan match {
    case p: ProjectExec => singleAggregate(p.child).map(c => p.withNewChildren(Seq(c)))
    case a: BaseAggregateExec if a.requiredChildDistributionExpressions.isDefined => a.child match {
      case e @ ShuffleExchangeExec(_: HashPartitioning, _, ENSURE_REQUIREMENTS, _) =>
        Some(a.withNewChildren(Seq(e.copy(outputPartitioning = SinglePartition))))
      case _ => None
    }
    case _ => None
  }

  /** Summed size of the distinct source leaves under `plan`, stopping
    * once the sum passes `bound`. */
  private def leafBytes(plan: LogicalPlan, bound: Long): BigInt = {
    val seen = scala.collection.mutable.HashSet.empty[LogicalPlan]
    var total = BigInt(0)
    val leaves = sourceLeaves(plan)
    while (total <= bound && leaves.hasNext) {
      val leaf = leaves.next()
      if (seen.add(leaf.canonicalized)) total += leaf.stats.sizeInBytes
    }
    total
  }

  /** The leaves of `plan`, looking through cached relations and AQE
    * query stages to the leaves of the plans they stand for. */
  private def sourceLeaves(plan: LogicalPlan): Iterator[LogicalPlan] =
    plan.collectLeaves().iterator.flatMap {
      case s: LogicalQueryStage => sourceLeaves(s.logicalPlan)
      case m: InMemoryRelation => cachedLogical(m.cachedPlan).fold(Iterator.single[LogicalPlan](m))(sourceLeaves)
      case leaf => Iterator.single(leaf)
    }

  /** The logical plan a cached physical plan was planned from. */
  private def cachedLogical(plan: SparkPlan): Option[LogicalPlan] = plan match {
    case a: AdaptiveSparkPlanExec => cachedLogical(a.inputPlan)
    case _ => plan.collectFirst { case p if p.logicalLink.isDefined => p.logicalLink.get }
  }
}
