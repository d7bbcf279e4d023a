package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalLimit, LogicalPlan, Offset, Project, Repartition, Sort, Tail}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf

/** Plans a small global sort as one single-partition exchange plus a
  * local sort.
  *
  * A global `Sort` normally plans as a range exchange, and Spark's range
  * partitioner first runs a sampling job over the sort's input: the
  * whole child pipeline executes a second time, only to pick partition
  * bounds. When that input is no larger than AQE's
  * `spark.sql.adaptive.coalescePartitions.minPartitionSize` (1 MB by
  * default) the coalescer then reads the range shuffle as ONE partition
  * anyway, so the sampler buys nothing. For a sort whose input leaves
  * are that small (the size test below) this rule writes
  * `Sort(global = false, Repartition(1, child))`: the same rows in the
  * same order, in one partition, with the child run once.
  *
  * Size test: the summed bytes of the distinct leaf relations under the
  * sort — file scans (their file sizes) and cached relations (their
  * in-memory size once materialized, the plan's estimate before). The
  * test is on the sort's input LEAVES, not on the rows that reach the
  * sort: where the child grows its rows (explode, n-grams, joins) the
  * sort's shuffle can be several times the leaf bytes, and for such a
  * sort above the bound AQE would have kept more than one range
  * partition while this rule sorts in one task (README, "Small global
  * sorts", lists the measured heads). Spark's own plan estimate is not
  * used: it multiplies sizes across a cross join, and a broadcast 1-row
  * scalar would push a small input over the bound. A leaf without a
  * size (an RDD-backed relation) reports Spark's default size, far
  * above the bound, so the rule declines.
  *
  * Where it does not fire:
  *  - a sort under `Limit`, `Offset` or `Tail` (optionally through a
  *    projection), which Spark plans as `TakeOrderedAndProject` or a
  *    tail collect without a range exchange;
  *  - a streaming plan;
  *  - the child itself is untouched, so a fan-out exchange below the
  *    sort (`Tables.fanOut`) keeps its parallel kernel stage.
  *
  * Installed by [[graft.GraftExtensions]] into the optimizer only; it
  * adds no option. It is not a runtime (AQE) rule: once AQE has
  * materialized the sort's own range stage, rewriting the sort there
  * would only add a second exchange above it.
  */
object SmallSort extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (plan.isStreaming) plan
    else rewrite(plan, underLimit = false, conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE))

  private def rewrite(plan: LogicalPlan, underLimit: Boolean, bound: Long): LogicalPlan =
    plan match {
      case _: GlobalLimit | _: LocalLimit | _: Offset | _: Tail =>
        plan.mapChildren(rewrite(_, underLimit = true, bound))
      case _: Project =>
        plan.mapChildren(rewrite(_, underLimit, bound))
      case s: Sort if s.global && !underLimit && leafBytes(s.child, bound) <= bound =>
        s.copy(global = false,
          child = Repartition(1, shuffle = true, rewrite(s.child, underLimit = false, bound)))
      case _ =>
        plan.mapChildren(rewrite(_, underLimit = false, bound))
    }

  /** Summed size of the distinct leaves under `plan`, stopping once the
    * sum passes `bound`. */
  private def leafBytes(plan: LogicalPlan, bound: Long): BigInt = {
    val seen = scala.collection.mutable.HashSet.empty[LogicalPlan]
    var total = BigInt(0)
    val leaves = plan.collectLeaves().iterator
    while (total <= bound && leaves.hasNext) {
      val leaf = leaves.next()
      if (seen.add(leaf.canonicalized)) total += leaf.stats.sizeInBytes
    }
    total
  }
}
