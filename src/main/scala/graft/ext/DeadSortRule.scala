package graft.ext

import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeMap, Expression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule that drops a global sort whose order no one can
  * observe: one that feeds a partitioned `Window` through nothing but
  * deterministic `Project`s and `Filter`s, with at least one sort key
  * that is not a window partition key (after resolving the projects'
  * aliases). Such a sort's range partitioning cannot satisfy the
  * window's clustered distribution, so `EnsureRequirements` always puts
  * a hash exchange between the two, and that exchange throws the order
  * away. The sort itself costs a sampling job and a range exchange.
  *
  * The case it exists for is `Windows.rsi(Windows.barAnalysis(...))`:
  * `barAnalysis` orders its result for presentation, and the outer
  * window re-partitions on `stock` — three exchanges become one.
  * Spark's own `EliminateSorts` covers a sort below an explicit
  * repartition, a join or an order-irrelevant aggregate; this covers
  * the exchange a window implies. A sort whose keys are all partition
  * keys stays: its range partitioning already clusters the window's
  * input, and it orders the window's output. A `Limit`, an aggregate
  * or any other node between the sort and the window keeps it too. */
object DeadSortRule extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case w: Window if w.partitionSpec.nonEmpty =>
      w.copy(child = dropDeadSort(w.child, w.partitionSpec))
  }

  /** `p` without the dead global sort under it (`transformUp` keeps the
    * original node when nothing changed). `keys` are the window
    * partition keys in terms of `p`'s output. */
  private def dropDeadSort(p: LogicalPlan, keys: Seq[Expression]): LogicalPlan =
    p match {
      case s: Sort if s.global && s.order.exists(o =>
          !keys.exists(_.semanticEquals(o.child))) => s.child
      case pr: Project if pr.projectList.forall(_.deterministic) =>
        val aliases = AttributeMap(pr.projectList.collect {
          case a: Alias => a.toAttribute -> a.child })
        val below = keys.map(_.transform { case a: Attribute => aliases.getOrElse(a, a) })
        pr.copy(child = dropDeadSort(pr.child, below))
      case f: Filter if f.condition.deterministic =>
        f.copy(child = dropDeadSort(f.child, keys))
      case other => other
    }
}
