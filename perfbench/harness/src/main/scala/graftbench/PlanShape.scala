package graftbench

import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Plan shapes: exact operator counts of a physical plan (the `plans.*`
  * per-layer metrics) and the retention check for the timed action.
  */
object PlanShape extends AdaptiveSparkPlanHelper {

  /** Exchange, window and join counts of a physical plan, subqueries
    * included, looking through adaptive query stages.
    */
  def physical(plan: SparkPlan): Map[String, Long] = {
    val nodes = collectWithSubqueries(plan) { case p => p }
    def n(pf: PartialFunction[SparkPlan, Boolean]): Long =
      nodes.count(p => pf.applyOrElse(p, (_: SparkPlan) => false)).toLong
    Map(
      "exchanges" -> n { case _: ShuffleExchangeExec | _: BroadcastExchangeExec => true },
      "windows" -> n { case _: WindowExec => true },
      "sort_merge_joins" -> n { case _: SortMergeJoinExec => true },
      "broadcast_joins" -> n {
        case _: BroadcastHashJoinExec | _: BroadcastNestedLoopJoinExec => true
      })
  }

  /** The node kinds `count()` can prune from a plan (the reason the
    * timed action is a full write): their per-kind counts in a logical
    * plan, subqueries included.
    */
  val RetainedKinds: Seq[String] = Seq("Window", "Aggregate", "Join", "Generate", "Expand")

  def retained(plan: LogicalPlan): Map[String, Int] = {
    val kinds = plan.collectWithSubqueries {
      case _: Window => "Window"
      case _: Aggregate => "Aggregate"
      case _: Join => "Join"
      case _: Generate => "Generate"
      case _: Expand => "Expand"
    }
    RetainedKinds.map(k => k -> kinds.count(_ == k)).toMap
  }

  /** Kinds the write plan has fewer of than the query's own plan. */
  def lost(query: Map[String, Int], write: Map[String, Int]): Seq[String] =
    RetainedKinds.filter(k => write.getOrElse(k, 0) < query.getOrElse(k, 0))
      .map(k => s"$k ${query(k)}->${write.getOrElse(k, 0)}")
}

/** Captures the optimized input plan of the most recent V2 write (the
  * benchmark's `noop` write). Callbacks arrive on the listener bus, so
  * the reader drains the bus (BenchHooks.drain) before calling [[take]].
  */
final class WriteCapture extends QueryExecutionListener {
  @volatile private var last: Option[LogicalPlan] = None

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    qe.optimizedPlan.collectFirst { case w: V2WriteCommand => w.query }
      .foreach(q => last = Some(q))

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def take(): Option[LogicalPlan] = { val p = last; last = None; p }
}
