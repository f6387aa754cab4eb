package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

/** The facts of one executed plan. Read them after the query ran: under
  * AQE the join strategy and the codegen stages are only chosen then. */
case class PlanFacts(pushedFilters: Int, bhj: Int, smj: Int, bnl: Int, wscg: Int,
    exchanges: Int, shuffleExchanges: Int, unpartitionedWindows: Int) {

  /** The line `Tools plan` prints after the query name. */
  def line: String = s"pushedFilters=$pushedFilters bhj=$bhj smj=$smj bnl=$bnl " +
    s"wscg=$wscg exchange=$exchanges unpartWin=$unpartitionedWindows"
}

/** The one reader of plan text. */
object PlanFacts {

  private object Aqe extends AdaptiveSparkPlanHelper

  def apply(executed: SparkPlan): PlanFacts = {
    val plan = finalPlan(executed)
    def count(re: String) = re.r.findAllIn(plan).size
    PlanFacts(
      // toString truncates long filter lists: count the non-empty brackets
      // by their opening character
      pushedFilters = count("PushedFilters: \\[[^\\]]"),
      bhj = count("BroadcastHashJoin"), smj = count("SortMergeJoin"),
      bnl = count("BroadcastNestedLoopJoin"), wscg = codegenStages(plan),
      exchanges = count("Exchange"),
      // every shuffle flavor; a broadcast exchange is not a shuffle
      shuffleExchanges = count("Exchange (hashpartitioning|rangepartitioning|SinglePartition)"),
      // a window with an EMPTY partition spec funnels its whole input
      // through one task (the gr2/o40 scale-killer class); the tree walk
      // descends into AQE plans and query stages, and a ReusedExchange is
      // a leaf, so its subtree counts once, at the original
      unpartitionedWindows = Aqe.collect(executed) {
        case w: WindowExec if w.partitionSpec.isEmpty => 1
        case w: WindowGroupLimitExec if w.partitionSpec.isEmpty => 1
      }.size)
  }

  /** The plan that actually ran, as text. AQE's toString appends the
    * pre-adaptive "== Initial Plan ==" after the final plan, with the joins
    * AQE replaced: cut it. The first marker is the one: plain toString never
    * inlines subquery plan trees (one Final/Initial pair per plan, checked on
    * o3/sim2/x5). */
  def finalPlan(executed: SparkPlan): String =
    executed.toString.split("== Initial Plan ==").head

  /** Distinct whole-stage-codegen stages in a plan text: Spark 4 renders
    * them as "*(n)" operator prefixes, not "WholeStageCodegen" nodes. */
  def codegenStages(plan: String): Int =
    "\\*\\((\\d+)\\)".r.findAllMatchIn(plan).map(_.group(1)).toSet.size
}
