package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

/** Plan-inspection utility: prints pushdown / join-strategy / codegen
  * facts for each query so plan regressions are visible at a glance.
  * Usage: runMain graft.PlanCheck [sfDir] [query ...] */
object PlanCheck {

  /** Count window operators with an EMPTY partition spec — each one
    * funnels its whole input through a single task (the gr2/o40 scale
    * killer class). Tree-walk instead of string-parse: the plan
    * toString doesn't distinguish the partition bracket reliably.
    * Descends into AQE wrappers and query stages; ReusedExchange is
    * NOT re-descended (its subtree is counted at the original). */
  def unpartitionedWindows(p: SparkPlan): Int = {
    val self = p match {
      case w: WindowExec if w.partitionSpec.isEmpty => 1
      case w: WindowGroupLimitExec if w.partitionSpec.isEmpty => 1
      case _ => 0
    }
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => Seq.empty
      case other => other.children
    }
    self + kids.map(unpartitionedWindows).sum
  }

  /** The plan that actually ran, as text. AQE's toString appends the
    * pre-adaptive "== Initial Plan ==" after the final plan — drop it so
    * counts and negative pins see only what ran (the initial section
    * inflated smj/exchange with joins AQE replaced). Safe to cut at the
    * FIRST marker: plain toString never inlines subquery plan trees
    * (verified on o3/sim2/x5 — exactly one Final/Initial marker pair per
    * plan; only explain("formatted") prints a Subqueries section). Call
    * it after the query ran: under AQE the plan is only finalized then. */
  def finalPlan(executed: SparkPlan): String =
    executed.toString.split("== Initial Plan ==").head

  /** Distinct whole-stage-codegen stages in a plan text: Spark 4 renders
    * them as "*(n)" operator prefixes, not "WholeStageCodegen" nodes. */
  def codegenStages(plan: String): Int =
    "\\*\\((\\d+)\\)".r.findAllMatchIn(plan).map(_.group(1)).toSet.size

  def main(args: Array[String]): Unit = {
    val verbose = args.contains("-v")
    val rest = args.filterNot(_ == "-v")
    val sfDir = rest.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (rest.length > 1) rest.tail.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = Graft.session("plancheck")
    names.foreach { q =>
      try {
        val qe = SparkEntry.queries(q)(spark, sfDir).queryExecution
        // under AQE the plan is only finalized (join strategy chosen, codegen
        // stages collapsed and annotated) after execution — run it first
        qe.toRdd.count()
        val plan = finalPlan(qe.executedPlan)
        // plan toString truncates long filter lists — count non-empty
        // brackets by their opening character
        val pushed = "PushedFilters: \\[[^\\]]".r.findAllIn(plan).size
        val bhj = "BroadcastHashJoin".r.findAllIn(plan).size
        val smj = "SortMergeJoin".r.findAllIn(plan).size
        val bnl = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
        val wscg = codegenStages(plan)
        val exch = "Exchange".r.findAllIn(plan).size
        val upw = unpartitionedWindows(qe.executedPlan)
        println(f"$q%-22s pushedFilters=$pushed bhj=$bhj smj=$smj bnl=$bnl wscg=$wscg exchange=$exch unpartWin=$upw")
        if (verbose) println(plan)
      } catch {
        case e: Throwable =>
          println(f"$q%-22s ERROR ${String.valueOf(e.getMessage).take(80)}")
      }
    }
    spark.stop()
  }
}
