package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec
import graft.standards.Standards

/** Plan-text pin for V8: codelist terms never reach a plan as literals.
  * LBTESTCD (C65047) and LBTEST (C67154) hold 2,474 terms each; inlined as
  * `isin` they rendered as `InSet`s that every plan-text event, explain and
  * AQE re-plan sorted and printed: 2,172,391 chars of executed-plan text
  * for this frame, against 14,207 with the CT expression. */
class ValidationPlanTextSpec extends SparkSpec {

  import spark.implicits._

  /** Upper bound on the executed-plan text of one validation query. */
  private val MaxPlanChars = 30000

  test("the LB-shaped V8 aggregate plans without InSet and stays small") {
    val lb = Seq(
      ("S1", "LB", "S1-001", "1", "GLUC", "Glucose", "CHEMISTRY", "5.1", "mmol/L",
        "5.1", "mmol/L", "NORMAL", "SERUM", "2024-01-15"),
      ("S1", "LB", "S1-001", "2", "HGB", "Hemoglobin", "HEMATOLOGY", "13", "g/dL",
        "13", "g/dL", "LOW", "BLOOD", "2024-01-15"),
      ("S1", "LB", "S1-002", "1", "BOGUS", "Not a test", "CHEMISTRY", "1", "furlong",
        "1", "furlong", "ODD", "SERUM", "2024-01-16"))
      .toDF("STUDYID", "DOMAIN", "USUBJID", "LBSEQ", "LBTESTCD", "LBTEST", "LBCAT",
        "LBORRES", "LBORRESU", "LBSTRESC", "LBSTRESU", "LBNRIND", "LBSPEC", "LBDTC")
      .repartition(2)

    val plans = ArrayBuffer.empty[String]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.synchronized { plans += qe.executedPlan.toString }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val issues =
      try {
        val out = DomainValidation.validateDomain(lb, Standards.domain("LB").get)
        GraftBridge.waitForListenerBus(spark)
        out
      } finally spark.listenerManager.unregister(listener)

    // the planted bad test code is still found through the CT expression
    assert(issues.exists(i => i.variable == "LBTESTCD" && i.kind == "InvalidCtValue" &&
      i.samples == Seq("BOGUS")), issues)
    val v8 = plans.filter(_.contains("LBTESTCD__badct"))
    assert(v8.nonEmpty, plans.mkString("\n\n"))
    v8.foreach { p =>
      Seq("InSet", "INSET", " IN (").foreach(n => assert(!p.contains(n), s"'$n' in:\n$p"))
      assert(p.length < MaxPlanChars, s"executed plan is ${p.length} chars")
    }
  }
}
