package graft.expressions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.{Iso8601, IsoDuration}
import graft.operators.Normalize

/** Native Catalyst expressions: interpreted + codegen paths agree with the
  * pure parser, and the SQL surface resolves via GraftExtensions. */
class IsoExpressionsSpec extends SparkSpec {

  import spark.implicits._

  private val inputs = Seq("2024-01-15", "15/01/2024", "Jan 2024", "garbage",
    "2 hours 30 minutes", "1.5", "P2W", "")

  test("IsoNormalize matches the parser on the format matrix") {
    val df = inputs.toDF("v")
    val out = df.select(Normalize.iso8601Expr(col("v")).as("x"))
      .collect().map(_.getString(0))
    assert(out.toSeq == inputs.map(Iso8601.toIso8601))
  }

  test("DurationNormalize matches the parser") {
    val df = inputs.toDF("v")
    val out = df.select(Normalize.isoDurationExpr(col("v")).as("x"))
      .collect().map(_.getString(0))
    assert(out.toSeq == inputs.map(IsoDuration.normalize))
  }

  test("null propagates as null (UnaryExpression null-safety)") {
    val df = Seq[Option[String]](None, Some("15/01/2024")).toDF("v")
    val out = df.select(Normalize.iso8601Expr(col("v")).as("x"))
      .collect().map(r => Option(r.getString(0)))
    assert(out.toSeq == Seq(None, Some("2024-01-15")))
  }

  test("plan contains the native expression, not a ScalaUDF") {
    // analyzed plan: the optimizer folds LocalRelation projections, which
    // would hide the expression (and proves it is interpretable — good)
    val df = Seq("15/01/2024").toDF("v")
      .select(Normalize.iso8601Expr(col("v")).as("x"))
    val plan = df.queryExecution.analyzed.toString
    assert(plan.toLowerCase.contains("graft_iso8601"))
    assert(!plan.contains("UDF"))
  }

  test("SQL surface: graft_iso8601/graft_duration resolve after registration") {
    // registered by the shared session's spark.sql.extensions, the same
    // Graft.session conf every main uses — never by hand
    val r = spark.sql(
      "SELECT graft_iso8601('15.01.2024') AS d, graft_duration('5d') AS dur")
      .head()
    assert(r.getString(0) == "2024-01-15")
    assert(r.getString(1) == "P5D")
  }
}
