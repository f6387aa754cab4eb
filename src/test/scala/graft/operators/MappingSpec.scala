package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.plans.logical.{Expand, LogicalPlan}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.functions.JaroWinkler
import graft.sources.{ColumnScores, CsvIngest, ItemsMetadata}

/** Scorer/assignment semantics ported from `map/score.rs:295-391` and
  * state-machine invariants from `map/state.rs`. */
class MappingSpec extends AnyFunSuite {

  test("jaro-winkler basics") {
    assert(JaroWinkler.similarity("usubjid", "usubjid") == 1.0)
    assert(JaroWinkler.similarity("", "x") == 0.0)
    assert(JaroWinkler.similarity("martha", "marhta") > 0.95)
    assert(JaroWinkler.similarity("abc", "xyz") < 0.1)
  }

  test("name normalization squeezes separators") {
    assert(Mapping.normalizeName("  AE_Start-Date.Time ") == "ae start date time")
  }

  test("exact name match scores 1.0") {
    val s = Mapping.computeScore("AETERM", VarMeta("AETERM"), None)
    assert(s.score == 1.0)
  }

  test("SEQ suffix adjustments") {
    val both = Mapping.computeScore("AESEQ", VarMeta("AESEQ"), None)
    assert(both.score > 1.0) // 1.0 * 1.05
    val colOnly = Mapping.computeScore("AESEQ", VarMeta("AETERM"), None)
    val base = JaroWinkler.similarity("aeseq", "aeterm")
    assert(math.abs(colOnly.score - base * 0.6) < 1e-9)
  }

  test("CD suffix adjustments") {
    val colOnly = Mapping.computeScore("SEXCD", VarMeta("SEX"), None)
    val base = JaroWinkler.similarity("sexcd", "sex")
    assert(math.abs(colOnly.score - base * 0.7) < 1e-9)
  }

  test("numeric type mismatch penalizes 15%") {
    val hintNum = ColumnHint(isNumeric = true, 0.5, 0.0)
    // AGEN ends with N → expects numeric; matching numeric column: no penalty
    val ok = Mapping.computeScore("AGEN", VarMeta("AGEN"), Some(hintNum))
    assert(ok.score == 1.0)
    val bad = Mapping.computeScore("AGEN", VarMeta("AGEN"),
      Some(ColumnHint(isNumeric = false, 0.5, 0.0)))
    assert(math.abs(bad.score - 0.85) < 1e-9)
  }

  test("label similarity boosts 10%") {
    val hint = ColumnHint(isNumeric = false, 0.5, 0.0, label = Some("Adverse Event Term"))
    val boosted = Mapping.computeScore("AETERM",
      VarMeta("AETERM", Some("Reported Term for the Adverse Event Term")), Some(hint))
    // label JW may or may not cross 0.85; just pin monotonicity vs no label
    val plain = Mapping.computeScore("AETERM", VarMeta("AETERM"), None)
    assert(boosted.score >= plain.score)
  }

  test("greedy assignment is one-to-one, best-first") {
    val vars = Seq(VarMeta("AETERM"), VarMeta("AESEQ"), VarMeta("AESTDTC"))
    val out = Mapping.suggestAll(
      Seq("AETERM", "AESEQ", "AESTDTC", "EXTRA"), vars, Map.empty, 0.5)
    assert(out.map(s => s.sourceColumn -> s.targetVariable).toMap ==
      Map("AETERM" -> "AETERM", "AESEQ" -> "AESEQ", "AESTDTC" -> "AESTDTC"))
    // each column/variable used at most once
    assert(out.map(_.sourceColumn).distinct.size == out.size)
    assert(out.map(_.targetVariable).distinct.size == out.size)
  }

  test("threshold filters weak candidates") {
    val out = Mapping.suggestAll(Seq("ZZZZZ"), Seq(VarMeta("AETERM")), Map.empty, 0.5)
    assert(out.isEmpty)
  }

  test("mapping state: accept releases column from other variables") {
    val st = new MappingState("AE", Seq(VarMeta("AETERM"), VarMeta("AEDECOD")))
    assert(st.acceptManual("AETERM", "TERM").isRight)
    assert(st.acceptManual("AEDECOD", "TERM").isRight)
    assert(st.columnFor("AETERM").isEmpty)
    assert(st.columnFor("AEDECOD").contains("TERM"))
    assert(st.statusOf("AETERM") == MappingStatus.Unmapped)
  }

  test("mapping state: required cannot be not-collected") {
    val st = new MappingState("DM", Seq(VarMeta("USUBJID", required = true), VarMeta("AGE")))
    assert(st.markNotCollected("USUBJID").isLeft)
    assert(st.markNotCollected("AGE").isRight)
  }

  test("mapping state: accepting a suggestion releases the column elsewhere") {
    val st = new MappingState("AE", Seq(VarMeta("AETERM"), VarMeta("AEDECOD")))
    assert(st.acceptManual("AETERM", "col_x").isRight)
    st.applySuggestions(Seq(Suggestion("col_x", "AEDECOD", 0.9, Nil)))
    assert(st.acceptSuggestion("AEDECOD").isRight)
    // one column → one variable, even across the suggestion path
    assert(st.columnFor("AETERM").isEmpty)
    assert(st.toConfig == Map("AEDECOD" -> "col_x"))
  }

  test("mapping state: only accepted mappings export") {
    val st = new MappingState("AE", Seq(VarMeta("AETERM"), VarMeta("AEDECOD")))
    st.applySuggestions(Seq(Suggestion("TERM", "AETERM", 0.9, Nil),
      Suggestion("DECOD", "AEDECOD", 0.8, Nil)))
    assert(st.toConfig.isEmpty) // suggestions are not yet confirmed
    assert(st.acceptSuggestion("AETERM").isRight)
    assert(st.toConfig == Map("AETERM" -> "TERM"))
  }
}

/** Hint building over a real DataFrame (hints.rs:14-103), and the column
  * profile it shares with Items.csv detection checked against a driver-side
  * brute force. */
class MappingHintsSpec extends SparkSpec {

  test("columnHints: numeric / unique / null ratios with blank-as-null") {
    import spark.implicits._
    val df = Seq(
      ("1", "a", " "),
      ("2", "b", null),
      ("2.5", "a", "x"),
      ("x", "", "x")
    ).toDF("num", "cat", "sparse")
    val hints = Mapping.columnHints(df)
    // num: 4 non-null, 3 numeric → 0.75 not > 0.9
    assert(!hints("num").isNumeric)
    assert(hints("num").uniqueRatio == 1.0)
    assert(hints("num").nullRatio == 0.0)
    // cat: one blank → 3 non-null, 2 distinct
    assert(math.abs(hints("cat").uniqueRatio - 2.0 / 3) < 1e-9)
    assert(hints("cat").nullRatio == 0.25)
    // sparse: 2 blank-ish (" " and null) of 4
    assert(hints("sparse").nullRatio == 0.5)
    assert(hints("sparse").uniqueRatio == 0.5)
  }

  test("all-numeric column crosses the 0.9 threshold") {
    import spark.implicits._
    val df = Seq("1", "2", "3.5", "-4e2", "", "7", "8", "9", "10", "11", "12")
      .toDF("v")
    assert(Mapping.columnHints(df)("v").isNumeric)
  }

  // ---- the column profile against a driver-side brute force -------------

  private val numericPattern = java.util.regex.Pattern.compile(Validate.NumericRegex)
  private def isNumeric(s: String): Boolean = numericPattern.matcher(s).find()

  /** Each column's values in the normal form `txt` gives them: null → "",
    * leading and trailing spaces trimmed. */
  private def normalForms(df: DataFrame, cols: Seq[String]): Seq[Seq[String]] = {
    val rows = df.select(cols.map(col): _*).collect().toSeq
    cols.indices.map(i => rows.map(r =>
      Option(r.get(i)).map(_.toString).getOrElse("").replaceAll("^ +| +$", "")))
  }

  private def bruteHint(vs: Seq[String]): ColumnHint = {
    val filled = vs.filter(_.nonEmpty)
    val nonNull = filled.size.toLong
    ColumnHint(
      isNumeric = nonNull > 0 && filled.count(isNumeric).toDouble / nonNull > 0.9,
      uniqueRatio = if (nonNull > 0) filled.distinct.size.toDouble / nonNull else 0.0,
      nullRatio = if (vs.nonEmpty) (vs.size - nonNull).toDouble / vs.size else 1.0)
  }

  private def bruteScores(index: Int, name: String, vs: Seq[String]): ColumnScores = {
    val filled = vs.filter(_.nonEmpty)
    val nonNull = filled.size.toLong
    val total = vs.size.toLong
    val card = filled.distinct.size.toLong + (if (nonNull < total) 1L else 0L)
    ColumnScores(index, name,
      uniqueness = if (total > 0) card.toDouble / total else 0.0,
      avgLength = if (nonNull > 0) filled.map(_.length.toLong).sum.toDouble / nonNull else 0.0,
      numericRatio = if (nonNull > 0) filled.count(isNumeric).toDouble / nonNull else 0.0,
      cardinality = card,
      emptyRatio = if (total > 0) (total - nonNull).toDouble / total else 0.0,
      allShortValues = nonNull > 0 && filled.map(_.length).max <= 10)
  }

  private def assertMatchesBruteForce(df: DataFrame): Unit = {
    val cols = df.columns.toSeq.filterNot(_ == CsvIngest.RowIdCol)
    val values = normalForms(df, cols)
    val hints = Mapping.columnHints(df.select(cols.map(col): _*))
    cols.zip(values).foreach { case (c, vs) =>
      assert(hints(c) == bruteHint(vs), s"hint of $c over ${vs.mkString("[", "|", "]")}")
    }
    assert(ItemsMetadata.analyzeColumns(df) ==
      cols.zip(values).zipWithIndex.map { case ((c, vs), i) => bruteScores(i, c, vs) })
  }

  private lazy val edgeFrame = {
    import spark.implicits._
    Seq[(String, String, String, Option[Int])](
      (null, null, " 7", Some(1)),
      ("", "", "7", None),
      ("  ", "  ", "7 ", Some(7)),
      (" 7", null, "1e3", Some(7)),
      ("7", "", "-.5", Some(-3)),
      ("1e3", " ", "+2.", Some(0)),
      ("-.5", "   ", ".5e-2", Some(12)),
      ("abc", "", "8", Some(100))
    ).toDF("mixed", "blank", "num", "typed")
      .withColumn(CsvIngest.RowIdCol, monotonically_increasing_id())
  }

  private lazy val wideFrame = spark.range(10).select((0 until 60).map { j =>
    val v = when((col("id") + j) % 5 === 0, lit(null).cast("string"))
      .otherwise((col("id") * j % (j + 1)).cast("string"))
    (if (j % 3 == 0) concat(lit(" "), v) else v).as(s"c$j")
  }: _*)

  test("profile: null, blanks, padded duplicates, numerics, all-blank and typed columns") {
    assertMatchesBruteForce(edgeFrame)
  }

  test("profile: a zero-row frame") {
    assertMatchesBruteForce(edgeFrame.limit(0))
  }

  test("profile: 60 columns") {
    assertMatchesBruteForce(wideFrame)
  }

  test("the hints plan counts distinct values without an Expand") {
    val plans = ArrayBuffer.empty[LogicalPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.synchronized { plans += qe.optimizedPlan }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      Mapping.columnHints(wideFrame)
      GraftBridge.waitForListenerBus(spark)
    } finally spark.listenerManager.unregister(listener)
    assert(plans.nonEmpty)
    plans.foreach(p => assert(p.collectFirst { case e: Expand => e }.isEmpty, s"Expand in:\n$p"))
  }
}
