package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.expressions.CtIndex

/** Normalization operator semantics over real DataFrames
  * (executor.rs:24-463 behavior pins). */
class NormalizeSpec extends SparkSpec {

  import spark.implicits._

  test("N2 usubjid: empty subject stays empty, never a dangling prefix") {
    val df = Seq("101", " 102 ", "", "  ", null).toDF("subj")
    val out = df.select(Normalize.usubjid("STUDY1", col("subj")).as("u"))
      .collect().map(_.getString(0)).toSeq
    assert(out == Seq("STUDY1-101", "STUDY1-102", "", "", ""))
  }

  test("N3 seq: 1..n per subject in row order") {
    val df = Seq(("A", 1L), ("B", 2L), ("A", 3L), ("A", 4L), ("B", 5L))
      .toDF("subj", "rid")
    val out = df.select(col("subj"), col("rid"),
        Normalize.seqNumber(col("subj"), col("rid")).as("seq"))
      .orderBy("rid").collect().map(r => (r.getString(0), r.getLong(2))).toSeq
    assert(out == Seq(("A", 1L), ("B", 1L), ("A", 2L), ("A", 3L), ("B", 2L)))
  }

  test("N4 iso8601 column: cascade + preserve-on-failure") {
    val df = Seq("15/01/2024", "2024-01", "garbage", "").toDF("d")
    val out = df.select(Normalize.iso8601(col("d")).as("d"))
      .collect().map(_.getString(0)).toSeq
    assert(out == Seq("2024-01-15", "2024-01", "garbage", ""))
  }

  test("N7 study day: fast path and cascade fallback agree") {
    val df = Seq("2024-01-15", "15/01/2024", "2024-01", "").toDF("d")
    val out = df.select(Normalize.studyDay(col("d"), Some("2024-01-10")).as("dy"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getInt(0))).toSeq
    assert(out == Seq(Some(6), Some(6), None, None))
  }

  test("N7 study day: shaped-but-invalid dates null out instead of crashing ANSI") {
    // '2023-02-30' passes the shape regex; plain to_date would throw under
    // Spark 4 ANSI mode — must yield null via try_to_date + cascade
    val df = Seq("2023-02-30", "2023-13-01", "2023-01-15garbage", "2023-01-15")
      .toDF("d")
    val out = df.select(Normalize.studyDay(col("d"), Some("2023-01-10")).as("dy"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getInt(0))).toSeq
    assert(out == Seq(None, None, None, Some(6)))
  }

  test("N7 study day: reference date in any cascade spelling") {
    val df = Seq("2024-01-15").toDF("d")
    val out = df.select(Normalize.studyDay(col("d"), Some("10-Jan-2024")).as("dy"))
      .head()
    assert(out.getInt(0) == 6)
    // unparseable reference → all null, no crash
    val none = df.select(Normalize.studyDay(col("d"), Some("garbage")).as("dy")).head()
    assert(none.isNullAt(0))
  }

  test("N8 ct normalize: synonym hit, miss preserves original") {
    val lookup = CtIndex.adHoc(Map("MALE" -> "M", "M" -> "M"))
    val df = Seq("male", " M ", "unknown", "").toDF("v")
    val out = df.select(Normalize.ctTerm(col("v"), lookup).as("v"))
      .collect().map(_.getString(0)).toSeq
    assert(out == Seq("M", "M", "unknown", ""))
  }

  test("N9 numeric: separators, specials, null on failure") {
    val df = Seq("1,234.5", "nan", "abc", "").toDF("v")
    val out = df.select(Normalize.numeric(col("v")).as("v"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0))).toSeq
    assert(out(0).contains(1234.5))
    assert(out(1).exists(_.isNaN))
    assert(out(2).isEmpty)
    assert(out(3).isEmpty)
  }

  test("N10 copy: boolean → Y/N, double without trailing zeros, null → empty") {
    val df = Seq((Some(true), Some(40.0)), (Some(false), Some(2.5)), (None, None))
      .toDF("b", "d")
    val out = df.select(
        Normalize.copyDirect(df, "b").as("b"),
        Normalize.copyDirect(df, "d").as("d"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(out == Seq(("Y", "40"), ("N", "2.5"), ("", "")))
  }

  test("firstReferenceDate: first parseable value in row order") {
    val dm = Seq((1L, "garbage"), (2L, "2024-01-05"), (3L, "2023-01-01"))
      .toDF("_row_id", "RFSTDTC")
    assert(Normalize.firstReferenceDate(dm, "RFSTDTC", "_row_id").contains("2024-01-05"))
  }
}
