package graft.expressions

import java.util.Locale

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.Graft.txt
import graft.SparkSpec
import graft.operators.{DomainValidation, Normalize}
import graft.standards.Standards

/** The CT primitive (`graft_ct_member` / `graft_ct_lookup`) against the
  * formulations it replaced: V8's `upper(txt(c)).isin(keys)` and N8's
  * `Codelist.resolve`, interpreted and codegen'd. */
class CtExpressionsSpec extends SparkSpec {

  private val sdtm = Standards.ct("sdtm")
  private val codes = Seq("C65047", "C67154", "C71620", "C66769")

  /** Every term and synonym, as spelled, lower-cased and padded; nulls,
    * blanks, and non-ASCII spellings whose case folds differ between
    * locales and case-mapping libraries. */
  private def inputs(code: String): Seq[String] = {
    val cl = sdtm.get(code).get
    val spellings = cl.terms.flatMap(t => t.submissionValue +: t.synonyms)
    spellings ++ spellings.map(s => s"  ${s.toLowerCase(Locale.ROOT)} ") ++
      Seq(null, "", "   ", "ß", "ı", "ſ", "ﬀ", "ﬁ", "İ", "µg", " mild", "Mild")
  }

  /** A frame over an RDD, so the optimizer cannot fold the projection into
    * a local relation and the expressions really run. */
  private def frame(values: Seq[String]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(values.map(Row(_)), 3),
      StructType(Seq(StructField("v", StringType))))

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val codegenModes = Seq(
    "codegen" -> Seq("spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false"),
    "interpreted" -> Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  for ((mode, conf) <- codegenModes) test(s"member and lookup match isin and resolve ($mode)") {
    withConf(conf: _*) {
      codes.foreach { code =>
        val cl = sdtm.get(code).get
        val index = CtIndex(sdtm, code)
        val values = inputs(code)
        val df = frame(values).select(col("v"),
          CtExpressions.member(col("v"), index).as("member"),
          upper(txt(col("v"))).isin(sdtm.lookupMap(code).keys.toSeq: _*).as("isin"),
          CtExpressions.lookup(col("v"), index).as("lookup"))
        val plan = df.queryExecution.executedPlan.toString
        assert(plan.contains("*(") == (mode == "codegen"), plan)
        val rows = df.collect()
        assert(rows.length == values.length)
        rows.foreach { r =>
          val v = r.getString(0)
          assert(r.getBoolean(1) == r.getBoolean(2), s"$code member('$v')")
          assert(Option(r.getString(3)) == cl.resolve(Option(v).getOrElse("")),
            s"$code lookup('$v')")
        }
        assert(rows.count(_.getBoolean(1)) >= cl.terms.size * 2, code)
      }
    }
  }

  test("labels: same code under another CT version or standard never shares") {
    val v = AttributeReference("v", StringType)()
    def member(std: String, version: String) = {
      val index = CtIndex(Standards.ct(std, version), "C71620")
      CtMember(v, index.code, index.source)(index)
    }
    val base = member("sdtm", "2024-03-29")
    assert(base.semanticEquals(member("sdtm", "2024-03-29")))
    assert(!base.semanticEquals(member("sdtm", Standards.LatestCtVersion)))
    assert(!base.semanticEquals(member("send", "2024-03-29")))
    // ad-hoc maps are labelled by content
    val a = CtIndex.adHoc(Map("A" -> "a"))
    assert(a.code == CtIndex.adHoc(Map("A" -> "a")).code)
    assert(a.code != CtIndex.adHoc(Map("A" -> "b")).code)
    // the index survives tree copies, and the terms never reach the text
    val w = AttributeReference("w", StringType)()
    assert(base.withNewChildren(Seq(w)).asInstanceOf[CtMember].index eq base.index)
    assert(base.toString.length < 80, base.toString)
  }

  test("SQL surface: graft_ct_member / graft_ct_lookup resolve after registration") {
    val r = spark.sql("select graft_ct_member('mild', 'C66769') as m, " +
      "graft_ct_member('mellow', 'C66769') as n, " +
      "graft_ct_lookup(' Moderate ', 'C66769') as l, " +
      "graft_ct_lookup('x', 'C66769') as miss, " +
      "graft_ct_member('rat', 'C77808', 'send@2024-03-29') as species").head()
    assert(r.getBoolean(0) && !r.getBoolean(1))
    assert(r.getString(2) == "MODERATE" && r.isNullAt(3))
    assert(r.getBoolean(4))
  }

  test("CT fold is locale-free: N8 and V8 resolve mild/Mild under a Turkish locale") {
    import spark.implicits._
    val saved = Locale.getDefault
    Locale.setDefault(Locale.forLanguageTag("tr-TR"))
    try {
      val aesev = sdtm.get("C66769").get
      assert(aesev.resolve("mild").contains("MILD"))
      val df = Seq("mild", "Mild", "MILD").toDF("AESEV")
      val n8 = df.select(Normalize.ctTerm(col("AESEV"), CtIndex(sdtm, "C66769")))
        .collect().map(_.getString(0)).toSeq
      assert(n8 == Seq("MILD", "MILD", "MILD"))
      val v8 = DomainValidation.validateDomain(df, Standards.domain("AE").get)
      assert(!v8.exists(i => i.variable == "AESEV" && i.kind == "InvalidCtValue"), v8)
    } finally Locale.setDefault(saved)
  }
}
