package graft.operators

import java.util.Locale

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{PlanFacts, SparkSpec}
import graft.expressions.CtIndex
import graft.standards.Standards

/** Validation check semantics (validate/checks and cross_domain.rs pins). */
class ValidateSpec extends SparkSpec {

  import spark.implicits._

  test("V1 blank counts treat null, empty, and whitespace alike") {
    val df = Seq("x", "", "  ", null, "y").toDF("v")
    val r = df.agg(Validate.blankCount(col("v")).as("b"),
      Validate.nonBlankCount(col("v")).as("nb")).head()
    assert(r.getLong(0) == 3 && r.getLong(1) == 2)
  }

  test("V3 non-numeric count ignores blanks") {
    val df = Seq("1", "2.5", "abc", "", "1e3").toDF("v")
    val r = df.agg(Validate.nonNumericCount(col("v"))).head()
    assert(r.getLong(0) == 1)
  }

  test("V4 ISO regex validates ranges but allows partials") {
    val ok = Seq("2024", "2024-01", "2024-01-31", "2024-01-31T23:59",
      "2024-01-31T23:59:59.123")
    val bad = Seq("2024-13", "2024-00", "2024-01-32", "2024-01-31T24:00",
      "2024/01/31", "202401")
    val df = (ok ++ bad).toDF("v")
    val r = df.agg(Validate.nonIsoDateCount(col("v"))).head()
    assert(r.getLong(0) == bad.size)
  }

  test("V5 duplicate seq: surplus rows per duplicated key") {
    val df = Seq(("A", 1), ("A", 1), ("A", 1), ("B", 1), ("B", 2))
      .toDF("subj", "seq")
    val r = Validate.duplicateSeqCount(df, "subj", "seq").head()
    assert(r.getLong(0) == 2 && r.getLong(1) == 1)
  }

  test("V8 invalid CT values: distinct, case-folded, blank-excluded") {
    val df = Seq("male", "MALE", "other", "", null).toDF("sex")
    val allowed = CtIndex.adHoc(Map("MALE" -> "MALE", "FEMALE" -> "FEMALE"))
    val out = Validate.invalidCtValues(df, col("sex"), allowed)
      .collect().map(_.getString(0)).toSeq
    assert(out == Seq("OTHER"))
  }

  test("SEND-only codelist (DM.SPECIES C77808) validates through the SEND registry") {
    val dm = Seq(("STUDY1", "S1", "RAT"), ("STUDY1", "S2", "SPARKLEDOG"))
      .toDF("STUDYID", "USUBJID", "SPECIES")
    val domain = Standards.domain("send", "DM").get
    val issues = DomainValidation.validateDomain(dm, domain, ct = Standards.ct("send"))
    val ctIssue = issues.find(i => i.variable == "SPECIES" && i.kind == "InvalidCtValue")
    // C77808 is extensible → Info, one bad distinct value, sampled
    assert(ctIssue.exists(i => i.count == 1 && i.severity == "Info"), issues.toString)
    assert(ctIssue.exists(_.samples.contains("SPARKLEDOG")))
  }

  test("X1 orphan subjects via broadcast anti-join") {
    val dom = Seq(("S1", 1), ("S2", 2), ("S3", 3)).toDF("usubjid", "n")
    val dm = Seq("S1", "S3").toDF("usubjid")
    val out = Validate.orphanSubjects(dom, dm, "usubjid")
      .select("usubjid").collect().map(_.getString(0)).toSeq
    assert(out == Seq("S2"))
  }

  test("X1/X5 anti-joins broadcast under Spark's own threshold; rows identical without it") {
    val dom = Seq(("S1", 1), ("S2", 2), ("S3", 3)).toDF("usubjid", "n")
    val dm = Seq("S1", "S3").toDF("usubjid")
    val refs = Seq(("AE", "AESEQ", "1"), ("AE", "AESEQ", "9")).toDF("rdomain", "idvar", "idvarval")
    val keys = Seq(("AE", "AESEQ", "1")).toDF("rdomain", "idvar", "idvarval")
    def run(df: DataFrame, c: String): (Seq[String], String) = {
      val rows = df.select(c).collect().map(_.getString(0)).toSeq
      (rows, PlanFacts.finalPlan(df.queryExecution.executedPlan))
    }
    def x1 = run(Validate.orphanSubjects(dom, dm, "usubjid"), "usubjid")
    def x5 = run(Validate.danglingRecordRefs(refs, keys), "idvarval")
    // session defaults: the tiny key sides fit autoBroadcastJoinThreshold
    Seq(x1 -> Seq("S2"), x5 -> Seq("9")).foreach { case ((rows, plan), want) =>
      assert(rows == want)
      assert(plan.linesIterator.exists(l => l.contains("BroadcastHashJoin") && l.contains("LeftAnti")),
        plan)
    }
    val key = "spark.sql.autoBroadcastJoinThreshold"
    spark.conf.set(key, "-1")
    try {
      assert(x1._1 == Seq("S2"))
      assert(x5._1 == Seq("9"))
    } finally spark.conf.unset(key)
  }

  test("X3 reciprocal pairs") {
    val pairs = Seq(("A", "B"), ("B", "A"), ("A", "C")).toDF("u", "r")
    val out = Validate.missingReciprocal(pairs, "u", "r")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(out == Seq(("A", "C")))
  }

  test("X4 parent chain scoped to subject") {
    val df = Seq(
      ("S1", "R1", ""), ("S1", "R2", "R1"),
      ("S2", "R1", "R9"))
      .toDF("usubjid", "refid", "parent")
    val out = Validate.brokenParentChain(df, "usubjid", "parent", "refid")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(out == Seq(("S2", "R9")))
  }

  test("X5 empty key table: no listed column exists → all references dangle") {
    val ae = Seq("1").toDF("AESEQ")
    val keys = Validate.relrecKeyTable(Map("AE" -> (ae, Seq("NOPE"))))
    assert(keys.isEmpty)
    val refs = Seq(("AE", "AESEQ", "1")).toDF("rdomain", "idvar", "idvarval")
    assert(Validate.danglingRecordRefs(refs, keys).count() == 1)
  }

  test("X5 record refs against union key table") {
    val ae = Seq(("1"), ("2")).toDF("AESEQ")
    val keys = Validate.relrecKeyTable(Map("AE" -> (ae, Seq("AESEQ"))))
    val refs = Seq(("AE", "AESEQ", "2"), ("AE", "AESEQ", "9"))
      .toDF("rdomain", "idvar", "idvarval")
    val out = Validate.danglingRecordRefs(refs, keys)
      .select("idvarval").collect().map(_.getString(0)).toSeq
    assert(out == Seq("9"))
  }

  test("cross-domain: blank USUBJID rows are not X1 orphans") {
    val dm = Seq("GRAFT-1").toDF("USUBJID")
    val ae = Seq("GRAFT-1", "", "  ", "GRAFT-9").toDF("USUBJID")
    val issues = DomainValidation.validateCrossDomain(Map("DM" -> dm, "AE" -> ae))
    val orphan = issues.find(_.kind == "SubjectNotInDm")
    assert(orphan.isDefined)
    assert(orphan.get.count == 1 && orphan.get.samples == Seq("GRAFT-9"))
  }

  test("cross-domain: blank RSUBJID is never an orphan; no DM skips everything") {
    val dm = Seq("GRAFT-1", "GRAFT-2").toDF("USUBJID")
    // blank RSUBJID = pool relationship, explicitly skipped by the reference
    val rs = Seq(("GRAFT-1", ""), ("GRAFT-2", "  "), ("GRAFT-1", "GRAFT-9"))
      .toDF("USUBJID", "RSUBJID")
    val issues = DomainValidation.validateCrossDomain(Map("DM" -> dm, "RELSUB" -> rs))
    val orphan = issues.find(_.kind == "RsubjidNotInDm")
    assert(orphan.isDefined, issues.toString)
    assert(orphan.get.count == 1 && orphan.get.samples == Seq("GRAFT-9"))
    // without DM there is no subject reference — the reference returns
    // nothing at all (validate/mod.rs:102-112)
    assert(DomainValidation.validateCrossDomain(Map("RELSUB" -> rs)).isEmpty)
  }

  test("column and domain names fold locale-free: a Turkish default finds usubjid") {
    val dm = Seq(("STUDY1", "S1"), ("STUDY1", "")).toDF("studyid", "usubjid")
    val saved = Locale.getDefault
    Locale.setDefault(Locale.forLanguageTag("tr-TR"))
    try {
      val issues = DomainValidation.validateDomain(dm, Standards.domain("DM").get)
      assert(!issues.exists(i => i.variable == "USUBJID" && i.kind == "RequiredMissing"),
        issues.toString)
      assert(issues.exists(i => i.variable == "USUBJID" && i.kind == "RequiredEmpty" &&
        i.count == 1), issues.toString)
    } finally Locale.setDefault(saved)
  }

  private def dmS = Seq("S1", "S2", "S3").toDF("USUBJID")

  test("cross-domain X2: RDOMAIN of CO and RELREC must name a submitted domain") {
    val co = Seq("AE", "ae", "XX", "", "YY").toDF("RDOMAIN")
    val rr = Seq("DM", "ZZ").toDF("RDOMAIN")
    val issues = DomainValidation.validateCrossDomain(
      Map("DM" -> dmS, "AE" -> dmS, "CO" -> co, "RELREC" -> rr))
      .filter(_.kind == "InvalidRdomain")
    assert(issues.toSet == Set(
      Issue("CO", "RDOMAIN", "InvalidRdomain", "Error", 2, Nil),
      Issue("RELREC", "RDOMAIN", "InvalidRdomain", "Error", 1, Nil)), issues)
  }

  test("cross-domain X3: a RELSUB pair without its reciprocal is counted") {
    val rs = Seq(("S1", "S2"), ("S2", "S1"), ("S1", "S3"), ("S3", "S2"), ("S3", ""))
      .toDF("USUBJID", "RSUBJID")
    val issues = DomainValidation.validateCrossDomain(Map("DM" -> dmS, "RELSUB" -> rs))
    assert(issues == Seq(Issue("RELSUB", "RSUBJID", "MissingReciprocal", "Warning", 2, Nil)),
      issues)
  }

  test("cross-domain X4: without REFID every non-empty PARENT is broken") {
    val rsp = Seq(("S1", "P1"), ("S1", ""), ("S2", "P2"), ("S2", " ")).toDF("USUBJID", "PARENT")
    val issues = DomainValidation.validateCrossDomain(Map("DM" -> dmS, "RELSPEC" -> rsp))
    assert(issues == Seq(
      Issue("RELSPEC", "PARENT", "BrokenParentChain", "Error", 2, Seq("S1:P1", "S2:P2"))), issues)
  }

  test("cross-domain X4 counts rows: two identical broken rows count 2") {
    val rsp = Seq(("S1", "R1", ""), ("S1", "R2", "R1"), ("S1", "R3", "R9"), ("S1", "R3", "R9"))
      .toDF("USUBJID", "REFID", "PARENT")
    val issues = DomainValidation.validateCrossDomain(Map("DM" -> dmS, "RELSPEC" -> rsp))
    assert(issues == Seq(
      Issue("RELSPEC", "PARENT", "BrokenParentChain", "Error", 2, Seq("S1:R9"))), issues)
  }
}
