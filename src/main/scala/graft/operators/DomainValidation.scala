package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Graft.{isBlank, txt}
import graft.expressions.CtIndex
import graft.standards.{Codelist, SdtmDomain, Standards, VariableType}

/**
 * Validation driver producing typed `Seq[Issue]`s: composes [[Validate]],
 * which defines every check expression, and decides which check applies to
 * which variable. Per domain (`checks/mod.rs:24-77` — checks 1-8 in order)
 * every per-variable statistic rides ONE fused aggregation over the frame;
 * only the V5 duplicate-SEQ check needs its own groupBy job. Study-wide,
 * X1-X5 are one anti-join each, with the join strategy left to Spark.
 */
object DomainValidation {

  /** Known date/time variable-name suffixes requiring ISO-8601 validation —
    * the reference's exact list (checks/dates.rs:27), case-insensitive. */
  private val DateSuffixes =
    Seq("DTC", "DTM", "DT", "TM", "STDTC", "ENDTC", "STDT", "ENDT")

  private def isDateVar(name: String): Boolean = DateSuffixes.exists(Codelist.fold(name).endsWith)

  /** Run V1-V8 over one domain frame. `declaredLengths` feeds V6; `ct` is
    * the study's CT registry (standard-aware — a SEND study validates
    * against SEND-first resolution order). */
  def validateDomain(df: DataFrame, domain: SdtmDomain,
      notCollected: Set[String] = Set.empty,
      declaredLengths: Map[String, Int] = Map.empty,
      ct: graft.standards.TerminologyRegistry = Standards.ctRegistry): Seq[Issue] = {
    val issues = Seq.newBuilder[Issue]
    val present = df.columns.map(c => Codelist.fold(c) -> c).toMap
    val vars = domain.orderedVariables

    // V1/V2 absence checks need no scan
    vars.foreach { v =>
      val here = present.contains(Codelist.fold(v.name))
      if (!here && v.isRequired)
        issues += Issue(domain.name, v.name, "RequiredMissing", "Reject", 0, Nil)
      if (!here && v.isExpected && !notCollected.contains(v.name))
        issues += Issue(domain.name, v.name, "ExpectedMissing", "Warning", 0, Nil)
    }

    val presentVars = vars.filter(v => present.contains(Codelist.fold(v.name)))
    if (presentVars.isEmpty) return issues.result()
    // V8 codelists with terms, by variable name
    val ctIndexes = presentVars.flatMap(v => v.firstCodelistCode
      .map(code => v.name -> CtIndex(ct, code)).filterNot(_._2.isEmpty)).toMap

    // one fused aggregation: blanks, type conformance, ISO shape, lengths,
    // CT membership counts + samples
    val aggs = Seq.newBuilder[Column]
    presentVars.foreach { v =>
      val c = col(present(Codelist.fold(v.name)))
      val n = v.name
      aggs += Validate.blankCount(c).as(s"${n}__blank")
      if (v.dataType == VariableType.Num)
        aggs += Validate.nonNumericCount(c).as(s"${n}__badnum")
      if (isDateVar(n))
        aggs += Validate.nonIsoDateCount(c).as(s"${n}__baddate")
      declaredLengths.get(n).foreach { len =>
        aggs += Validate.lengthViolations(c, len).as(s"${n}__overlen")
        aggs += Validate.maxObservedLength(c).as(s"${n}__maxlen")
      }
      ctIndexes.get(n).foreach { index =>
        val bad = Validate.ctViolation(c, index)
        aggs += Validate.countOf(bad).as(s"${n}__badct")
        aggs += Validate.samples(c, bad).as(s"${n}__ctsamples")
      }
    }
    val row = df.agg(count(lit(1)).as("__total"), aggs.result(): _*).head()
    val total = row.getAs[Long]("__total")

    presentVars.foreach { v =>
      val n = v.name
      val blanks = row.getAs[Long](s"${n}__blank")
      if (v.isRequired) {
        if (blanks == total)
          issues += Issue(domain.name, n, "RequiredMissing", "Reject", total, Nil)
        else if (blanks > 0)
          issues += Issue(domain.name, n, "RequiredEmpty", "Error", blanks, Nil)
      } else if (v.isExpected && blanks == total && !notCollected.contains(n))
        issues += Issue(domain.name, n, "ExpectedEmpty", "Warning", total, Nil)
      if (v.isIdentifier && blanks > 0)
        issues += Issue(domain.name, n, "IdentifierNull", "Error", blanks, Nil)
      if (v.dataType == VariableType.Num) {
        val bad = row.getAs[Long](s"${n}__badnum")
        if (bad > 0) issues += Issue(domain.name, n, "NonNumeric", "Error", bad, Nil)
      }
      if (isDateVar(n)) {
        val bad = row.getAs[Long](s"${n}__baddate")
        if (bad > 0) issues += Issue(domain.name, n, "NonIso8601", "Error", bad, Nil)
      }
      declaredLengths.get(n).foreach { len =>
        val over = row.getAs[Long](s"${n}__overlen")
        if (over > 0)
          issues += Issue(domain.name, n, "LengthExceeded", "Warning", over,
            Seq(s"max=${row.getAs[Int](s"${n}__maxlen")}", s"declared=$len"))
      }
      ctIndexes.get(n).foreach { index =>
        val bad = row.getAs[Long](s"${n}__badct")
        if (bad > 0) {
          val extensible = ct.get(index.code).exists(_.extensible)
          val samples = row.getSeq[String](row.fieldIndex(s"${n}__ctsamples"))
          issues += Issue(domain.name, n, "InvalidCtValue",
            if (extensible) "Info" else "Error", bad, samples)
        }
      }
    }

    // V5 — duplicate SEQ (own groupBy; shuffles on the subject key only)
    val seqVar = s"${Codelist.fold(domain.name)}SEQ"
    for {
      seqCol <- present.get(seqVar)
      subjCol <- present.get("USUBJID")
    } {
      val dup = Validate.duplicateSeqCount(df, subjCol, seqCol).head()
      if (dup.getLong(0) > 0)
        issues += Issue(domain.name, seqVar, "DuplicateSeq", "Error",
          dup.getLong(0), Nil)
    }
    issues.result()
  }

  /** Study-wide cross-domain checks X1-X5 over a domain registry. Without a
    * DM frame there is no subject reference — all cross-domain validation is
    * skipped, exactly like the reference (validate/mod.rs:102-112). */
  def validateCrossDomain(domains: Map[String, DataFrame]): Seq[Issue] = {
    val issues = Seq.newBuilder[Issue]
    val upper = domains.map { case (k, v) => Codelist.fold(k) -> v }
    // DM is the subject reference for everything below — guaranteed present
    // past this point
    val dm = upper.getOrElse("DM", return Nil)

    // X1 — every domain's subjects in one action: (domain, USUBJID) rows of
    // all non-DM domains, anti-joined to DM's keys, grouped by domain
    val subjectDomains = upper.filterNot(_._1 == "DM").keys.toSeq
      .filter(code => upper(code).columns.contains("USUBJID"))
    if (dm.columns.contains("USUBJID") && subjectDomains.nonEmpty) {
      // blank USUBJIDs are skipped — they belong to the per-domain
      // identifier-null check, not X1 (cross_domain.rs:62-64)
      val subjects = subjectDomains
        .map(code => upper(code).select(lit(code).as("domain"), txt(col("USUBJID")).as("USUBJID")))
        .reduce(_ unionByName _)
        .where(col("USUBJID") =!= "")
      val orphans = Validate.orphanSubjects(subjects, dm, "USUBJID")
        .groupBy(col("domain"))
        .agg(count(lit(1)), Validate.samples(col("USUBJID")))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getSeq[String](2))).toMap
      subjectDomains.foreach { code =>
        orphans.get(code).foreach { case (n, samples) =>
          issues += Issue(code, "USUBJID", "SubjectNotInDm", "Error", n, samples)
        }
      }
    }

    val codes = upper.keys.toSeq
    upper.filter { case (c, df) =>
      Seq("CO", "RELREC").contains(c) && df.columns.contains("RDOMAIN")
    }.foreach { case (code, df) =>
      val bad = Validate.invalidRdomain(df, "RDOMAIN", codes)
      val n = bad.count()
      if (n > 0) issues += Issue(code, "RDOMAIN", "InvalidRdomain", "Error", n, Nil)
    }

    upper.get("RELSUB").foreach { rs =>
      // Non-empty RSUBJID must reference a DM subject; blank RSUBJID (pool
      // relationships) is explicitly skipped (cross_domain.rs:158-160)
      if (rs.columns.contains("RSUBJID") && dm.columns.contains("USUBJID")) {
        val r = Validate.orphanSubjects(
            rs.select(txt(col("RSUBJID")).as("USUBJID")).where(col("USUBJID") =!= ""),
            dm, "USUBJID")
          .agg(count(lit(1)), Validate.samples(col("USUBJID"))).head()
        if (r.getLong(0) > 0)
          issues += Issue("RELSUB", "RSUBJID", "RsubjidNotInDm", "Error",
            r.getLong(0), r.getSeq[String](1))
      }
      if (Seq("USUBJID", "RSUBJID").forall(rs.columns.contains)) {
        val missing = Validate.missingReciprocal(rs, "USUBJID", "RSUBJID").count()
        if (missing > 0)
          issues += Issue("RELSUB", "RSUBJID", "MissingReciprocal", "Warning", missing, Nil)
      }
    }

    // X4 — RELSPEC parent chain: every non-empty PARENT must match a REFID of
    // the same subject (cross_domain.rs:232-293). Counted per ROW like the
    // reference, not per distinct pair. A RELSPEC without a REFID column means
    // no parent can resolve — every non-empty PARENT row is broken.
    upper.get("RELSPEC").foreach { rsp =>
      val cols = rsp.columns.map(Codelist.fold).toSet
      if (cols.contains("USUBJID") && cols.contains("PARENT")) {
        val withRef = if (cols.contains("REFID")) rsp else rsp.withColumn("REFID", lit(""))
        val r = Validate.brokenParentChain(withRef, "USUBJID", "PARENT", "REFID")
          .agg(count(lit(1)), Validate.samples(concat_ws(":", col("USUBJID"), col("PARENT"))))
          .head()
        if (r.getLong(0) > 0)
          issues += Issue("RELSPEC", "PARENT", "BrokenParentChain", "Error",
            r.getLong(0), r.getSeq[String](1))
      }
    }

    // X5 — RELREC record references: RDOMAIN+IDVAR+IDVARVAL must hit an
    // existing record key. Key table = the referenced domains' --SEQ/--GRPID/
    // --REFID/--LNKID + VISITNUM values (cross_domain.rs:300-384); one issue
    // per referenced RDOMAIN, like the reference's per-domain grouping.
    upper.get("RELREC").foreach { rr =>
      val cols = rr.columns.map(Codelist.fold).toSet
      if (Seq("RDOMAIN", "IDVAR", "IDVARVAL").forall(cols.contains)) {
        val keySources = upper.filterNot(_._1 == "RELREC").map { case (code, df) =>
          code -> (df, Seq(s"${code}SEQ", s"${code}GRPID", s"${code}REFID",
            s"${code}LNKID", "VISITNUM"))
        }
        if (keySources.nonEmpty) {
          val keys = Validate.relrecKeyTable(keySources)
          // dataset-level relationships (empty IDVARVAL) and rows with a blank
          // RDOMAIN/IDVAR are out of scope, as in check_relrec
          val scoped = rr.where(!isBlank(col("RDOMAIN")) && !isBlank(col("IDVAR")))
          val dangling = Validate.danglingRecordRefs(scoped, keys, "RDOMAIN", "IDVAR", "IDVARVAL")
          dangling.groupBy(col("rdomain"))
            .agg(count(lit(1)).as("n"),
              Validate.samples(concat_ws("=", col("idvar"), col("idvarval"))).as("samples"))
            .orderBy(col("rdomain"))
            .collect().foreach { row =>
              issues += Issue("RELREC", row.getString(0), "DanglingRecordRef", "Error",
                row.getLong(1), row.getSeq[String](2))
            }
        }
      }
    }
    issues.result()
  }
}
