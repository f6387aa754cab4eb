package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Graft.{isBlank, txt}
import graft.expressions.{CtExpressions, CtIndex}
import graft.standards.{SdtmDomain, Standards, VariableType}

/**
 * Per-domain validation driver (`checks/mod.rs:24-77` — checks 1-8 in
 * order) producing a typed `Seq[Issue]`. Every per-variable statistic
 * rides ONE fused aggregation over the frame; only the V5 duplicate-SEQ
 * check needs its own groupBy job. Cross-domain checks live in
 * [[Validate]] (X1-X5 anti-joins).
 */
object DomainValidation {

  /** Known date/time variable-name suffixes requiring ISO-8601 validation —
    * the reference's exact list (checks/dates.rs:27), case-insensitive. */
  private val DateSuffixes =
    Seq("DTC", "DTM", "DT", "TM", "STDTC", "ENDTC", "STDT", "ENDT")

  private def isDateVar(name: String): Boolean = {
    val u = name.toUpperCase
    DateSuffixes.exists(u.endsWith)
  }

  /** Run V1-V8 over one domain frame. `declaredLengths` feeds V6; `ct` is
    * the study's CT registry (standard-aware — a SEND study validates
    * against SEND-first resolution order). */
  def validateDomain(df: DataFrame, domain: SdtmDomain,
      notCollected: Set[String] = Set.empty,
      declaredLengths: Map[String, Int] = Map.empty,
      ct: graft.standards.TerminologyRegistry = Standards.ctRegistry): Seq[Issue] = {
    val issues = Seq.newBuilder[Issue]
    val present = df.columns.map(c => c.toUpperCase -> c).toMap
    val vars = domain.orderedVariables

    // V1/V2 absence checks need no scan
    vars.foreach { v =>
      val here = present.contains(v.name.toUpperCase)
      if (!here && v.isRequired)
        issues += Issue(domain.name, v.name, "RequiredMissing", "Reject", 0, Nil)
      if (!here && v.isExpected && !notCollected.contains(v.name))
        issues += Issue(domain.name, v.name, "ExpectedMissing", "Warning", 0, Nil)
    }

    val presentVars = vars.filter(v => present.contains(v.name.toUpperCase))
    if (presentVars.isEmpty) return issues.result()
    // V8 codelists with terms, by variable name
    val ctIndexes = presentVars.flatMap(v => v.firstCodelistCode
      .map(code => v.name -> CtIndex(ct, code)).filterNot(_._2.isEmpty)).toMap

    // one fused aggregation: blanks, type conformance, ISO shape, lengths,
    // CT membership counts + samples
    val aggs = Seq.newBuilder[Column]
    aggs += count(lit(1)).as("__total")
    presentVars.foreach { v =>
      val c = col(present(v.name.toUpperCase))
      val n = v.name
      aggs += sum(when(isBlank(c), 1L).otherwise(0L)).as(s"${n}__blank")
      if (v.dataType == VariableType.Num)
        aggs += sum(when(!isBlank(c) && !txt(c).rlike(Validate.NumericRegex), 1L)
          .otherwise(0L)).as(s"${n}__badnum")
      if (isDateVar(n))
        aggs += sum(when(!isBlank(c) && !txt(c).rlike(Validate.IsoDateRegex), 1L)
          .otherwise(0L)).as(s"${n}__baddate")
      declaredLengths.get(n).foreach { len =>
        aggs += sum(when(length(txt(c)) > len, 1L).otherwise(0L)).as(s"${n}__overlen")
        aggs += max(length(txt(c))).as(s"${n}__maxlen")
      }
      ctIndexes.get(n).foreach { index =>
        val bad = !isBlank(c) && !CtExpressions.member(c, index)
        aggs += sum(when(bad, 1L).otherwise(0L)).as(s"${n}__badct")
        aggs += slice(sort_array(collect_set(when(bad, txt(c)))), 1, 5).as(s"${n}__ctsamples")
      }
    }
    val row = df.agg(aggs.result().head, aggs.result().tail: _*).head()
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
    val seqVar = s"${domain.name.toUpperCase}SEQ"
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
    val upper = domains.map { case (k, v) => k.toUpperCase -> v }
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
        .agg(count(lit(1)), slice(sort_array(collect_set(col("USUBJID"))), 1, 5))
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
          .agg(count(lit(1)), slice(sort_array(collect_set(col("USUBJID"))), 1, 5)).head()
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
      val cols = rsp.columns.map(_.toUpperCase).toSet
      if (cols.contains("USUBJID") && cols.contains("PARENT")) {
        val withRef = if (cols.contains("REFID")) rsp else rsp.withColumn("REFID", lit(""))
        val refids = withRef
          .select(txt(col("USUBJID")).as("USUBJID"), txt(col("REFID")).as("PARENT"))
          .where(col("PARENT") =!= "").distinct()
        val broken = withRef.where(!isBlank(col("PARENT")))
          .select(txt(col("USUBJID")).as("USUBJID"), txt(col("PARENT")).as("PARENT"))
          .join(broadcast(refids), Seq("USUBJID", "PARENT"), "left_anti")
        val r = broken.agg(count(lit(1)), slice(sort_array(
          collect_set(concat_ws(":", col("USUBJID"), col("PARENT")))), 1, 5)).head()
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
      val cols = rr.columns.map(_.toUpperCase).toSet
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
            .agg(count(lit(1)).as("n"), slice(sort_array(
              collect_set(concat_ws("=", col("idvar"), col("idvarval")))), 1, 5).as("samples"))
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
