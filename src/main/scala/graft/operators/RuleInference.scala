package graft.operators

import java.util.Locale

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

import graft.Graft.sourceCol
import graft.expressions.CtIndex
import graft.sources.CsvIngest
import graft.standards.{Codelist, SdtmDomain, SdtmVariable, Standards, VariableType}

/** The inferred transform for one target variable (NormalizationType —
  * `normalize/types.rs:18-64`). */
sealed trait NormalizationType
object NormalizationType {
  case object Constant extends NormalizationType
  case object UsubjidPrefix extends NormalizationType
  case object SequenceNumber extends NormalizationType
  final case class StudyDay(referenceDtc: String) extends NormalizationType
  case object Iso8601DateTime extends NormalizationType
  case object Iso8601Date extends NormalizationType
  case object Iso8601Duration extends NormalizationType
  final case class CtNormalization(codelistCode: String) extends NormalizationType
  case object NumericConversion extends NormalizationType
  case object CopyDirect extends NormalizationType
}

/** One rule: target variable ← transform(source column). */
case class NormalizationRule(
    targetVariable: String,
    transformType: NormalizationType,
    order: Int)

/** Execution context (NormalizationContext — `normalize/types.rs:147-216`):
  * study constants, accepted mappings (target variable → source column),
  * omitted variables, scalar DM reference date. */
case class NormalizationContext(
    studyId: String,
    domainCode: String,
    mappings: Map[String, String] = Map.empty,
    omitted: Set[String] = Set.empty,
    referenceDate: Option[String] = None,
    standard: String = "sdtm",
    // CT publication the study is pinned to (registry.rs:20 ct_version)
    ctVersion: String = graft.standards.Standards.DefaultCtVersion)

/**
 * The reference's "planner": infer one transform per target variable purely
 * from SDTM-IG metadata (`inference.rs:19-131`), then compile the rule list
 * into a SINGLE `df.select(...)` — Catalyst sees one projection (plus the
 * one window for SEQ), so column pruning and codegen span the whole
 * normalization.
 *
 * Priority (inference.rs:44-131): name patterns → described-value-domain →
 * codelist → data type → copy.
 */
object RuleInference {

  import NormalizationType._

  def inferType(variable: SdtmVariable, domainCode: String): NormalizationType = {
    val name = variable.name
    val dvd = variable.describedValueDomain.getOrElse("").toLowerCase(Locale.ROOT)

    if (name == "STUDYID" || name == "DOMAIN") return Constant
    if (name == "USUBJID") return UsubjidPrefix
    if (name.endsWith("SEQ") && name.startsWith(domainCode) && name.length > 3)
      return SequenceNumber
    // NB: deliberately unconditional like the reference (inference.rs:71-75):
    // VISITDY derives "VISITDTC", which no IG domain defines, so it resolves
    // to null downstream — reference-faithful, if surprising
    if (name.endsWith("DY") && name.length > 2)
      return StudyDay(name.dropRight(2) + "DTC")
    if (name.endsWith("DUR") || dvd.contains("duration")) return Iso8601Duration
    if (name.endsWith("DTC") || name.endsWith("DTM")) return Iso8601DateTime
    if (name.endsWith("DT") && !name.endsWith("DTM") && !name.endsWith("DTC"))
      return Iso8601Date
    if (dvd.contains("iso 8601") && dvd.contains("datetime")) return Iso8601DateTime
    if (dvd.contains("iso 8601") && !dvd.contains("duration")) return Iso8601Date
    variable.firstCodelistCode match {
      case Some(code) => return CtNormalization(code)
      case None =>
    }
    if (variable.dataType == VariableType.Num) return NumericConversion
    CopyDirect
  }

  /** Infer the full ordered pipeline for a domain (`inference.rs:19-37`). */
  def inferRules(domain: SdtmDomain): Seq[NormalizationRule] =
    domain.orderedVariables.map { v =>
      NormalizationRule(v.name, inferType(v, domain.name), v.order.getOrElse(999))
    }

  private def subjidSource(ctx: NormalizationContext, df: DataFrame): Option[String] =
    ctx.mappings.get("SUBJID").filter(df.columns.contains)
      .orElse(ctx.mappings.get("USUBJID").filter(df.columns.contains))

  /** Compile one rule to a Column over the source frame. Missing mapping ⇒
    * empty column (the reference's total-function behavior). */
  def ruleToColumn(spark: SparkSession, rule: NormalizationRule, ctx: NormalizationContext,
      df: DataFrame, rowId: Column): Column = {
    val sourceOpt = ctx.mappings.get(rule.targetVariable)
      .filter(df.columns.contains)
    def source: Column = sourceOpt.map(sourceCol).getOrElse(lit(""))
    val out: Column = rule.transformType match {
      case Constant =>
        if (rule.targetVariable == "STUDYID") lit(ctx.studyId)
        else lit(Codelist.fold(ctx.domainCode))
      case UsubjidPrefix =>
        // derive from the SUBJID mapping, falling back to a direct USUBJID
        // mapping; no mapping ⇒ all-empty (executor.rs:124-174)
        subjidSource(ctx, df) match {
          case Some(c) => Normalize.usubjid(ctx.studyId, sourceCol(c))
          case None => lit("")
        }
      case SequenceNumber =>
        val subj = subjidSource(ctx, df)
          .map(c => Normalize.usubjid(ctx.studyId, sourceCol(c)))
          .getOrElse(lit(""))
        Normalize.seqNumber(subj, rowId)
      case StudyDay(refDtc) =>
        // event date comes from the domain's --DTC variable (AESTDY →
        // AESTDTC's source column), reference from DM.RFSTDTC
        // (inference.rs:71-75, executor.rs:300-351)
        ctx.mappings.get(refDtc).filter(df.columns.contains) match {
          case Some(c) => Normalize.studyDay(sourceCol(c), ctx.referenceDate)
          case None => lit(null).cast(IntegerType)
        }
      case Iso8601DateTime | Iso8601Date => Normalize.iso8601(source)
      case Iso8601Duration => Normalize.isoDuration(source)
      case CtNormalization(code) =>
        Normalize.ctTerm(source, CtIndex(Standards.ct(ctx.standard, ctx.ctVersion), code))
      case NumericConversion => Normalize.numeric(source)
      case CopyDirect =>
        sourceOpt.map(c => Normalize.copyDirect(df, c)).getOrElse(lit(""))
    }
    out.as(rule.targetVariable)
  }

  /**
   * N12 — the whole normalization as ONE projection: infer rules, apply
   * mappings, skip omitted variables, emit `select(rules...)` in variable
   * order (`executor.rs:24-47`, `preview.rs:68-90`). StudyDay rules pull
   * the scalar RFSTDTC from ctx (collected once from DM).
   */
  def normalizeDomain(df: DataFrame, domain: SdtmDomain,
      ctx: NormalizationContext, keepRowId: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    val hasRowId = df.columns.contains(CsvIngest.RowIdCol)
    val rowId = if (hasRowId) col(CsvIngest.RowIdCol) else monotonically_increasing_id()
    val rules = inferRules(domain).filterNot(r => ctx.omitted.contains(r.targetVariable))
    val cols = rules.map(r => ruleToColumn(spark, r, ctx, df, rowId)) ++
      (if (keepRowId) Seq(rowId.as(CsvIngest.RowIdCol)) else Nil)
    df.select(cols: _*)
  }

  /** Scalar reference date from a DM frame in source order
    * (`preview.rs:174-190`): first value whose date parses. */
  def referenceDateFrom(dm: DataFrame, rfstdtcCol: String): Option[String] = {
    val rowId =
      if (dm.columns.contains(CsvIngest.RowIdCol)) col(CsvIngest.RowIdCol)
      else monotonically_increasing_id()
    Normalize.firstReferenceDate(
      dm.withColumn("__rid", rowId), rfstdtcCol, "__rid")
  }
}
