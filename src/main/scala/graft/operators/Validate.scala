package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Graft.{isBlank, txt}
import graft.expressions.{CtExpressions, CtIndex}
import graft.standards.Codelist

/** Typed validation finding — the shared shape (domain, variable, kind,
  * severity, count, samples) of every reference issue variant
  * (issue.rs:47-141). Kind crosswalk to the reference enum:
  * RequiredMissing/RequiredEmpty/ExpectedMissing/IdentifierNull verbatim;
  * ExpectedEmpty = ExpectedMissing's all-blank case; NonIso8601 =
  * InvalidDate; LengthExceeded = TextTooLong; NonNumeric = DataTypeMismatch;
  * DuplicateSeq = DuplicateSequence; InvalidCtValue = CtViolation;
  * SubjectNotInDm = UsubjidNotInDm; InvalidRdomain verbatim; RsubjidNotInDm
  * = RelsubNotInDm; MissingReciprocal = RelsubNotBidirectional;
  * BrokenParentChain = RelspecInvalidParent; DanglingRecordRef =
  * RelrecInvalidReference. (The remaining reference variant, ParentNotFound,
  * is declared but never constructed there.) */
case class Issue(
    domain: String,
    variable: String,
    kind: String,
    severity: String, // Reject | Error | Warning | Info
    count: Long,
    samples: Seq[String])

/**
 * Per-domain validation checks V1-V8 (SURVEY §2.5) and cross-domain checks
 * X1-X5 (§2.6): the one home of every check expression. Each per-domain
 * check is a predicate plus one `Column` aggregate, so ALL checks over a
 * domain fuse into a single scan (`df.agg(exprs:_*)`) — one pass, no
 * collect, samples via `slice(sort_array(collect_set))` capped at 5. Each
 * cross-domain check is one anti-join; the join strategy is left to
 * Spark's `autoBroadcastJoinThreshold` and AQE. [[DomainValidation]] and
 * the validation queries only compose these.
 *
 * Shape studied from the check modules under `crates/tss-submit/src/validate/checks/` and
 * `validate/cross_domain.rs`. The reference walks every column row-by-row.
 */
object Validate {

  /** Anchored ISO-8601 regex with range-validated month/day/hour
    * (dates.rs:19-24). */
  val IsoDateRegex: String =
    "^\\d{4}(-(0[1-9]|1[0-2])(-(0[1-9]|[12]\\d|3[01])" +
      "(T([01]\\d|2[0-3]):[0-5]\\d(:[0-5]\\d(\\.\\d+)?)?)?)?)?$"

  /** Numeric-shape regex shared by V3 and hints. */
  val NumericRegex: String = "^[+-]?((\\d+\\.?\\d*)|(\\.\\d+))([eE][+-]?\\d+)?$"

  /** Rows matching a check predicate, as one aggregate. */
  def countOf(bad: Column): Column = sum(when(bad, 1L).otherwise(0L))

  /** Up to five deterministic sample values matching a predicate — the
    * reference's MAX_INVALID_VALUES=5 samples, made order-stable. */
  def samples(c: Column, bad: Column = lit(true), n: Int = 5): Column =
    slice(sort_array(collect_set(when(bad, txt(c)))), 1, n)

  // ---- V1/V2/V7: null-or-blank population counts ---------------------------
  def blankCount(c: Column): Column = countOf(isBlank(c))

  def nonBlankCount(c: Column): Column = countOf(!isBlank(c))

  // ---- V3: type conformance -------------------------------------------------
  def nonNumeric(c: Column): Column = !isBlank(c) && !txt(c).rlike(NumericRegex)

  def nonNumericCount(c: Column): Column = countOf(nonNumeric(c))

  // ---- V4: ISO-8601 conformance --------------------------------------------
  def nonIsoDateCount(c: Column): Column =
    countOf(!isBlank(c) && !txt(c).rlike(IsoDateRegex))

  // ---- V6: declared-length violations ---------------------------------------
  def lengthViolations(c: Column, maxLen: Int): Column = countOf(length(txt(c)) > maxLen)

  def maxObservedLength(c: Column): Column = max(length(txt(c)))

  // ---- V5: duplicate sequence numbers within a subject ----------------------
  /** Count of surplus rows: sum(count-1) over duplicated (subject, seq). */
  def duplicateSeqCount(df: DataFrame, subject: String, seq: String): DataFrame =
    df.groupBy(txt(col(subject)).as("subj"), col(seq))
      .count()
      .where(col("count") > 1)
      .agg(coalesce(sum(col("count") - 1), lit(0L)).as("dup_rows"),
        count(lit(1)).as("dup_keys"))

  // ---- V8: controlled terminology --------------------------------------------
  /** A non-blank value that resolves to no submission value or synonym of
    * the codelist. */
  def ctViolation(c: Column, index: CtIndex): Column =
    !isBlank(c) && !CtExpressions.member(c, index)

  /** Distinct upper-cased values of `c` that violate the codelist. */
  def invalidCtValues(df: DataFrame, c: Column, index: CtIndex): DataFrame =
    df.where(ctViolation(c, index)).select(upper(txt(c)).as("v")).distinct()

  // ---- X1: USUBJID referential integrity vs DM -------------------------------
  /** Rows of `domain` whose subject key is absent from `dm`. */
  def orphanSubjects(domain: DataFrame, dm: DataFrame, key: String): DataFrame = {
    val dmKeys = dm.select(txt(col(key)).as(key)).distinct()
    domain.withColumn(key, txt(col(key))).join(dmKeys, Seq(key), "left_anti")
  }

  // ---- X2: RDOMAIN must name a submitted domain ------------------------------
  def invalidRdomain(df: DataFrame, rdomain: String, domains: Seq[String]): DataFrame =
    df.where(!isBlank(col(rdomain)) && !upper(txt(col(rdomain))).isin(domains.map(Codelist.fold): _*))

  // ---- X3: bidirectional relationship pairs ----------------------------------
  /** Pairs (u, r) with no reciprocal (r, u) in the same frame — a self
    * anti-join on the swapped key. */
  def missingReciprocal(pairs: DataFrame, u: String, r: String): DataFrame = {
    // only fully-populated pairs participate — the reference builds its
    // relationship set from non-empty (u, r) only (cross_domain.rs:184-190)
    val populated = pairs
      .select(txt(col(u)).as(u), txt(col(r)).as(r))
      .where(col(u) =!= "" && col(r) =!= "")
    val swapped = populated.select(col(r).as(u), col(u).as(r)).distinct()
    populated.distinct().join(swapped, Seq(u, r), "left_anti")
  }

  // ---- X4: parent chain within a subject --------------------------------------
  /** Rows whose non-empty PARENT matches no REFID of the same subject, as
    * trimmed (subject, parent) pairs — one per row, not per distinct pair. */
  def brokenParentChain(df: DataFrame, subject: String, parent: String, refid: String): DataFrame = {
    val refids = df.select(txt(col(subject)).as(subject), txt(col(refid)).as(parent)).distinct()
    df.where(!isBlank(col(parent)))
      .select(txt(col(subject)).as(subject), txt(col(parent)).as(parent))
      .join(refids, Seq(subject, parent), "left_anti")
  }

  // ---- X5: record references (RELREC) ------------------------------------------
  /** Build the union key table (domain, idvar, value) from per-domain key
    * columns, then anti-join references against it. keyCols: domain code →
    * (DataFrame, key column names). */
  def relrecKeyTable(domains: Map[String, (DataFrame, Seq[String])]): DataFrame = {
    require(domains.nonEmpty, "relrecKeyTable needs at least one domain frame")
    val frames = for {
      (code, (df, cols)) <- domains.toSeq.sortBy(_._1)
      c <- cols if df.columns.contains(c)
    } yield df.select(lit(Codelist.fold(code)).as("rdomain"), lit(Codelist.fold(c)).as("idvar"),
      txt(col(c)).as("idvarval")).where(col("idvarval") =!= "").distinct()
    frames match {
      case Nil =>
        // no listed key column exists in any frame → empty key table (every
        // reference dangles), not an empty-reduce crash
        val spark = domains.head._2._1.sparkSession
        import spark.implicits._
        Seq.empty[(String, String, String)].toDF("rdomain", "idvar", "idvarval")
      case fs => fs.reduce(_ unionByName _).distinct()
    }
  }

  def danglingRecordRefs(relrec: DataFrame, keys: DataFrame,
      rdomain: String = "rdomain", idvar: String = "idvar", idvarval: String = "idvarval"): DataFrame =
    relrec
      .select(upper(txt(col(rdomain))).as("rdomain"), upper(txt(col(idvar))).as("idvar"),
        txt(col(idvarval)).as("idvarval"))
      .where(col("idvarval") =!= "")
      .join(keys, Seq("rdomain", "idvar", "idvarval"), "left_anti")
}
