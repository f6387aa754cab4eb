package graft.operators

import java.util.Locale

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Graft.{sourceCol, txt}
import graft.functions.JaroWinkler
import graft.operators.Validate.NumericRegex
import graft.standards.Codelist

/** Per-column statistics driving the schema matcher (ColumnHint —
  * `crates/tss-standards/src/lib.rs:136`, built in
  * `crates/tss-ingest/src/hints.rs:14-103`). */
case class ColumnHint(
    isNumeric: Boolean,
    uniqueRatio: Double,
    nullRatio: Double,
    label: Option[String] = None)

/** Text statistics of one column over the normal form `txt(value)`: rows,
  * blank rows, distinct non-blank values, numeric non-blank rows, and the
  * sum and maximum of the non-blank lengths. */
private[graft] case class ColumnProfile(total: Long, blanks: Long, distinct: Long,
    numeric: Long, lengthSum: Long, maxLength: Int)

/** Target-variable metadata for the scorer (subset of SdtmVariable —
  * `crates/tss-standards/src/sdtm_ig.rs`). `isNumeric` is the IG's
  * DECLARED type when the caller has it (None ⇒ fall back to the
  * reference's name heuristic, score.rs:202). */
case class VarMeta(name: String, label: Option[String] = None,
    required: Boolean = false, isNumeric: Option[Boolean] = None)

/** One suggested column→variable assignment with its explained score. */
case class Suggestion(sourceColumn: String, targetVariable: String, score: Double,
    components: Seq[(String, Double)])

/**
 * Schema-matching engine F1-F4 (SURVEY §2.4).
 *
 * Hint building is the only part that touches data: one column profile
 * per table ([[Mapping.columnProfile]]), whose plan grows linearly with the
 * column count. Scoring and assignment run on the driver over column
 * *names* (≤ hundreds of strings) — semantics studied from
 * `crates/tss-submit/src/map/score.rs:120-293`.
 */
object Mapping {

  // ---- F1: column hints (one column profile) -------------------------------

  /** The profile of each of `cols`, in order — the one place E1 counts
    * distinct values ([[columnHints]], `ItemsMetadata.analyzeColumns`).
    * The cells become `(i, v)` rows — the column's index and the value's
    * normal form `txt(value)` — counted per `(i, v)` and folded per index.
    * Every statistic is a function of `txt(value)` and its count, so no
    * per-column distinct aggregate is needed (Spark plans several as one
    * `Expand` whose size grows as the square of the column count): the plan
    * is one `explode` and two aggregates, linear in the columns, and the
    * shuffle carries the distinct `(i, v)` pairs after the map-side
    * combine. A zero-row frame profiles every column as all zeros. */
  private[graft] def columnProfile(df: DataFrame, cols: Seq[String]): Seq[ColumnProfile] = {
    if (cols.isEmpty) return Nil
    val cells = array(cols.zipWithIndex.map { case (c, i) =>
      struct(lit(i).as("i"), txt(sourceCol(c)).as("v"))
    }: _*)
    val v = col("v")
    val n = col("n")
    val filled = v =!= ""
    val byIndex = df.select(explode(cells).as("cell"))
      .select(col("cell.i").as("i"), col("cell.v").as("v"))
      .groupBy("i", "v").agg(count(lit(1)).as("n"))
      .groupBy("i").agg(
        sum(n).as("total"),
        sum(when(filled, 0L).otherwise(n)).as("blanks"),
        count(when(filled, 1)).as("distinct"),
        sum(when(filled && v.rlike(NumericRegex), n).otherwise(0L)).as("numeric"),
        sum(when(filled, length(v).cast("long") * n).otherwise(0L)).as("lengthSum"),
        max(when(filled, length(v))).as("maxLength"))
      .collect().map { r =>
        r.getInt(0) -> ColumnProfile(r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), if (r.isNullAt(6)) 0 else r.getInt(6))
      }.toMap
    cols.indices.map(byIndex.getOrElse(_, ColumnProfile(0L, 0L, 0L, 0L, 0L, 0)))
  }

  /** F1 — build hints for every column (hints.rs:14-103):
    * null_ratio counts blank-after-trim as null; unique_ratio is distinct
    * trimmed values over non-null count; is_numeric when >90% of non-null
    * values parse as f64. */
  def columnHints(df: DataFrame, labels: Map[String, String] = Map.empty): Map[String, ColumnHint] = {
    val cols = df.columns.toSeq
    cols.zip(columnProfile(df, cols)).map { case (c, p) =>
      val nonNull = p.total - p.blanks
      c -> ColumnHint(
        isNumeric = nonNull > 0 && p.numeric.toDouble / nonNull > 0.9,
        uniqueRatio = if (nonNull > 0) p.distinct.toDouble / nonNull else 0.0,
        nullRatio = if (p.total > 0) p.blanks.toDouble / p.total else 1.0,
        label = labels.get(c))
    }.toMap
  }

  /** Hints as a DataFrame (for the oracle-checked query surface). */
  def columnHintsDf(df: DataFrame, cols: Seq[String]): DataFrame = {
    val hints = columnHints(df.select(cols.map(col): _*))
    val spark = df.sparkSession
    import spark.implicits._
    cols.map { c =>
      val h = hints(c)
      (c, h.isNumeric, h.uniqueRatio, h.nullRatio)
    }.toDF("column", "is_numeric", "unique_ratio", "null_ratio")
  }

  // ---- F2: sample values ---------------------------------------------------

  /** F2 — up to `limit` distinct non-empty values (hints.rs:105-133), made
    * deterministic by sorting (the reference returns scan order). */
  def sampleValues(df: DataFrame, column: String, limit: Int): Seq[String] =
    df.select(txt(sourceCol(column)).as("v")).where(col("v") =!= "")
      .distinct().orderBy("v").limit(limit)
      .collect().map(_.getString(0)).toSeq

  // ---- F3: pair scorer -----------------------------------------------------

  /** Name normalization for comparison (score.rs:286-293): trim, lowercase,
    * separators → space, squeeze whitespace. */
  def normalizeName(s: String): String =
    s.trim.toLowerCase(Locale.ROOT).replaceAll("[_\\-.]", " ").split("\\s+").filter(_.nonEmpty).mkString(" ")

  /** F3 — explainable pair score (score.rs:161-278): Jaro-Winkler base on
    * normalized names; ×1.10 label boost when label JW > 0.85; SEQ suffix
    * match ×1.05 / one-sided ×0.6; CD suffix column-only ×0.7, variable-only
    * ×0.8; numeric-type mismatch ×0.85 (a variable is "numeric" iff its name
    * ends in N). */
  def computeScore(column: String, variable: VarMeta, hint: Option[ColumnHint]): Suggestion = {
    val base = JaroWinkler.similarity(normalizeName(column), normalizeName(variable.name))
    var score = base
    val components = Seq.newBuilder[(String, Double)]
    components += ("name" -> base)

    for {
      h <- hint
      cl <- h.label
      vl <- variable.label
    } {
      val labelSim = JaroWinkler.similarity(normalizeName(cl), normalizeName(vl))
      if (labelSim > 0.85) { score *= 1.10; components += ("label" -> 0.10) }
    }

    val cu = Codelist.fold(column)
    val vu = Codelist.fold(variable.name)
    if (cu.endsWith("SEQ")) {
      if (vu.endsWith("SEQ")) { score *= 1.05; components += ("seq_match" -> 0.05) }
      else { score *= 0.6; components += ("seq_mismatch" -> -0.4) }
    } else if (vu.endsWith("SEQ")) { score *= 0.6; components += ("seq_mismatch" -> -0.4) }
    if (cu.endsWith("CD") && !vu.endsWith("CD")) { score *= 0.7; components += ("cd_mismatch" -> -0.3) }
    if (vu.endsWith("CD") && !cu.endsWith("CD")) { score *= 0.8; components += ("cd_expected" -> -0.2) }

    hint.foreach { h =>
      // the reference infers "numeric variable" from a trailing N
      // (score.rs:202) — safe in SDTM, but ADaM names like AGEGRyN make a
      // numeric column prefer AGEGRyN (no penalty) over its exact match
      // AGE (penalized); the IG's declared Num/Char type wins when known
      val varIsNumeric = variable.isNumeric.getOrElse(variable.name.endsWith("N"))
      if (varIsNumeric != h.isNumeric) { score *= 0.85; components += ("type_mismatch" -> -0.15) }
    }
    Suggestion(column, variable.name, score, components.result())
  }

  // ---- F4: greedy 1:1 assignment -------------------------------------------

  /** F4 — greedy best-first one-to-one assignment (score.rs:120-159): score
    * all pairs ≥ minConfidence, sort by score descending (stable — insertion
    * order, i.e. variable-then-column order, breaks ties like the
    * reference's stable sort), assign each column and variable at most
    * once. */
  def suggestAll(columns: Seq[String], variables: Seq[VarMeta],
      hints: Map[String, ColumnHint], minConfidence: Double = 0.5): Seq[Suggestion] = {
    val candidates = for {
      v <- variables
      c <- columns
      s = computeScore(c, v, hints.get(c))
      if s.score >= minConfidence
    } yield s
    val sorted = candidates.sortBy(-_.score)
    val usedCols = scala.collection.mutable.Set[String]()
    val usedVars = scala.collection.mutable.Set[String]()
    sorted.flatMap { s =>
      if (usedCols.contains(s.sourceColumn) || usedVars.contains(s.targetVariable)) None
      else { usedCols += s.sourceColumn; usedVars += s.targetVariable; Some(s) }
    }
  }
}

/** Mapping lifecycle states (state.rs:16-60). */
object MappingStatus extends Enumeration {
  val Accepted, AutoGenerated, Suggested, NotCollected, Omitted, Unmapped = Value
}

/**
 * F5 — mapping state machine (`crates/tss-submit/src/map/state.rs:16-500`),
 * driver-side. Invariants enforced:
 *  - one source column maps to at most one variable (accepting a column
 *    elsewhere releases its previous assignment — state.rs:269-289);
 *  - Required variables cannot be marked NotCollected (state.rs:316+);
 *  - only Accepted/AutoGenerated mappings export to the config.
 */
class MappingState(val domain: String, variables: Seq[VarMeta]) {
  import MappingStatus._

  /** Target variable names in IG order (snapshot/persistence iterates these
    * so it never needs a second metadata lookup). */
  def variableNames: Seq[String] = variables.map(_.name)

  private val varsByName = variables.map(v => v.name -> v).toMap
  private val status = scala.collection.mutable.Map[String, MappingStatus.Value]() ++
    variables.map(_.name -> Unmapped)
  private val assignment = scala.collection.mutable.Map[String, String]() // variable -> column

  def statusOf(variable: String): MappingStatus.Value = status.getOrElse(variable, Unmapped)
  def columnFor(variable: String): Option[String] = assignment.get(variable)

  /** Load scorer suggestions (does not overwrite accepted mappings). */
  def applySuggestions(suggestions: Seq[Suggestion]): Unit =
    suggestions.foreach { s =>
      if (varsByName.contains(s.targetVariable) && statusOf(s.targetVariable) == Unmapped) {
        assignment(s.targetVariable) = s.sourceColumn
        status(s.targetVariable) = Suggested
      }
    }

  /** Accept a manual mapping; releases the column from any other variable. */
  def acceptManual(variable: String, column: String): Either[String, Unit] = {
    if (!varsByName.contains(variable)) return Left(s"unknown variable $variable")
    assignment.filter(_._2 == column).keys.filter(_ != variable).foreach { other =>
      assignment.remove(other); status(other) = Unmapped
    }
    assignment(variable) = column
    status(variable) = Accepted
    Right(())
  }

  def acceptSuggestion(variable: String): Either[String, Unit] =
    if (statusOf(variable) == Suggested) {
      // promoting a suggestion claims its column exclusively, releasing it
      // from any other variable (same invariant as acceptManual)
      assignment.get(variable).foreach { column =>
        assignment.filter(_._2 == column).keys.filter(_ != variable).foreach { other =>
          assignment.remove(other); status(other) = Unmapped
        }
      }
      status(variable) = Accepted
      Right(())
    } else Left(s"$variable has no pending suggestion")

  /** Required variables cannot be not-collected (state.rs:316+). */
  def markNotCollected(variable: String): Either[String, Unit] =
    varsByName.get(variable) match {
      case None => Left(s"unknown variable $variable")
      case Some(v) if v.required => Left(s"$variable is Required and cannot be NotCollected")
      case Some(_) =>
        assignment.remove(variable); status(variable) = NotCollected; Right(())
    }

  def omit(variable: String): Either[String, Unit] =
    if (varsByName.contains(variable)) {
      assignment.remove(variable); status(variable) = Omitted; Right(())
    } else Left(s"unknown variable $variable")

  /** Exportable config: only confirmed mappings (state.rs:462). */
  def toConfig: Map[String, String] =
    assignment.filter { case (v, _) =>
      statusOf(v) == Accepted || statusOf(v) == AutoGenerated
    }.toMap

  def omitted: Set[String] = status.collect { case (v, Omitted) => v }.toSet

  /** Validation skips these variables' Expected checks (`validate/mod.rs:77-84`). */
  def notCollected: Set[String] = status.collect { case (v, NotCollected) => v }.toSet
}
