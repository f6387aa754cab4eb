package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Graft.{sourceCol, txt}
import graft.operators.Mapping
import graft.standards.Codelist

/** Statistical profile of one column (ColumnScores —
  * `crates/tss-ingest/src/metadata/detection.rs:40-57`). */
case class ColumnScores(
    index: Int,
    name: String,
    uniqueness: Double,
    avgLength: Double,
    numericRatio: Double,
    cardinality: Long,
    emptyRatio: Double,
    allShortValues: Boolean)

case class ColumnRole(index: Int, name: String, confidence: Double)

/** Detected Items.csv schema (`detection.rs:142-294`). */
case class ItemsSchema(
    id: ColumnRole,
    label: ColumnRole,
    dataType: Option[ColumnRole],
    mandatory: Option[ColumnRole],
    formatName: Option[ColumnRole],
    contentLength: Option[ColumnRole])

/** One item-definition row extracted under a detected schema. */
case class ItemMeta(
    id: String,
    label: String,
    dataType: Option[String],
    mandatory: Option[String],
    formatName: Option[String],
    contentLength: Option[Double])

/**
 * S7 — Items.csv metadata scan with purely statistical schema detection
 * (no hardcoded column names), mirroring
 * `crates/tss-ingest/src/metadata/detection.rs:60-294`:
 * ID = most-unique short column with no empties; Label = longest average
 * text; DataType = cardinality 2-8 short values; Mandatory = binary/ternary
 * very short; FormatName = many empties; ContentLength = numeric short.
 *
 * All per-column statistics come from the column profile the hints share
 * (`Mapping.columnProfile`; the reference walks each column row-by-row);
 * role assignment is driver-side over the tiny stats vector.
 */
object ItemsMetadata {

  /** Profile every column but the ingest row id. */
  def analyzeColumns(df: DataFrame): Seq[ColumnScores] = {
    val cols = df.columns.toSeq.filterNot(_ == CsvIngest.RowIdCol)
    Mapping.columnProfile(df, cols).zip(cols).zipWithIndex.map { case ((p, c), idx) =>
      val nonNull = p.total - p.blanks
      // +1 for the empty "value" so cardinality matches the reference's
      // n_unique-over-all-rows (null counts as one distinct value)
      val card = p.distinct + (if (p.blanks > 0) 1L else 0L)
      ColumnScores(
        index = idx,
        name = c,
        uniqueness = if (p.total > 0) card.toDouble / p.total else 0.0,
        avgLength = if (nonNull > 0) p.lengthSum.toDouble / nonNull else 0.0,
        numericRatio = if (nonNull > 0) p.numeric.toDouble / nonNull else 0.0,
        cardinality = card,
        emptyRatio = if (p.total > 0) p.blanks.toDouble / p.total else 0.0,
        allShortValues = nonNull > 0 && p.maxLength <= 10)
    }
  }

  /** Role assignment (`detection.rs:142-294`), order-faithful. */
  def detectSchema(scores: Seq[ColumnScores]): Either[String, ItemsSchema] = {
    if (scores.length < 2) return Left("need at least 2 columns")

    val idOpt = scores.filter(_.emptyRatio < 0.1)
      .maxByOption(s => s.uniqueness / (1.0 + s.avgLength / 10.0))
    val id = idOpt match {
      case Some(s) => ColumnRole(s.index, s.name, s.uniqueness)
      case None => return Left("could not detect ID column")
    }

    val labelOpt = scores.filter(_.index != id.index).maxByOption(_.avgLength)
    val label = labelOpt match {
      case Some(s) => ColumnRole(s.index, s.name, if (s.avgLength > 10.0) 0.8 else 0.5)
      case None => return Left("could not detect label column")
    }

    val dataType = scores.filter(s =>
        s.index != id.index && s.index != label.index &&
        s.cardinality >= 2 && s.cardinality <= 8 &&
        s.avgLength < 15.0 && s.allShortValues)
      .minByOption(_.cardinality)
      .map(s => ColumnRole(s.index, s.name, 0.7))

    val mandatory = scores.find(s =>
        s.index != id.index && s.index != label.index &&
        dataType.forall(_.index != s.index) &&
        s.cardinality >= 2 && s.cardinality <= 3 && s.avgLength < 6.0)
      .map(s => ColumnRole(s.index, s.name, 0.6))

    val formatName = scores.filter(s =>
        s.index != id.index && s.index != label.index &&
        dataType.forall(_.index != s.index) &&
        mandatory.forall(_.index != s.index) &&
        s.emptyRatio > 0.2 && s.avgLength < 20.0)
      .maxByOption(_.emptyRatio)
      .map(s => ColumnRole(s.index, s.name, 0.5))

    val contentLength = scores.find(s =>
        s.index != id.index && s.index != label.index &&
        dataType.forall(_.index != s.index) &&
        mandatory.forall(_.index != s.index) &&
        formatName.forall(_.index != s.index) &&
        s.numericRatio > 0.9 && s.avgLength < 5.0)
      .map(s => ColumnRole(s.index, s.name, 0.7))

    Right(ItemsSchema(id, label, dataType, mandatory, formatName, contentLength))
  }

  /**
   * CodeLists.csv loader — the EDC-export companion of Items.csv
   * (mockdata fixture layout: FormatName, DataType, CodeValue, CodeText
   * under a label+name double header). Returns format name (uppercased) →
   * (code value → decoded text). Header names are matched space- and
   * case-insensitively so "Format Name"/"FormatName" spellings both work.
   * The reference ships this fixture but only models the type
   * (metadata/types.rs:180-214) — parsing it closes the study-codelist
   * ingestion gap.
   */
  def loadCodelists(df: DataFrame): Map[String, Map[String, String]] = {
    val byNorm = df.columns.map(c => Codelist.fold(c.replaceAll("\\s", "")) -> c).toMap
    (byNorm.get("FORMATNAME"), byNorm.get("CODEVALUE"), byNorm.get("CODETEXT")) match {
      case (Some(f), Some(v), Some(t)) =>
        df.select(txt(sourceCol(f)).as("f"), txt(sourceCol(v)).as("v"), txt(sourceCol(t)).as("t"))
          .where(col("f") =!= "" && col("v") =!= "")
          .collect()
          .groupBy(r => Codelist.fold(r.getString(0)))
          .map { case (fmt, rows) =>
            fmt -> rows.map(r => r.getString(1) -> r.getString(2)).toMap
          }
      case _ => Map.empty
    }
  }

  /** Load item metadata under a detected schema: id → ItemMeta, collected on
    * the driver (Items.csv is metadata-sized — hundreds of rows). */
  def loadItems(df: DataFrame, schema: ItemsSchema): Map[String, ItemMeta] = {
    // role indexes come from analyzeColumns over the _row_id-free column
    // list — resolve against the same basis, wherever the ingest row id
    // happens to sit in this frame
    val cols = df.columns.filterNot(_ == CsvIngest.RowIdCol)
    def c(r: ColumnRole): Column = txt(sourceCol(cols(r.index)))
    val sel = df.select(
      c(schema.id).as("id"),
      c(schema.label).as("label"),
      schema.dataType.map(c).getOrElse(lit("")).as("dt"),
      schema.mandatory.map(c).getOrElse(lit("")).as("mand"),
      schema.formatName.map(c).getOrElse(lit("")).as("fmt"),
      schema.contentLength.map(c).getOrElse(lit("")).as("clen"))
    sel.where(col("id") =!= "").collect().map { r =>
      val id = r.getString(0)
      id -> ItemMeta(
        id = id,
        label = r.getString(1),
        dataType = Option(r.getString(2)).filter(_.nonEmpty),
        mandatory = Option(r.getString(3)).filter(_.nonEmpty),
        formatName = Option(r.getString(4)).filter(_.nonEmpty),
        contentLength = graft.functions.Numerics.parse(r.getString(5)))
    }.toMap
  }
}
