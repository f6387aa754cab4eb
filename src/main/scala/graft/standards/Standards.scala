package graft.standards

import java.util.Locale

import scala.io.Source

import graft.sources.CsvIngest.parseCsvLine

/** SDTM variable metadata (SdtmVariable —
  * `crates/tss-standards/src/sdtm_ig.rs:111-149`; CSV column layout
  * documented in SURVEY §1.3). */
case class SdtmVariable(
    name: String,
    label: Option[String],
    dataType: VariableType.Value,
    codelistCodes: Seq[String],
    describedValueDomain: Option[String],
    role: Option[String],
    core: Option[String], // Req | Exp | Perm
    order: Option[Int],
    datasetName: String) {
  def isRequired: Boolean = core.contains("Req")
  def isExpected: Boolean = core.contains("Exp")
  def isIdentifier: Boolean = role.contains("Identifier")
  def firstCodelistCode: Option[String] =
    codelistCodes.headOption.map(_.trim).filter(_.nonEmpty)
}

object VariableType extends Enumeration {
  val Char, Num = Value
  def parse(s: String): VariableType.Value =
    if (s.trim.equalsIgnoreCase("Num")) Num else Char
}

/** SDTM domain with ordered variables (SdtmDomain — `sdtm_ig.rs`). */
case class SdtmDomain(
    name: String,
    label: Option[String],
    className: Option[String],
    structure: Option[String],
    variables: Seq[SdtmVariable]) {

  def variable(name: String): Option[SdtmVariable] =
    variables.find(_.name.equalsIgnoreCase(name))

  /** Variables sorted by order, nulls last, name tiebreak
    * (`sdtm_ig.rs:214-221`). */
  def orderedVariables: Seq[SdtmVariable] =
    variables.sortBy(v => (v.order.getOrElse(Int.MaxValue), v.name))

  /** Role-priority ordering for Define-XML (`sdtm/domain.rs:190`). */
  def variablesByRole: Seq[SdtmVariable] = {
    val roleRank = Map("Identifier" -> 0, "Topic" -> 1, "Synonym Qualifier" -> 2,
      "Grouping Qualifier" -> 3, "Result Qualifier" -> 4, "Variable Qualifier" -> 5,
      "Record Qualifier" -> 6, "Timing" -> 7)
    orderedVariables.sortBy(v => roleRank.getOrElse(v.role.getOrElse(""), 8))
  }

  /** SUPP-- template clone (`sdtm/domain.rs:220`). */
  def asSuppDomain(parentCode: String, parentLabel: Option[String]): SdtmDomain =
    copy(
      name = s"SUPP${Codelist.fold(parentCode)}",
      label = Some(s"Supplemental Qualifiers for ${parentLabel.getOrElse(parentCode)}"))
}

/** One CT term (`ct/types.rs`). */
case class CtTerm(code: String, submissionValue: String, synonyms: Seq[String])

/** One codelist with a case-insensitive synonym index
  * (`ct/types.rs:144-205`). */
case class Codelist(
    code: String,
    name: String,
    extensible: Boolean,
    terms: Seq[CtTerm]) {

  /** upper(spelling) → canonical submission value. Submission values of
    * ALL terms index before any synonym, so one term's synonym can never
    * shadow another term's canonical spelling (find_submission_value —
    * ct/types.rs:187-205 checks submission values first). */
  lazy val index: Map[String, String] = {
    val m = scala.collection.mutable.Map[String, String]()
    terms.foreach(t => m.getOrElseUpdate(Codelist.fold(t.submissionValue), t.submissionValue))
    terms.foreach(t =>
      t.synonyms.foreach(s => m.getOrElseUpdate(Codelist.fold(s.trim), t.submissionValue)))
    m.toMap
  }

  /** Case-insensitive resolve of a raw value (`find_submission_value` —
    * `ct/types.rs:187-205`). */
  def resolve(value: String): Option[String] = index.get(Codelist.fold(value.trim))
}

object Codelist {
  /** The one CT case fold: [[Codelist.index]] keys, [[Codelist.resolve]]
    * and the CT expressions (`graft.expressions.CtIndex`) all go through it.
    * `Locale.ROOT`, never the default locale — under a Turkish default
    * locale `mild` upper-cases to `MİLD` and misses `MILD`. */
  def fold(s: String): String = s.toUpperCase(Locale.ROOT)
}

/** One CT publication file's worth of codelists (`TerminologyCatalog` —
  * `ct/types.rs:222-264`): label like "SEND CT", quarterly version date,
  * publishing set ("SDTM" / "SEND" / "ADaM" / ...). */
case class TerminologyCatalog(
    label: String,
    version: Option[String],
    publishingSet: Option[String],
    codelists: Map[String, Codelist])

/** Multi-catalog CT registry (`TerminologyRegistry` — `ct/types.rs:296-398`).
  * `catalogs` is already in resolution priority order — [[Standards.ct]]
  * orders the study's own publishing set first, then SDTM CT, SEND CT, and
  * the remaining catalogs alphabetically, mirroring `catalogs_in_order`
  * (`ct/types.rs:379-398`); `get` returns the first catalog's definition of
  * a codelist code. `id` names the registry (`sdtm@2024-03-29`, standard
  * and CT publication): the CT expressions print it, and registries with
  * different ids may resolve a code to different terms. */
case class TerminologyRegistry(id: String, catalogs: Seq[TerminologyCatalog]) {
  // delegates to getWithCatalog so the trim/uppercase/first-catalog-wins
  // rule exists exactly once — get and Define-XML's def:StandardOID can
  // never resolve a code through different catalogs
  def get(code: String): Option[Codelist] = getWithCatalog(code).map(_._1)
  /** Same priority-ordered resolve, but also returns the catalog that won —
    * Define-XML needs its publishingSet/version for `def:Standards`
    * (`TerminologyRegistry::resolve` returns the catalog too —
    * ct/types.rs:296-330, consumed at define_xml.rs:377-400). */
  def getWithCatalog(code: String): Option[(Codelist, TerminologyCatalog)] = {
    val key = Codelist.fold(code.trim)
    catalogs.iterator
      .flatMap(c => c.codelists.get(key).map(_ -> c)).nextOption()
  }
  /** Folded spelling → submission value for one codelist; Spark plans reach
    * it only through `graft.expressions.CtIndex`. */
  def lookupMap(code: String): Map[String, String] =
    get(code).map(_.index).getOrElse(Map.empty)
  /** Codes resolvable through any catalog. */
  lazy val codes: Set[String] = catalogs.flatMap(_.codelists.keys).toSet
}

/**
 * S8/S9 — embedded standards loaders (SURVEY §2.1). Pure driver-side
 * metadata: classpath CSVs in the reference's documented layouts
 * (`sdtm_ig.rs:163-189` build; ADaM structure mapping `adam_ig.rs:70-170`;
 * CT two-pass parse `ct/loader.rs:112-190`). Three implementation guides
 * are embedded — SDTM-IG v3.4, SEND-IG v3.1.1, ADaM-IG v1.3, all public
 * CDISC metadata — selected via [[Standards.domains]]/[[Standards.domain]];
 * the CT catalog is a public-knowledge subset (drop a fuller SDTM_CT.csv in
 * `resources/standards/` to widen it — the loader is format-complete).
 */
object Standards {

  /** Implementation guides this build embeds. */
  val StandardIds: Seq[String] = Seq("sdtm", "send", "adam")

  private def readResource(path: String): Seq[String] = {
    val in = getClass.getResourceAsStream(path)
    require(in != null, s"missing classpath resource $path")
    try Source.fromInputStream(in, "UTF-8").getLines().toList
    finally in.close()
  }

  private def parseCsv(lines: Seq[String]): Seq[Map[String, String]] = {
    if (lines.isEmpty) return Nil
    val header = parseCsvLine(lines.head.stripPrefix("﻿"))
    lines.tail.filter(_.nonEmpty).map { line =>
      header.zip(parseCsvLine(line)).toMap.withDefaultValue("")
    }
  }

  /** S8 — IG domains + variables from a Datasets.csv / Variables.csv pair
    * (the layout SDTM-IG and SEND-IG share). */
  private def loadIg(datasetsPath: String, variablesPath: String): Seq[SdtmDomain] = {
    val datasets = parseCsv(readResource(datasetsPath))
    val variables = parseCsv(readResource(variablesPath))
    val varsByDataset = variables.groupBy(_("Dataset Name"))
    datasets.map { d =>
      val ds = d("Dataset Name")
      val vars = varsByDataset.getOrElse(ds, Nil).map { v =>
        SdtmVariable(
          name = v("Variable Name"),
          label = Option(v("Variable Label")).filter(_.nonEmpty),
          dataType = VariableType.parse(v("Type")),
          codelistCodes = v("CDISC CT Codelist Code(s)").split("[;,]")
            .map(_.trim).filter(_.nonEmpty).toSeq,
          describedValueDomain = Option(v("Described Value Domain(s)")).filter(_.nonEmpty),
          role = Option(v("Role")).filter(_.nonEmpty),
          core = Option(v("Core")).filter(_.nonEmpty),
          order = v("Variable Order").toIntOption,
          datasetName = ds)
      }
      SdtmDomain(
        name = ds,
        label = Option(d("Dataset Label")).filter(_.nonEmpty),
        className = Option(d("Class")).filter(_.nonEmpty),
        structure = Option(d("Structure")).filter(_.nonEmpty),
        variables = vars)
    }
  }

  /** SDTM-IG v3.4 (63 domains). */
  lazy val sdtmIg: Seq[SdtmDomain] =
    loadIg("/standards/sdtm/Datasets.csv", "/standards/sdtm/Variables.csv")

  /** SEND-IG v3.1.1 — same CSV layout as SDTM-IG. */
  lazy val sendIg: Seq[SdtmDomain] =
    loadIg("/standards/send/Datasets.csv", "/standards/send/Variables.csv")

  /**
   * ADaM-IG v1.3 — different layout: DataStructures.csv defines ADSL/BDS/TTE
   * and Variables.csv references structures by their LONG name
   * ("Subject-Level Analysis Dataset"), so a long→short mapping is built
   * first, with and without the " Structure" suffix (`adam_ig.rs:96-110`).
   * Variable order is file order (ADaM CSVs carry no order column).
   */
  lazy val adamIg: Seq[SdtmDomain] = {
    val structures = parseCsv(readResource("/standards/adam/DataStructures.csv"))
      .filter(_("Data Structure Name").trim.nonEmpty)
    val longToShort = structures.flatMap { s =>
      val short = Codelist.fold(s("Data Structure Name").trim)
      val long = Codelist.fold(s("Data Structure Description").trim)
      val entries = Seq.newBuilder[(String, String)]
      if (long.nonEmpty) {
        entries += long -> short
        if (long.endsWith(" STRUCTURE"))
          entries += long.stripSuffix(" STRUCTURE") -> short
      }
      entries.result()
    }.toMap
    val variables = parseCsv(readResource("/standards/adam/Variables.csv"))
    val varsByStructure = variables.groupBy { v =>
      val key = Codelist.fold(v("Data Structure Name").trim)
      longToShort.getOrElse(key, key)
    }
    structures.map { s =>
      val short = Codelist.fold(s("Data Structure Name").trim)
      // order = 1-based position WITHIN the structure (matching how the
      // SDTM/SEND CSVs number per dataset), not the global file row
      val vars = varsByStructure.getOrElse(short, Nil).zipWithIndex.map { case (v, i) =>
        SdtmVariable(
          name = v("Variable Name"),
          label = Option(v("Variable Label")).filter(_.nonEmpty),
          dataType = VariableType.parse(v("Type")),
          codelistCodes = v("CDISC CT Codelist Code(s)").split("[;,]")
            .map(_.trim).filter(_.nonEmpty).toSeq,
          describedValueDomain = Option(v("Described Value Domain(s)")).filter(_.nonEmpty),
          role = None,
          core = Option(v("Core")).filter(_.nonEmpty),
          order = Some(i + 1),
          datasetName = short)
      }
      SdtmDomain(
        name = short,
        label = Option(s("Data Structure Description")).filter(_.nonEmpty),
        className = Option(s("Class")).filter(_.nonEmpty),
        structure = Option(s("CDISC Notes")).filter(_.nonEmpty),
        variables = vars)
    }
  }

  /** Standard selector: "sdtm" | "send" | "adam". */
  def domains(standard: String): Seq[SdtmDomain] = standard.toLowerCase(Locale.ROOT) match {
    case "sdtm" => sdtmIg
    case "send" => sendIg
    case "adam" => adamIg
    case other => throw new IllegalArgumentException(
      s"unknown standard '$other' (expected one of ${StandardIds.mkString("/")})")
  }

  def domain(standard: String, code: String): Option[SdtmDomain] =
    domains(standard).find(_.name.equalsIgnoreCase(code))

  /** Default standard (SDTM) — the surface the study session uses. */
  def domain(code: String): Option[SdtmDomain] = domain("sdtm", code)

  /** Embedded CT publication dates (the three quarterly releases the
    * reference embeds — `embedded.rs:47-189`, `ct/loader.rs:23-52`
    * `CtVersion` enum). A study pins the terminology release in force when
    * it launched; each publication ships a different set of publishing-set
    * catalogs (`ct_files_for_version` — `embedded.rs:152-189`). */
  val CtVersions: Seq[String] = Seq("2024-03-29", "2025-03-28", "2025-09-26")

  /** The reference's production default (`#[default] V2024_03_29` —
    * `ct/loader.rs:23-31`). */
  val DefaultCtVersion = "2024-03-29"

  /** `CtVersion::latest()` — `ct/loader.rs:48-51`. */
  val LatestCtVersion = "2025-09-26"

  /** Publishing sets each publication ships (the reference snapshot's
    * `data/terminology/<date>/` contents; no release carries an SDTM CT
    * export — the curated subset below covers SDTM-specific codelists for
    * every version). */
  private val CtSetsByVersion: Map[String, Seq[String]] = Map(
    "2024-03-29" -> Seq("ADaM", "DDF", "Define-XML", "MRCT", "Protocol", "SEND"),
    "2025-03-28" -> Seq("ADaM", "CDASH", "Define-XML", "Protocol", "SEND"),
    "2025-09-26" -> Seq("ADaM", "DDF", "Define-XML", "Glossary", "MRCT", "Protocol", "SEND"))

  private def requireCtVersion(version: String): String = {
    require(CtSetsByVersion.contains(version),
      s"unknown CT version '$version' (embedded: ${CtVersions.mkString(", ")})")
    version
  }

  /** S9 — parse one CT CSV into codelists: two-pass parse (codelist rows
    * have blank `Codelist Code`; term rows carry the parent's code; synonyms
    * split on `;`) — `ct/loader.rs:112-190`. */
  private def parseCtCodelists(lines: Seq[String]): Map[String, Codelist] = {
    val rows = parseCsv(lines)
    val (clRows, termRows) = rows.partition(_("Codelist Code").trim.isEmpty)
    val termsByParent = termRows.groupBy(t => Codelist.fold(t("Codelist Code").trim))
    clRows.map { cl =>
      val code = cl("Code").trim
      val terms = termsByParent.getOrElse(Codelist.fold(code), Nil).map { t =>
        CtTerm(
          code = t("Code").trim,
          submissionValue = t("CDISC Submission Value").trim,
          synonyms = t("CDISC Synonym(s)").split(";").map(_.trim).filter(_.nonEmpty).toSeq)
      }
      Codelist.fold(code) -> Codelist(
        code = code,
        name = cl("Codelist Name").trim,
        extensible = cl("Codelist Extensible (Yes/No)").trim.equalsIgnoreCase("Yes"),
        terms = terms)
    }.toMap
  }

  /** Filename → (label, version, publishing set), mirroring
    * `parse_ct_metadata_from_filename` (`ct/loader.rs:196-215`):
    * `SEND_CT_2025-03-28.csv` → ("SEND CT", Some("2025-03-28"), Some("SEND")). */
  private def ctMetadataFromFilename(filename: String): (String, Option[String], Option[String]) = {
    val base = filename.stripSuffix(".csv")
    base.split("_CT_", 2) match {
      case Array(set, version) =>
        (s"$set CT", Some(version).filter(_.nonEmpty), Some(set).filter(_.nonEmpty))
      case _ => (base, None, None)
    }
  }

  /** The curated SDTM CT subset — version-independent: no release in the
    * reference snapshot ships an SDTM CT export, so SDTM-specific codelists
    * (RACE, ETHNIC, AESEV, ...) resolve through this catalog under every
    * [[CtVersions]] entry, and everything shared (UNIT, ROUTE, FREQ, AGEU,
    * SEX, NY, ...) resolves through that version's published catalogs in
    * the registry's documented fallback order. */
  private lazy val curatedSdtmCt: TerminologyCatalog =
    TerminologyCatalog("SDTM CT", None, Some("SDTM"),
      parseCtCodelists(readResource("/standards/SDTM_CT.csv")))

  /** All embedded CT catalogs for one publication date, plus the curated
    * SDTM CT subset. The full quarterly exports under
    * `resources/standards/terminology/` are the reference's own embedded
    * copies of publicly published CDISC Controlled Terminology (see the
    * provenance README). */
  def ctCatalogs(version: String): Seq[TerminologyCatalog] =
    ctCatalogCache.synchronized {
      ctCatalogCache.getOrElseUpdate(requireCtVersion(version), {
        val published = CtSetsByVersion(version).map { set =>
          val filename = s"${set}_CT_$version.csv"
          val (label, ver, pubSet) = ctMetadataFromFilename(filename)
          TerminologyCatalog(label, ver, pubSet,
            parseCtCodelists(readResource(s"/standards/terminology/$version/$filename")))
        }
        curatedSdtmCt +: published
      })
    }
  private val ctCatalogCache = scala.collection.mutable.Map[String, Seq[TerminologyCatalog]]()

  /** Catalogs of the default publication. */
  lazy val ctCatalogs: Seq[TerminologyCatalog] = ctCatalogs(DefaultCtVersion)

  /** CT registry for a study standard under one CT publication: the
    * standard's own publishing set resolves first, then SDTM CT, SEND CT,
    * then the rest alphabetically (`ct/loader.rs:85-103` primary marking +
    * `ct/types.rs:379-398` order; version selection `registry.rs:20`
    * `ct_version` + `ct/loader.rs:88-103`). */
  def ct(standard: String, version: String): TerminologyRegistry = ctCache.synchronized {
    ctCache.getOrElseUpdate((standard.toLowerCase(Locale.ROOT), requireCtVersion(version)), {
      val primary = standard.toLowerCase(Locale.ROOT) match {
        case "sdtm" => "SDTM"
        case "send" => "SEND"
        case "adam" => "ADAM"
        case other => Codelist.fold(other)
      }
      val ordered = ctCatalogs(version).sortBy { c =>
        val set = Codelist.fold(c.publishingSet.getOrElse(""))
        val rank =
          if (set == primary) 0
          else set match {
            case "SDTM" => 1
            case "SEND" => 2
            case _ => 3
          }
        (rank, Codelist.fold(c.label))
      }
      TerminologyRegistry(s"${standard.toLowerCase(Locale.ROOT)}@$version", ordered)
    })
  }
  private val ctCache =
    scala.collection.mutable.Map[(String, String), TerminologyRegistry]()

  /** CT registry under the default publication date. */
  def ct(standard: String): TerminologyRegistry = ct(standard, DefaultCtVersion)

  /** Default CT registry (SDTM-first order, default publication) — the
    * pre-r4 single-registry surface; standard-aware callers use [[ct]]. */
  lazy val ctRegistry: TerminologyRegistry = ct("sdtm")
}
