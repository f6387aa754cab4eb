package graft.sinks

import java.io.{BufferedWriter, OutputStreamWriter, Writer}
import java.nio.channels.Channels
import java.nio.charset.StandardCharsets
import java.nio.file.Paths

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, GenericInternalRow}
import org.apache.spark.sql.types.{DataType, StringType}

import graft.Publish
import graft.functions.Numerics

/** Variable metadata the XML sinks need (subset of SdtmVariable). */
case class XmlVariable(
    name: String,
    label: String = "",
    isNumeric: Boolean = false,
    required: Boolean = false,
    identifier: Boolean = false,
    expected: Boolean = false,
    codelistOid: Option[String] = None,
    declaredLength: Option[Int] = None)

/** One codelist rendered into Define-XML. `standardOid` links the list to
  * its CT publication in the `def:Standards` section (define_xml.rs:316). */
case class XmlCodelist(oid: String, name: String, extensible: Boolean, values: Seq[String],
    standardOid: Option[String] = None)

/** One CT publication for the `def:Standards` section
  * (`CtStandard` — define_xml.rs:64-70,203-216): OID is
  * `STD.CT.{publishingSet}.{version}`, name is the issuing body. */
case class CtStandard(oid: String, name: String, publishingSet: String, version: String)

/** Per-variable data-dependent stats feeding the writers. */
case class VarStats(maxLength: Int, hasData: Boolean)

/** What one read of a dataset's rows knows ([[XmlSinks.facts]]): each
  * partition's row count, in partition order, and each column's stats. */
case class DatasetFacts(partitionRows: IndexedSeq[Long], stats: Map[String, VarStats]) {
  /** Each column's XPT char length: its max trimmed length, min 1. */
  def charLengths: Map[String, Int] = stats.map { case (v, s) => v -> math.max(s.maxLength, 1) }
}

/**
 * K2/K3 — Dataset-XML and Define-XML 2.1 sinks (ODM-based CDISC formats;
 * shapes studied from `crates/tss-submit/src/export/dataset_xml.rs:67-165`
 * and `define_xml.rs:73-470`).
 *
 * Division of labor at scale: everything data-dependent (max lengths,
 * has-collected-data, row rendering) is Spark-side; document assembly is
 * driver-side string building. ONE read of a dataset's rows
 * ([[XmlSinks.facts]]) gives Define-XML, the XPT and Dataset-XML their
 * numbers; Dataset-XML renders rows per partition into part files that the
 * driver concatenates into the single regulatory file ([[PartFiles]]).
 */
object XmlSinks {

  val OdmNs = "http://www.cdisc.org/ns/odm/v1.3"
  val XlinkNs = "http://www.w3.org/1999/xlink"
  val DataNs = "http://www.cdisc.org/ns/Dataset-XML/v1.0"
  val DefNs = "http://www.cdisc.org/ns/def/v2.1"
  val DatasetXmlVersion = "1.0.0"
  val DefineXmlVersion = "2.1.0"

  def escape(s: String): String = {
    val sb = new StringBuilder(s.length)
    s.foreach {
      case '&' => sb.append("&amp;")
      case '<' => sb.append("&lt;")
      case '>' => sb.append("&gt;")
      case '"' => sb.append("&quot;")
      case '\'' => sb.append("&apos;")
      case c if c < ' ' && c != '\t' && c != '\n' && c != '\r' =>
        // control chars are illegal in XML 1.0 even escaped — drop them
        ()
      case c => sb.append(c)
    }
    sb.toString
  }

  /** OID component sanitization (define_xml.rs:456): keep alnum . _ -. */
  def sanitizeOid(s: String): String =
    s.map(c => if (c.isLetterOrDigit || c == '.' || c == '_' || c == '-') c else '_')

  /** SDTM value rendering: null → absent, doubles without trailing zeros
    * (polars.rs:77-91 parity via Numerics.format). */
  def renderValue(v: Any): Option[String] = v match {
    case null => None
    case d: Double => Some(Numerics.format(d))
    case f: Float => Some(Numerics.format(f.toDouble))
    case b: Boolean => Some(if (b) "Y" else "N")
    case s: String => if (s.trim.isEmpty) None else Some(s)
    case o => Some(o.toString).filter(_.trim.nonEmpty)
  }

  /** The export's one read of a dataset's rows: a fold over `rows.rdd` (a
    * lazy val: the very RDD the writers then render) giving each
    * partition's row count and, per column, the max
    * `length(rtrim(coalesce(cast(c as string), '')))` and whether any
    * `trim(...) <> ''` (`common.rs:83-159`), as Spark defines them: only
    * U+0020 trims, lengths count code points, and a non-string cell is
    * cast by Spark's `Cast` in the session time zone. A cell has data
    * exactly when its rtrimmed text is non-empty: `hasData = maxLength > 0`. */
  def facts(rows: DataFrame): DatasetFacts = {
    val schema = rows.schema
    val tz = rows.sparkSession.conf.get("spark.sql.session.timeZone")
    val perPartition = rows.rdd.mapPartitions { it =>
      val text = schema.fields.map(f => castText(f.dataType, tz))
      val maxLength = new Array[Int](text.length)
      var n = 0L
      it.foreach { r =>
        var i = 0
        while (i < text.length) {
          if (!r.isNullAt(i)) maxLength(i) = math.max(maxLength(i), trimmedLength(text(i)(r.get(i))))
          i += 1
        }
        n += 1
      }
      Iterator.single((n, maxLength))
    }.collect()
    DatasetFacts(perPartition.map(_._1).toVector, schema.fieldNames.indices.map { i =>
      val len = perPartition.map(_._2(i)).maxOption.getOrElse(0)
      schema.fieldNames(i) -> VarStats(len, hasData = len > 0)
    }.toMap)
  }

  /** `cast(v as string)` as Spark evaluates it for a cell of type `dt`. */
  private def castText(dt: DataType, tz: String): Any => String = dt match {
    case _: StringType => _.asInstanceOf[String]
    case _ =>
      val toCatalyst = CatalystTypeConverters.createToCatalystConverter(dt)
      val cast = Cast(BoundReference(0, dt, nullable = true), StringType, Some(tz))
      val cell = new GenericInternalRow(1)
      v => { cell.update(0, toCatalyst(v)); cast.eval(cell).toString }
  }

  /** Spark's `length(rtrim(s))`: trailing U+0020 only, in code points. */
  private def trimmedLength(s: String): Int = {
    var end = s.length
    while (end > 0 && s.charAt(end - 1) == ' ') end -= 1
    s.codePointCount(0, end)
  }

  // ---- K2: Dataset-XML ------------------------------------------------------

  /**
   * Write one domain as Dataset-XML: `ItemGroupData` per row, in the
   * frame's order, with `data:ItemGroupDataSeq` = 1-based row number, one
   * `ItemData` per non-empty cell, `ItemOID = IT.<ds>.<var>`. Returns the
   * row count. `facts` is [[facts]] of this same frame: the sink renders
   * `rows.rdd`, the RDD the fold read, numbering each partition's rows on
   * from the fold's counts (a partition that renders another count fails).
   *
   * Each partition renders AND UTF-8-encodes its blocks into a part file
   * (per-value escape + string assembly is the expensive part of this
   * sink and parallelizes perfectly) and [[PartFiles.assemble]] puts the
   * prologue and epilogue around them (same reachability note there).
   */
  def writeDatasetXmlFile(rows: DataFrame, facts: DatasetFacts, path: String,
      datasetName: String, studyId: String, igVersion: String,
      isReferenceData: Boolean = false): Long = {
    val studyOid = s"STDY.${sanitizeOid(studyId)}"
    val mdvOid = s"MDV.$studyOid.SDTMIG.${sanitizeOid(igVersion)}"
    val defineFileOid = s"$studyOid.Define-XML_$DefineXmlVersion"
    val container = if (isReferenceData) "ReferenceData" else "ClinicalData"
    val prologue = "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n" +
      s"""<ODM xmlns="$OdmNs" xmlns:xlink="$XlinkNs" xmlns:data="$DataNs"""" +
      s""" data:DatasetXMLVersion="$DatasetXmlVersion" FileType="Snapshot"""" +
      s""" FileOID="${escape(s"$defineFileOid(IG.$datasetName)")}"""" +
      s""" PriorFileOID="${escape(defineFileOid)}" ODMVersion="1.3.2"""" +
      s""" CreationDateTime="2020-01-01T00:00:00Z" Originator="graft">\n""" +
      s"""  <$container StudyOID="${escape(studyOid)}" MetaDataVersionOID="${escape(mdvOid)}">\n"""
    val epilogue = s"  </$container>\n</ODM>\n"

    val (rdd, counts) = (rows.rdd, facts.partitionRows)
    require(rdd.getNumPartitions == counts.size, s"$datasetName: facts of another frame")
    val starts = counts.scanLeft(0L)(_ + _)
    // ItemOIDs are sanitized exactly like Define-XML builds them, so the
    // two documents cross-reference (escape() alone would diverge on spaces)
    val dsOid = sanitizeOid(datasetName)
    val itemOids = rows.columns.map(v => s"IT.$dsOid.${sanitizeOid(v)}")
    val openPrefix = s"""    <ItemGroupData ItemGroupOID="IG.$dsOid" data:ItemGroupDataSeq=""""
    PartFiles.assemble(rdd, path,
      head = _.write(prologue.getBytes(StandardCharsets.UTF_8)),
      tail = (out, _) => out.write(epilogue.getBytes(StandardCharsets.UTF_8))) { (idx, rows, out) =>
      val w = new OutputStreamWriter(out, StandardCharsets.UTF_8)
      val sb = new java.lang.StringBuilder(96 + 48 * itemOids.length)
      var n = 0L
      rows.foreach { r =>
        sb.setLength(0)
        sb.append(openPrefix).append(starts(idx) + n + 1).append("\">\n")
        var i = 0
        while (i < itemOids.length) {
          renderValue(if (r.isNullAt(i)) null else r.get(i)).foreach { text =>
            sb.append("      <ItemData ItemOID=\"").append(itemOids(i))
              .append("\" Value=\"").append(escape(text)).append("\"/>\n")
          }
          i += 1
        }
        sb.append("    </ItemGroupData>\n")
        w.append(sb)
        n += 1
      }
      w.flush()
      if (n != counts(idx)) throw new IllegalStateException(
        s"$datasetName: partition $idx rendered $n rows, its facts counted ${counts(idx)}")
      n
    }
  }

  // ---- K3: Define-XML 2.1 ---------------------------------------------------

  /** One dataset entry in the Define document. `isReferenceData` marks
    * Trial Design / Study Reference class datasets (common.rs:74-80). */
  case class DefineDataset(
      name: String,
      domain: String,
      label: String,
      structure: String,
      klass: String,
      variables: Seq[XmlVariable],
      stats: Map[String, VarStats],
      isReferenceData: Boolean = false)

  /**
   * Write Define-XML 2.1: ItemGroupDef per dataset (present variables in
   * role order), ItemDef per variable with data-dependent length and
   * origin (Collected / Derived / Not Available), CodeList sections.
   * Pure metadata document — all data influence arrives via `stats`.
   */
  def writeDefineXml(w: Writer, studyId: String, igVersion: String,
      datasets: Seq[DefineDataset], codelists: Seq[XmlCodelist],
      ctStandards: Seq[CtStandard] = Nil,
      creationDateTime: String = "2020-01-01T00:00:00Z"): Unit = {
    val studyOid = s"STDY.${sanitizeOid(studyId)}"
    val fileOid = s"$studyOid.Define-XML_$DefineXmlVersion"
    val mdvOid = s"MDV.$studyOid.SDTMIG.${sanitizeOid(igVersion)}"

    w.write("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n")
    w.write(s"""<ODM xmlns="$OdmNs" xmlns:xlink="$XlinkNs" xmlns:def="$DefNs"""")
    w.write(s""" FileType="Snapshot" FileOID="${escape(fileOid)}" ODMVersion="1.3.2"""")
    w.write(s""" CreationDateTime="$creationDateTime" Originator="graft">\n""")
    w.write(s"""  <Study OID="${escape(studyOid)}">\n""")
    w.write("    <GlobalVariables>\n")
    w.write(s"      <StudyName>${escape(studyId)}</StudyName>\n")
    w.write(s"      <StudyDescription>SDTM submission for ${escape(studyId)}</StudyDescription>\n")
    w.write(s"      <ProtocolName>${escape(studyId)}</ProtocolName>\n")
    w.write("    </GlobalVariables>\n")
    w.write(s"""    <MetaDataVersion OID="${escape(mdvOid)}" Name="Study ${escape(studyId)}, Data Definitions"""")
    w.write(s""" Description="SDTM ${escape(igVersion)} metadata definitions for ${escape(studyId)}" def:DefineVersion="$DefineXmlVersion">\n""")

    // def:Standards — the CT publications the codelists below resolve from
    // (define_xml.rs:203-216; sorted by OID like the reference's BTreeMap)
    if (ctStandards.nonEmpty) {
      w.write("      <def:Standards>\n")
      ctStandards.sortBy(_.oid).foreach { s =>
        w.write(s"""        <def:Standard OID="${escape(s.oid)}" Name="${escape(s.name)}" Type="CT"""")
        w.write(s""" PublishingSet="${escape(s.publishingSet)}" Version="${escape(s.version)}" Status="Final"/>\n""")
      }
      w.write("      </def:Standards>\n")
    }

    datasets.sortBy(_.name).foreach { ds =>
      val dsOid = sanitizeOid(ds.name)
      w.write(s"""      <ItemGroupDef OID="IG.$dsOid" Name="${escape(ds.name)}" Repeating="Yes"""")
      w.write(s""" Domain="${escape(ds.domain)}" SASDatasetName="${escape(ds.name.take(8))}"""")
      w.write(s""" def:Label="${escape(ds.label)}" def:Class="${escape(ds.klass)}"""")
      if (ds.isReferenceData) w.write(""" def:IsReferenceData="Yes"""")
      w.write(s""" def:Structure="${escape(ds.structure)}">\n""")
      var keySeq = 1
      ds.variables.indices.foreach { idx =>
        val v = ds.variables(idx)
        w.write(s"""        <ItemRef ItemOID="IT.$dsOid.${sanitizeOid(v.name)}" OrderNumber="${idx + 1}"""")
        w.write(s""" Mandatory="${if (v.required) "Yes" else "No"}"""")
        if (v.identifier) { w.write(s""" KeySequence="$keySeq""""); keySeq += 1 }
        w.write("/>\n")
      }
      w.write("      </ItemGroupDef>\n")
    }

    // ItemDefs, deduped by OID across datasets
    val itemDefs = scala.collection.mutable.LinkedHashMap[String, (DefineDataset, XmlVariable)]()
    datasets.sortBy(_.name).foreach { ds =>
      ds.variables.foreach { v =>
        itemDefs.getOrElseUpdate(s"IT.${sanitizeOid(ds.name)}.${sanitizeOid(v.name)}", (ds, v))
      }
    }
    itemDefs.foreach { case (oid, (ds, v)) =>
      val stats = ds.stats.getOrElse(v.name, VarStats(0, hasData = false))
      val length = v.declaredLength.getOrElse(math.max(stats.maxLength, 1))
      w.write(s"""      <ItemDef OID="$oid" Name="${escape(v.name)}" DataType="${if (v.isNumeric) "float" else "text"}"""")
      if (!v.isNumeric) w.write(s""" Length="$length"""")
      w.write(">\n")
      if (v.label.nonEmpty) {
        w.write("        <Description>\n")
        w.write(s"""          <TranslatedText xml:lang="en">${escape(v.label)}</TranslatedText>\n""")
        w.write("        </Description>\n")
      }
      v.codelistOid.foreach(cl =>
        w.write(s"""        <CodeListRef CodeListOID="${escape(cl)}"/>\n"""))
      val originType =
        if (v.expected && !stats.hasData) "Not Available"
        else if (stats.hasData) "Collected"
        else "Derived"
      w.write(s"""        <def:Origin Type="$originType"/>\n""")
      w.write("      </ItemDef>\n")
    }

    codelists.sortBy(_.oid).foreach { cl =>
      w.write(s"""      <CodeList OID="${escape(cl.oid)}" Name="${escape(cl.name)}" DataType="text"""")
      cl.standardOid.foreach(so => w.write(s""" def:StandardOID="${escape(so)}""""))
      if (cl.extensible) w.write(""" def:Extensible="Yes"""")
      w.write(">\n")
      cl.values.foreach { v =>
        w.write(s"""        <CodeListItem CodedValue="${escape(v)}">\n""")
        w.write(s"""          <Decode><TranslatedText xml:lang="en">${escape(v)}</TranslatedText></Decode>\n""")
        w.write("        </CodeListItem>\n")
      }
      w.write("      </CodeList>\n")
    }

    w.write("    </MetaDataVersion>\n  </Study>\n</ODM>\n")
    w.flush()
  }

  def writeDefineXmlFile(path: String, studyId: String, igVersion: String,
      datasets: Seq[DefineDataset], codelists: Seq[XmlCodelist],
      ctStandards: Seq[CtStandard] = Nil): Unit =
    Publish.file(Paths.get(path)) { ch =>
      val w = new BufferedWriter(new OutputStreamWriter(
        Channels.newOutputStream(ch), StandardCharsets.UTF_8), 1 << 20)
      writeDefineXml(w, studyId, igVersion, datasets, codelists, ctStandards) // flushes w
    }
}
