package graft.sinks

import java.io.StringWriter
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.SparkSpec

/** Dataset-XML / Define-XML structure pins (dataset_xml.rs:67-165,
  * define_xml.rs:73-470). */
class XmlSinksSpec extends SparkSpec {

  import spark.implicits._

  private val tmp = {
    val d = Paths.get("target", "tmp", "xmlsinksspec")
    Files.createDirectories(d)
    d
  }

  private def read(path: String): String =
    new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8)

  test("varStats: one pass for max trimmed length + has-data") {
    val df = Seq(("abc  ", ""), ("x", " "), ("", "")).toDF("A", "B")
    val stats = XmlSinks.varStats(df, Seq("A", "B", "MISSING"))
    assert(stats("A") == VarStats(3, hasData = true))
    assert(stats("B") == VarStats(0, hasData = false))
    assert(!stats.contains("MISSING"))
  }

  test("Dataset-XML: seq numbering, empty cells omitted, numerics formatted") {
    val df = Seq(
      (2L, "S2", 40.0, ""),
      (1L, "S1", 2.5, "note"))
      .toDF("_row_id", "USUBJID", "WEIGHT", "COMMENT")
    val path = tmp.resolve("seq.xml").toString
    val n = XmlSinks.writeDatasetXmlFile(df, path, "DM", "STUDY1", "3.4",
      Seq("USUBJID", "WEIGHT", "COMMENT"), orderCol = Some("_row_id"))
    val xml = read(path)
    assert(n == 2)
    // row order follows _row_id: S1 first
    val s1 = xml.indexOf("""Value="S1"""")
    val s2 = xml.indexOf("""Value="S2"""")
    assert(s1 >= 0 && s2 >= 0 && s1 < s2)
    assert(xml.contains("""<ItemGroupData ItemGroupOID="IG.DM" data:ItemGroupDataSeq="1">"""))
    assert(xml.contains("""<ItemData ItemOID="IT.DM.WEIGHT" Value="40"/>""")) // 40.0 → 40
    assert(xml.contains("""<ItemData ItemOID="IT.DM.WEIGHT" Value="2.5"/>"""))
    assert(xml.contains("""Value="note""""))
    // empty COMMENT cell for S2 omitted: only one COMMENT ItemData
    assert(xml.sliding("IT.DM.COMMENT".length).count(_ == "IT.DM.COMMENT") == 1)
    assert(xml.contains("""<ClinicalData StudyOID="STDY.STUDY1""""))
  }

  test("Dataset-XML escapes attribute values") {
    val df = Seq(Tuple1("""a<b>&"c""")).toDF("V")
    val path = tmp.resolve("escape.xml").toString
    XmlSinks.writeDatasetXmlFile(df, path, "DM", "S", "3.4", Seq("V"))
    assert(read(path).contains("Value=\"a&lt;b&gt;&amp;&quot;c\""))
  }

  test("Define-XML: item groups, origin types, codelists") {
    val df = Seq(("S1", "M", ""), ("S2", "F", "")).toDF("USUBJID", "SEX", "DCSREAS")
    val vars = Seq(
      XmlVariable("USUBJID", "Unique Subject Identifier", required = true, identifier = true),
      XmlVariable("SEX", "Sex", codelistOid = Some("CL.C66731")),
      XmlVariable("DCSREAS", "Reason for Discontinuation", expected = true))
    val ds = XmlSinks.DefineDataset("DM", "DM", "Demographics",
      "One record per subject", "SPECIAL PURPOSE", vars,
      XmlSinks.varStats(df, vars.map(_.name)))
    val w = new StringWriter
    XmlSinks.writeDefineXml(w, "STUDY1", "3.4", Seq(ds),
      Seq(XmlCodelist("CL.C66731", "Sex", extensible = false, Seq("F", "M", "U"))))
    val xml = w.toString
    assert(xml.contains("""<ItemGroupDef OID="IG.DM" Name="DM" Repeating="Yes" Domain="DM""""))
    assert(xml.contains("""<ItemRef ItemOID="IT.DM.USUBJID" OrderNumber="1" Mandatory="Yes" KeySequence="1"/>"""))
    assert(xml.contains("""<ItemDef OID="IT.DM.SEX" Name="SEX" DataType="text" Length="1">"""))
    assert(xml.contains("""<CodeListRef CodeListOID="CL.C66731"/>"""))
    // USUBJID/SEX collected; DCSREAS expected + empty → Not Available
    assert(xml.contains("""<def:Origin Type="Collected"/>"""))
    assert(xml.contains("""<def:Origin Type="Not Available"/>"""))
    assert(xml.contains("""<CodeListItem CodedValue="M">"""))
    assert(xml.contains("def:DefineVersion=\"2.1.0\""))
    // no CT publications passed → no def:Standards section
    assert(!xml.contains("<def:Standards>"))
  }

  test("Define-XML: def:Standards section, def:StandardOID, def:IsReferenceData") {
    val df = Seq(("TA1", "SCRN"), ("TA2", "TRT")).toDF("ETCD", "EPOCH")
    val vars = Seq(
      XmlVariable("ETCD", "Element Code", required = true, identifier = true),
      XmlVariable("EPOCH", "Epoch", codelistOid = Some("CL.C99079")))
    val ta = XmlSinks.DefineDataset("TA", "TA", "Trial Arms",
      "One record per planned Element per Arm", "TRIAL DESIGN", vars,
      XmlSinks.varStats(df, vars.map(_.name)), isReferenceData = true)
    val std = CtStandard("STD.CT.SDTM.2025-03-28", "CDISC/NCI", "SDTM", "2025-03-28")
    val w = new StringWriter
    XmlSinks.writeDefineXml(w, "STUDY1", "3.4", Seq(ta),
      Seq(XmlCodelist("CL.C99079", "Epoch", extensible = true, Seq("SCREENING", "TREATMENT"),
        standardOid = Some(std.oid))),
      ctStandards = Seq(std))
    val xml = w.toString
    // def:Standards block carries the CT publication (define_xml.rs:203-216)
    assert(xml.contains("<def:Standards>"))
    assert(xml.contains("""<def:Standard OID="STD.CT.SDTM.2025-03-28" Name="CDISC/NCI" Type="CT" PublishingSet="SDTM" Version="2025-03-28" Status="Final"/>"""))
    // trial-design dataset marked as reference data (common.rs:74-80)
    assert(xml.contains("""def:IsReferenceData="Yes""""))
    // codelist links back to its publication (define_xml.rs:316)
    assert(xml.contains("""<CodeList OID="CL.C99079" Name="Epoch" DataType="text" def:StandardOID="STD.CT.SDTM.2025-03-28" def:Extensible="Yes">"""))
  }

  test("Dataset-XML: reference-data domains ride in ReferenceData container") {
    val df = Seq(Tuple1("TA1")).toDF("ETCD")
    val path = tmp.resolve("refdata.xml").toString
    XmlSinks.writeDatasetXmlFile(df, path, "TA", "S", "3.4", Seq("ETCD"),
      isReferenceData = true)
    val xml = read(path)
    assert(xml.contains("<ReferenceData StudyOID="))
    assert(!xml.contains("<ClinicalData"))
  }
}
