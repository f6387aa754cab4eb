package graft.sinks

import java.io.StringWriter
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

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

  /** The definition [[XmlSinks.facts]] replaced, as the Catalyst aggregate
    * spelled it: per column the max `length(rtrim(coalesce(cast(c as
    * string), '')))` and whether any `trim(...) <> ''`. */
  private def referenceStats(df: DataFrame): Map[String, VarStats] = {
    val exprs = df.columns.toSeq.flatMap { c =>
      val t = rtrim(coalesce(col(c).cast("string"), lit("")))
      Seq(max(length(t)).as(s"${c}__len"),
        max(when(trim(t) =!= "", 1).otherwise(0)).as(s"${c}__has"))
    }
    val row = df.agg(exprs.head, exprs.tail: _*).head()
    df.columns.map { c =>
      c -> VarStats(
        maxLength = Option(row.getAs[Integer](s"${c}__len")).map(_.toInt).getOrElse(0),
        hasData = Option(row.getAs[Integer](s"${c}__has")).exists(_ > 0))
    }.toMap
  }

  private val hostileSchema = StructType(Seq(
    StructField("S", StringType), StructField("L", LongType),
    StructField("I", IntegerType), StructField("D", DoubleType),
    StructField("B", BooleanType), StructField("DT", DateType),
    StructField("DEC", DecimalType(10, 3))))

  // Spark's rtrim/trim strip only U+0020 (a tab or NBSP is data) and its
  // length counts code points (the emoji is one); doubles cast as Spark
  // prints them (1.0E21, 1.0E-7, -0.0, 1.0E-300)
  private val hostileRows = Seq(
    Row("a\t ", -1L, 0, 1e21, true, java.sql.Date.valueOf("2024-01-15"), BigDecimal("1.500")),
    Row("\t", Long.MaxValue, -42, 1e-7, false, null, BigDecimal("-12345.678")),
    Row("  lead", null, null, -0.0, null, java.sql.Date.valueOf("1999-12-31"), null),
    Row("\u00A0", Long.MinValue, Int.MinValue, 1e-300, true, null, BigDecimal("0.001")),
    Row("é漢\uD83D\uDE00  ", 7L, 7, Double.NaN, null, null, null),
    Row("   ", null, null, null, null, null, null),
    Row("", null, null, Double.NegativeInfinity, null, null, null),
    Row(null, 12L, 3, 40.0, null, null, null))

  private def hostile(partitions: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(hostileRows, partitions), hostileSchema)

  /** Four partitions, the third empty, rows in `rows` order. */
  private def fourPartitions(rows: Seq[Row], schema: StructType): DataFrame = {
    val sc = spark.sparkContext
    val (a, b) = rows.splitAt(rows.size / 2)
    spark.createDataFrame(sc.parallelize(a, 2).union(sc.parallelize(Seq.empty[Row], 1))
      .union(sc.parallelize(b, 1)), schema)
  }

  test("varStats: one pass for max trimmed length + has-data") {
    val df = Seq(("abc  ", ""), ("x", " "), ("", "")).toDF("A", "B")
    val stats = XmlSinks.facts(df).stats
    assert(stats("A") == VarStats(3, hasData = true))
    assert(stats("B") == VarStats(0, hasData = false))
    assert(!stats.contains("MISSING"))
  }

  test("facts match the Catalyst definition on hostile values and types") {
    val df = hostile(1)
    val facts = XmlSinks.facts(df)
    assert(facts.stats == referenceStats(df))
    assert(facts.partitionRows == Vector(hostileRows.size.toLong))
    // the cases String.trim or String.length would get wrong
    val one = (s: String) => XmlSinks.facts(Seq(Tuple1(s)).toDF("S")).stats("S")
    assert(one("a\t ") == VarStats(2, hasData = true))
    assert(one("\t") == VarStats(1, hasData = true))
    assert(one("\u00A0") == VarStats(1, hasData = true))
    assert(one("\uD83D\uDE00") == VarStats(1, hasData = true))
    assert(one("   ") == VarStats(0, hasData = false))
    assert(facts.stats("D").maxLength == "-Infinity".length)
  }

  test("facts: an empty frame and a frame with an empty partition") {
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], hostileSchema)
    assert(XmlSinks.facts(empty).stats == referenceStats(empty))
    assert(XmlSinks.facts(empty).partitionRows.sum == 0L)
    assert(hostileSchema.fieldNames.forall(c =>
      XmlSinks.facts(empty).stats(c) == VarStats(0, hasData = false)))

    val split = fourPartitions(hostileRows, hostileSchema)
    val facts = XmlSinks.facts(split)
    assert(facts.stats == referenceStats(split))
    assert(facts.stats == XmlSinks.facts(hostile(1)).stats)
    assert(facts.partitionRows == Vector(2L, 2L, 0L, 4L))
  }

  test("Dataset-XML: seq numbering, empty cells omitted, numerics formatted") {
    val df = Seq(
      (2L, "S2", 40.0, ""),
      (1L, "S1", 2.5, "note"))
      .toDF("_row_id", "USUBJID", "WEIGHT", "COMMENT")
    val path = tmp.resolve("seq.xml").toString
    // the sink writes the frame's order: sort by _row_id here
    val rows = df.orderBy("_row_id").select("USUBJID", "WEIGHT", "COMMENT")
    val n = XmlSinks.writeDatasetXmlFile(rows, XmlSinks.facts(rows), path, "DM", "STUDY1", "3.4")
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

  test("Dataset-XML: ItemGroupDataSeq runs 1..n in row order across partitions") {
    val ids = (1 to 11).map(i => f"S$i%02d")
    val rows = fourPartitions(ids.map(Row(_)), StructType(Seq(StructField("USUBJID", StringType))))
    val facts = XmlSinks.facts(rows)
    assert(facts.partitionRows == Vector(2L, 3L, 0L, 6L))
    val path = tmp.resolve("seq_partitions.xml").toString
    assert(XmlSinks.writeDatasetXmlFile(rows, facts, path, "DM", "S", "3.4") == ids.size)
    val xml = read(path)
    val seqs = """data:ItemGroupDataSeq="(\d+)"""".r.findAllMatchIn(xml).map(_.group(1).toInt).toSeq
    assert(seqs == (1 to ids.size))
    val values = """Value="(S\d+)"""".r.findAllMatchIn(xml).map(_.group(1)).toSeq
    assert(values == ids)
    // facts of another frame do not number this one
    intercept[IllegalArgumentException](XmlSinks.writeDatasetXmlFile(rows,
      XmlSinks.facts(rows.coalesce(1)), tmp.resolve("seq_mismatch.xml").toString, "DM", "S", "3.4"))
  }

  test("Dataset-XML escapes attribute values") {
    val df = Seq(Tuple1("""a<b>&"c""")).toDF("V")
    val path = tmp.resolve("escape.xml").toString
    XmlSinks.writeDatasetXmlFile(df, XmlSinks.facts(df), path, "DM", "S", "3.4")
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
      XmlSinks.facts(df).stats)
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
      XmlSinks.facts(df).stats, isReferenceData = true)
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
    XmlSinks.writeDatasetXmlFile(df, XmlSinks.facts(df), path, "TA", "S", "3.4",
      isReferenceData = true)
    val xml = read(path)
    assert(xml.contains("<ReferenceData StudyOID="))
    assert(!xml.contains("<ClinicalData"))
  }
}
