package graft.session

import graft.sinks.XptReader

/**
 * End-to-end golden corpus: a mockdata-shaped fixture study (double-header
 * CSVs + Items.csv/CodeLists.csv companions, an LBCH split dataset, a
 * RELSUB/RELREC pair, a SUPP column) driven through the full
 * `StudySession.create → exportAll` pipeline, with every exported artifact
 * — XPT bytes, Dataset-XML, Define-XML — hash-pinned via [[GoldenHarness]].
 *
 * This is the byte-level regression net over the spots CLAUDE.md lists as
 * regression-prone (TS-140 member headers, IBM floats, observed lengths,
 * OID parity, SUPPQUAL templates, split-domain naming, def:Standards).
 * An intentional change to any export surface must regenerate the goldens:
 *
 *   GOLDEN_UPDATE=1 sbt "testOnly graft.session.GoldenCorpusSpec"
 *
 * then review the diff of goldens.txt / expected_define.xml like any other
 * code change. Fixture study authored for this repo (shape mirrors the
 * reference's public mockdata EDC export layout: label row + name row,
 * quoted Items/CodeLists companions — `mockdata/DEMO_GDISC_20240903_072908`).
 */
class GoldenCorpusSpec extends GoldenHarness {

  val anchorFixture = "GOLD1_DM.csv"
  val goldensFile = "goldens.txt"
  val expectedDefineFile = "expected_define.xml"

  private def buildSession(compiled: Boolean = false): StudySession = {
    val dir = resourceDir
    val s = new StudySession(spark, "GOLD1", ctVersion = "2025-03-28", compiled = compiled)
    s.loadItemsMetadata(dir.resolve("GOLD1_Items.csv").toString,
      codeListsCsvPath = Some(dir.resolve("GOLD1_CodeLists.csv").toString),
      itemsHeaderRows = 2)
    Seq("DM", "AE", "LBCH", "RELREC", "RELSUB").foreach { code =>
      s.addDomain(code, dir.resolve(s"GOLD1_$code.csv").toString, headerRows = 2)
    }
    s.configureSupp("DM", Seq(
      "INVCMT" -> graft.operators.SuppColumnConfig("DMCMT", "Investigator Comment", "CRF")))
    s
  }

  private lazy val firstExport: Map[String, String] =
    exportHashes(buildSession(), "target/tmp/golden_out1")

  test("fixture metadata: Items.csv statistical detection wires labels and formats") {
    val s = buildSession()
    val dm = s.domainState("DM").get
    // the CSV's own label row outranks the Items.csv label (header labels
    // are the closer source of truth for a double-header EDC export)
    assert(dm.hints("AGE").label.contains("Age in years"))
    // CodeLists.csv SEXFMT decode created SEX from SEXCD (M1)
    assert(dm.source.columns.contains("SEX"))
    // suggestions picked the obvious mappings across all five datasets
    assert(dm.mapping.columnFor("SUBJID").contains("SUBJID"))
    assert(dm.mapping.columnFor("SEX").contains("SEX"))
    assert(s.domainState("LBCH").get.mapping.columnFor("LBTESTCD").contains("LBTESTCD"))
    assert(s.domainState("RELSUB").get.mapping.columnFor("RSUBJID").contains("RSUBJID"))
    assert(s.domainState("RELREC").get.mapping.columnFor("IDVAR").contains("IDVAR"))
  }

  test("golden export: file set is complete") {
    val names = firstExport.keySet
    val expected = Set(
      "ae.xpt", "ae.xml", "dm.xpt", "dm.xml", "lbch.xpt", "lbch.xml",
      "relrec.xpt", "relrec.xml", "relsub.xpt", "relsub.xml",
      "suppdm.xpt", "define.xml")
    assert(names == expected, s"unexpected export set: $names")
  }

  test("golden export: semantic spot checks (split DOMAIN, SUPP, RELSUB augmentation)") {
    firstExport // force the export — this test must not depend on suite order
    val out = "target/tmp/golden_out1"
    val dm = XptReader.read(s"$out/dm.xpt")
    assert(dm.rows.size == 4)
    val sexIdx = dm.columns.indexWhere(_.name == "SEX")
    assert(dm.rows.map(_(sexIdx)) == Seq("M", "F", "M", "F"))
    val lb = XptReader.read(s"$out/lbch.xpt")
    assert(lb.name == "LBCH")
    val domIdx = lb.columns.indexWhere(_.name == "DOMAIN")
    assert(lb.rows.map(_(domIdx)).toSet == Set("LB"))
    // G3: the missing MOTHER→CHILD reciprocal row was generated
    val rs = XptReader.read(s"$out/relsub.xpt")
    assert(rs.rows.size == 4)
    val srelIdx = rs.columns.indexWhere(_.name == "SREL")
    assert(rs.rows.map(_(srelIdx)).count(_ == "CHILD, BIOLOGICAL") == 1)
    val supp = XptReader.read(s"$out/suppdm.xpt")
    assert(supp.rows.size == 3) // subject 102's comment is blank
    val qnamIdx = supp.columns.indexWhere(_.name == "QNAM")
    assert(supp.rows.map(_(qnamIdx)).toSet == Set("DMCMT"))
  }

  test("golden export: hashes match the committed goldens") {
    checkOrUpdateGoldens(firstExport, "target/tmp/golden_out1")
  }

  test("golden export: byte-stable across two consecutive runs") {
    val second = exportHashes(buildSession(), "target/tmp/golden_out2")
    assert(second == firstExport)
  }

  test("interpreted and compiled plans give the same artifacts and issues") {
    // this small study plans interpreted; `compiled` keeps Spark's codegen
    val interpreted = buildSession()
    val compiled = buildSession(compiled = true)
    assert(exportHashes(compiled, "target/tmp/golden_out_compiled") == firstExport)
    for (code <- interpreted.domainCodes)
      assert(compiled.validate(code) == interpreted.validate(code), code)
    assert(compiled.validateCross() == interpreted.validateCross())
  }
}
