package graft.session

import java.nio.charset.{Charset, StandardCharsets}
import java.nio.file.{Files, Paths}

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec
import graft.operators.{NormalizationType, RuleInference}
import graft.sinks.XptReader
import graft.sources.CsvIngest
import graft.standards.{Codelist, Standards, VariableType}

/**
 * Hostile CSV headers through the whole study path: names with dots,
 * backticks, spaces, leading digits and non-ASCII letters, names that
 * differ only in case, a `_row_id` header and empty cells, in 1- and
 * 2-row headers, UTF-8 with and without a BOM and UTF-16 either way
 * round. Each generated study goes create → preview → validate →
 * exportAll → XPT readback with every hostile column mapped onto an AE
 * variable that copies its source unchanged; the XPT must carry each
 * column's own values under its variable.
 */
class HostileHeaderPropertySpec extends SparkSpec {

  private val hostile = Seq("AE.TERM", "a`b", "AE TERM", "1AETERM", "AÉTERM", "有害事象",
    "aeterm", "AETERM", "_row_id", "", "")

  // AE variables whose normalization is a plain copy, enough for every
  // hostile column
  private lazy val targets = {
    val ae = Standards.domain("sdtm", "AE").get
    ae.orderedVariables.filter(v => v.dataType != VariableType.Num &&
      RuleInference.inferType(v, "AE") == NormalizationType.CopyDirect).map(_.name)
  }

  private val encodings: Seq[(String, Charset, Array[Byte])] = Seq(
    ("utf8", StandardCharsets.UTF_8, Array.empty[Byte]),
    ("utf8bom", StandardCharsets.UTF_8, Array(0xEF, 0xBB, 0xBF).map(_.toByte)),
    ("utf16le", StandardCharsets.UTF_16LE, Array(0xFF, 0xFE).map(_.toByte)),
    ("utf16be", StandardCharsets.UTF_16BE, Array(0xFE, 0xFF).map(_.toByte)))

  /** One generated study: the header order, then per data row the
    * subject and one value per hostile column. */
  private case class Study(headers: Seq[String], rows: Seq[(String, Seq[String])])

  private val studyGen: Gen[Study] = for {
    order <- Gen.listOfN(hostile.size, Gen.choose(0, Int.MaxValue))
    n <- Gen.choose(1, 4)
    rows <- Gen.listOfN(n, Gen.listOfN(hostile.size,
      Gen.choose(1, 8).flatMap(k => Gen.listOfN(k, Gen.alphaNumChar).map(_.mkString))))
  } yield Study(hostile.zip(order).sortBy(_._2).map(_._1),
    rows.zipWithIndex.map { case (vs, i) => (s"${101 + i}", vs) })

  (0 until 4).foreach { trial =>
    val (encName, cs, bom) = encodings(trial)
    val headerRows = 1 + trial % 2
    test(s"hostile headers survive the study path ($encName, $headerRows-row header)") {
      val study = studyGen.pureApply(Gen.Parameters.default, Seed(1000L + trial))
      assert(targets.size >= study.headers.size, targets.toString)
      val names = "SUBJID" +: study.headers
      val lines = (if (headerRows == 2) Seq(names.map(n => s"Label of $n")) else Nil) ++
        Seq(names) ++ study.rows.map { case (subj, vs) => subj +: vs }
      val dir = Paths.get("target", "tmp", s"hostile_$trial")
      Files.createDirectories(dir)
      Files.write(dir.resolve("ae.csv"),
        bom ++ lines.map(_.mkString(",")).mkString("", "\n", "\n").getBytes(cs))

      val s = StudySession.create(spark, "HOST1", dir.toString, Map("AE" -> "ae.csv"),
        headerRows = headerRows)
      try {
        val ds = s.domainState("AE").get
        val columns = ds.source.columns.filterNot(_ == CsvIngest.RowIdCol).toSeq
        assert(columns.size == names.size, columns.toString)
        assert(columns.map(Codelist.fold).distinct.size == columns.size, columns.toString)
        assert(columns.head == "SUBJID")
        assert(ds.mapping.acceptManual("USUBJID", "SUBJID") == Right(()))
        val mapped = targets.zip(columns.tail)
        mapped.foreach { case (v, c) => assert(ds.mapping.acceptManual(v, c) == Right(()), c) }
        val expected = mapped.indices.map(j => mapped(j)._1 -> study.rows.map(_._2(j))).toMap

        val preview = s.preview("AE").get.orderBy(CsvIngest.RowIdCol).collect()
        expected.foreach { case (v, vals) =>
          assert(preview.map(_.getAs[String](v)).toSeq == vals, s"preview $v")
        }
        assert(preview.map(_.getAs[String]("USUBJID")).toSeq == study.rows.map("HOST1-" + _._1))
        val issues = s.validate("AE").filter(i => expected.contains(i.variable))
        assert(!issues.exists(i => i.kind.endsWith("Missing") || i.kind.endsWith("Empty")),
          issues.toString)

        val out = dir.resolve("out")
        s.exportAll(out.toString)
        val xpt = XptReader.read(out.resolve("ae.xpt").toString)
        expected.foreach { case (v, vals) =>
          val i = xpt.columns.indexWhere(_.name == v)
          assert(i >= 0, s"$v missing from ae.xpt")
          assert(xpt.rows.map(_(i).toString.trim) == vals, s"ae.xpt $v")
        }
      } finally s.domainCodes.foreach(c => s.domainState(c).get.source.unpersist())
    }
  }
}
