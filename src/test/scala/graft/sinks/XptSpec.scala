package graft.sinks

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.functions.IbmFloat

/** IBM hex-float encoding against published bit patterns + round trips. */
class IbmFloatSpec extends SparkSpec {

  private def hex(b: Array[Byte]): String = b.map("%02X".format(_)).mkString

  test("known IBM encodings") {
    assert(hex(IbmFloat.toIbmBytes(1.0)) == "4110000000000000")
    assert(hex(IbmFloat.toIbmBytes(-1.0)) == "C110000000000000")
    assert(hex(IbmFloat.toIbmBytes(16.0)) == "4210000000000000")
    assert(hex(IbmFloat.toIbmBytes(0.5)) == "4080000000000000")
    assert(hex(IbmFloat.toIbmBytes(0.0)) == "0000000000000000")
    assert(hex(IbmFloat.toIbmBytes(2.0)) == "4120000000000000")
  }

  test("missing value encodes as dot") {
    assert(hex(IbmFloat.toIbmBytes(Double.NaN)) == "2E00000000000000")
    assert(IbmFloat.fromIbmBytes(IbmFloat.missingBytes).isNaN)
  }

  test("round trip preserves doubles exactly (IBM 56-bit ≥ IEEE 52-bit)") {
    val rnd = new scala.util.Random(42)
    val fixed = Seq(0.0, 1.0, -1.0, 3.14159265358979, 1e-10, 123456.789,
      -2.5e-30, 7.0e30)
    val sampled = Seq.fill(500)(rnd.nextDouble() * math.pow(10, rnd.nextInt(40) - 20) *
      (if (rnd.nextBoolean()) 1 else -1))
    (fixed ++ sampled).foreach { d =>
      val back = IbmFloat.fromIbmBytes(IbmFloat.toIbmBytes(d))
      assert(back == d, s"$d -> $back")
    }
  }

  test("values beyond IBM's exponent range underflow to zero") {
    // IBM hex float spans ~5.4e-79 .. 7.2e75; IEEE subnormals underflow
    assert(IbmFloat.fromIbmBytes(IbmFloat.toIbmBytes(1e-100)) == 0.0)
  }

  test("values above IBM max magnitude throw instead of silently clamping") {
    intercept[IllegalArgumentException](IbmFloat.toIbmBytes(1e80))
    intercept[IllegalArgumentException](IbmFloat.toIbmBytes(-1e80))
    // the documented max is representable
    assert(IbmFloat.fromIbmBytes(IbmFloat.toIbmBytes(7.2e75)) == 7.2e75)
  }

  test("writer annotates range failures with variable name and value") {
    import spark.implicits._
    val df = Seq(1.0, 1e80).toDF("AVAL")
    val path = Paths.get("target", "tmp", "ibmfloatspec", "range.xpt")
    Files.createDirectories(path.getParent)
    val e = intercept[Exception](
      XptWriter.writeDataFrame(df, path.toString, "AD", "label"))
    // the executor-side annotation reaches the caller inside Spark's
    // task-failure wrapping: search the whole cause chain
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString("\n")
    assert(chain.contains("variable AVAL"), chain)
    assert(chain.contains("value 1.0E80"), chain)
  }
}

/** XPT container round trip + structure pins (TS-140). */
class XptSpec extends SparkSpec {

  import spark.implicits._

  private val tmp = {
    val d = Paths.get("target", "tmp", "xptspec")
    Files.createDirectories(d)
    d
  }

  test("write → read round trip over mixed types") {
    val df = Seq(
      ("GRAFT-101", 34.0, "2024-01-15"),
      ("GRAFT-102", 41.5, "2024-02"),
      ("GRAFT-103", Double.NaN, ""))
      .toDF("USUBJID", "AGE", "BRTHDTC")
    val path = tmp.resolve("dm.xpt").toString
    val cols = XptWriter.writeDataFrame(df, path, "DM", "Demographics",
      labels = Map("USUBJID" -> "Unique Subject Identifier"))

    // char lengths are max observed trimmed length
    assert(cols.find(_.name == "USUBJID").get.length == 9)
    assert(cols.find(_.name == "BRTHDTC").get.length == 10)
    assert(cols.find(_.name == "AGE").get == XptColumn("AGE", "AGE", isNumeric = true, 8))

    val m = XptReader.read(path)
    assert(m.name == "DM")
    assert(m.label == "Demographics")
    assert(m.columns.map(_.name) == Seq("USUBJID", "AGE", "BRTHDTC"))
    assert(m.columns.find(_.name == "USUBJID").get.label == "Unique Subject Identifier")
    assert(m.rows.size == 3)
    assert(m.rows(0) == Seq("GRAFT-101", 34.0, "2024-01-15"))
    assert(m.rows(1) == Seq("GRAFT-102", 41.5, "2024-02"))
    assert(m.rows(2)(1) == null) // NaN → missing → null
    assert(m.rows(2)(2) == "")
  }

  test("countRows agrees with read across pad-ambiguous shapes") {
    // several row widths so the data section ends at different offsets
    // inside the final 80-byte record (the pad-heuristic window)
    for (n <- Seq(1, 2, 3, 7, 10, 23)) {
      val df = (1 to n).map(i => (s"S$i", i.toDouble)).toDF("ID", "VAL")
      val path = tmp.resolve(s"count_$n.xpt").toString
      XptWriter.writeDataFrame(df, path, "T", "")
      assert(XptReader.countRows(path) == XptReader.read(path).rows.size.toLong, s"n=$n")
      assert(XptReader.countRows(path) == n.toLong, s"n=$n")
    }
    // char-only member: rows CAN be all-blank — the count applies the same
    // documented pad heuristic as read (final-record blanks are padding)
    val charOnly = Seq(("A", "x"), ("", "")).toDF("C1", "C2")
    val p = tmp.resolve("count_blank.xpt").toString
    XptWriter.writeDataFrame(charOnly, p, "T", "")
    assert(XptReader.countRows(p) == XptReader.read(p).rows.size.toLong)
  }

  test("file is 80-byte-record aligned and starts with the library header") {
    val df = Seq(("A", 1.0)).toDF("ID", "VAL")
    val path = tmp.resolve("align.xpt").toString
    XptWriter.writeDataFrame(df, path, "T", "")
    val bytes = Files.readAllBytes(Paths.get(path))
    assert(bytes.length % 80 == 0)
    assert(new String(bytes, 0, 48, "US-ASCII") ==
      "HEADER RECORD*******LIBRARY HEADER RECORD!!!!!!!")
  }

  test("member header matches the strict TS-140 layout") {
    val df = Seq(("A", 1.0)).toDF("ID", "VAL")
    val path = tmp.resolve("strict.xpt").toString
    XptWriter.writeDataFrame(df, path, "T", "")
    val content = new String(Files.readAllBytes(Paths.get(path)), "US-ASCII")
    // the regex strict readers (python xport) use for the member header
    val memberRe =
      ("HEADER RECORD\\*{7}MEMBER  HEADER RECORD!{7}0{17}160{8}(140|136)  ").r
    assert(memberRe.findFirstIn(content).isDefined, content.substring(240, 320))
  }

  test("declared lengths override observed; blanks floor at 1") {
    val df = Seq(("x", ""), ("yy", "")).toDF("A", "B")
    val cols = XptWriter.columnsFor(df, declaredLengths = Map("A" -> 20))
    assert(cols.find(_.name == "A").get.length == 20)
    assert(cols.find(_.name == "B").get.length == 1)
  }

  test("long char values truncate to declared length") {
    val df = Seq(Tuple1("abcdefghij")).toDF("A")
    val path = tmp.resolve("trunc.xpt").toString
    XptWriter.writeDataFrame(df, path, "T", "", declaredLengths = Map("A" -> 4))
    assert(XptReader.read(path).rows.head.head == "abcd")
  }

  test("multi-partition write: executors encode parts, assembly preserves range order") {
    // the distributed path (per-partition part files → driver zero-copy
    // concat) is the 100×-scale shape; prove it end-to-end with a frame
    // that actually HAS >1 partition. repartitionByRange assigns
    // contiguous key ranges to ascending partition indices, so the
    // index-ordered assembly must yield the globally sorted member.
    val n = 1000
    val df = (1 to n).map(i => (f"S$i%04d", i.toDouble))
      .toDF("ID", "VAL")
      .repartitionByRange(7, $"ID")
    assert(df.rdd.getNumPartitions == 7)
    val path = tmp.resolve("multipart.xpt").toString
    XptWriter.writeDataFrame(df, path, "T", "")
    assert(XptReader.countRows(path) == n.toLong)
    val m = XptReader.read(path)
    assert(m.rows.size == n)
    assert(m.rows.map(_.head.asInstanceOf[String]) ==
      (1 to n).map(i => f"S$i%04d"))
    assert(m.rows.map(_(1).asInstanceOf[Double]) == (1 to n).map(_.toDouble))
    // empty partitions (possible under range skew) must not corrupt the
    // member: 3 rows across 8 partitions leaves ≥5 empty
    val sparse = Seq(("A", 1.0), ("B", 2.0), ("C", 3.0))
      .toDF("ID", "VAL").repartitionByRange(8, $"ID")
    val p2 = tmp.resolve("multipart_sparse.xpt").toString
    XptWriter.writeDataFrame(sparse, p2, "T", "")
    assert(XptReader.read(p2).rows.map(_.head) == Seq("A", "B", "C"))
  }

  test("spark round trip via toDataFrame") {
    val df = Seq((1.0, "a"), (2.0, "b")).toDF("N", "C")
    val path = tmp.resolve("spark.xpt").toString
    XptWriter.writeDataFrame(df, path, "T", "")
    val back = XptReader.toDataFrame(spark, path)
    assert(back.orderBy("N").collect().map(r => (r.getDouble(0), r.getString(1))).toSeq ==
      Seq((1.0, "a"), (2.0, "b")))
  }
}
