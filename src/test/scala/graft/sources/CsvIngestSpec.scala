package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.SparkSpec

/** CSV ingestion semantics (reader.rs:57-324, discovery.rs, header.rs). */
class CsvIngestSpec extends SparkSpec {

  private val tmpDir = {
    val d = Paths.get("target", "tmp", "csvspec")
    Files.createDirectories(d)
    d
  }

  private def write(name: String, content: String,
      charset: java.nio.charset.Charset = StandardCharsets.UTF_8,
      bom: Array[Byte] = Array.empty): String = {
    val p = tmpDir.resolve(name)
    Files.write(p, bom ++ content.getBytes(charset))
    p.toString
  }

  test("parseCsvLine handles quotes, embedded commas, escaped quotes") {
    assert(CsvIngest.parseCsvLine("""a,"b,c",d""") == Seq("a", "b,c", "d"))
    assert(CsvIngest.parseCsvLine("x,\"say \"\"hi\"\"\",y") == Seq("x", "say \"hi\"", "y"))
    assert(CsvIngest.parseCsvLine("a,,c") == Seq("a", "", "c"))
  }

  test("single-header read with _row_id in file order") {
    val p = write("single.csv", "SUBJID,AGE\n101,34\n102,41\n103,28\n")
    val (df, headers) = CsvIngest.readCsvTable(spark, p, headerRows = 1)
    assert(headers.columns == Seq("SUBJID", "AGE"))
    assert(headers.labels.isEmpty)
    val rows = df.orderBy(CsvIngest.RowIdCol)
      .select("SUBJID", "AGE").collect().map(r => (r.getString(0), r.getString(1)))
    assert(rows.toSeq == Seq(("101", "34"), ("102", "41"), ("103", "28")))
  }

  test("double-header read: labels row 1, names row 2, data from row 3") {
    val p = write("double.csv",
      "Subject ID,Age at Enrollment\nSUBJID,AGE\n101,34\n102,41\n")
    val (df, headers) = CsvIngest.readCsvTable(spark, p, headerRows = 2)
    assert(headers.columns == Seq("SUBJID", "AGE"))
    assert(headers.labels.contains(Seq("Subject ID", "Age at Enrollment")))
    val rows = df.orderBy(CsvIngest.RowIdCol)
      .select("SUBJID").collect().map(_.getString(0))
    assert(rows.toSeq == Seq("101", "102"))
  }

  test("UTF-8 BOM is stripped from the first header cell") {
    val p = write("bom.csv", "SUBJID,AGE\n101,34\n",
      bom = Array(0xEF.toByte, 0xBB.toByte, 0xBF.toByte))
    val (df, headers) = CsvIngest.readCsvTable(spark, p)
    assert(headers.columns == Seq("SUBJID", "AGE"))
    assert(df.count() == 1)
  }

  test("UTF-16 LE file is sniffed and read") {
    val content = "SUBJID,NAME\n101,Ana\n102,Bo\n"
    val p = write("utf16.csv", content, StandardCharsets.UTF_16LE,
      bom = Array(0xFF.toByte, 0xFE.toByte))
    assert(CsvIngest.sniffEncoding(p) == StandardCharsets.UTF_16LE)
    val (df, headers) = CsvIngest.readCsvTable(spark, p)
    assert(headers.columns == Seq("SUBJID", "NAME"))
    val rows = df.orderBy(CsvIngest.RowIdCol)
      .select("NAME").collect().map(_.getString(0))
    assert(rows.toSeq == Seq("Ana", "Bo"))
  }

  test("transcode cache directory is configurable (cluster shared storage)") {
    val cacheDir = java.nio.file.Files.createTempDirectory("graft-transcode-spec")
    val content = "SUBJID,NAME\n201,Cy\n"
    val p = write("utf16dir.csv", content, StandardCharsets.UTF_16LE,
      bom = Array(0xFF.toByte, 0xFE.toByte))
    spark.conf.set(CsvIngest.TranscodeDirKey, cacheDir.toString)
    try {
      val (df, _) = CsvIngest.readCsvTable(spark, p)
      assert(df.count() == 1)
      // the UTF-8 copy landed in the configured directory, not java.io.tmpdir
      val copies = cacheDir.toFile.listFiles().filter(_.getName.startsWith("graft-utf8-"))
      assert(copies.length == 1, copies.mkString(","))
    } finally spark.conf.unset(CsvIngest.TranscodeDirKey)
  }

  test("the transcoded copy has a plain file's permissions, not a temp file's 0600") {
    val cacheDir = Files.createTempDirectory("graft-transcode-perms")
    val p = write("utf16perms.csv", "SUBJID,NAME\n301,Di\n", StandardCharsets.UTF_16LE,
      bom = Array(0xFF.toByte, 0xFE.toByte))
    spark.conf.set(CsvIngest.TranscodeDirKey, cacheDir.toString)
    try {
      val (df, _) = CsvIngest.readCsvTable(spark, p)
      assert(df.count() == 1)
      val copies = cacheDir.toFile.listFiles().filter(_.getName.startsWith("graft-utf8-"))
      assert(copies.map(_.getName).forall(_.endsWith(".csv")), copies.mkString(","))
      // executors read the copy, possibly as another user: it must carry
      // the umask's bits like any file created in that directory
      val probe = Files.createFile(cacheDir.resolve("umask_probe"))
      assert(Files.getPosixFilePermissions(copies.head.toPath) ==
        Files.getPosixFilePermissions(probe))
    } finally spark.conf.unset(CsvIngest.TranscodeDirKey)
  }

  test("UTF-16 ingest scans splittably (more than one input partition)") {
    // 4000 rows ≈ 120 KB as UTF-16; with a 16 KB partition ceiling the scan
    // must fan out — the old multiLine path forced one whole-file task
    val content = "SUBJID,NAME\n" +
      (1 to 4000).map(i => s"$i,subject-name-$i").mkString("\n") + "\n"
    val p = write("utf16big.csv", content, StandardCharsets.UTF_16LE,
      bom = Array(0xFF.toByte, 0xFE.toByte))
    val before = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", 16 * 1024)
    try {
      val (df, _) = CsvIngest.readCsvTable(spark, p)
      assert(df.rdd.getNumPartitions > 1,
        s"UTF-16 scan still single-partition (${df.rdd.getNumPartitions})")
      assert(df.count() == 4000)
      val last = df.orderBy(org.apache.spark.sql.functions.col(CsvIngest.RowIdCol).desc)
        .select("NAME").head().getString(0)
      assert(last == "subject-name-4000")
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", before)
  }

  test("duplicate and empty header names are deduped") {
    val p = write("dup.csv", "A,A,\n1,2,3\n")
    val (df, _) = CsvIngest.readCsvTable(spark, p)
    assert(df.columns.toSeq == Seq("A", "A_1", "_c", CsvIngest.RowIdCol))
  }

  test("dedupe never collides with a pre-existing column name") {
    val p = write("dup2.csv", "a,a,a_1\n1,2,3\n")
    val (df, _) = CsvIngest.readCsvTable(spark, p)
    val names = df.columns.filterNot(_ == CsvIngest.RowIdCol).toSeq
    assert(names.distinct.size == names.size, names.toString)
    assert(names.head == "a" && names.size == 3)
  }

  test("a _row_id header keeps its own values") {
    val p = write("rowid.csv", "_row_id,A\nx,1\ny,2\n")
    val (df, _) = CsvIngest.readCsvTable(spark, p)
    assert(df.columns.toSeq == Seq("_row_id_1", "A", CsvIngest.RowIdCol))
    assert(df.orderBy(CsvIngest.RowIdCol).select("_row_id_1").collect().map(_.getString(0))
      .toSeq == Seq("x", "y"))
  }

  test("headers that differ only in case ingest side by side") {
    val p = write("twins.csv", "aeterm,AETERM,Aeterm_1\nlow,UP,mixed\n")
    val (df, _) = CsvIngest.readCsvTable(spark, p)
    val names = df.columns.filterNot(_ == CsvIngest.RowIdCol).toSeq
    assert(names == Seq("aeterm", "AETERM_1", "Aeterm_1_1"))
    assert(df.select(names.map(n => org.apache.spark.sql.functions.col(n)): _*).head().toSeq ==
      Seq("low", "UP", "mixed"))
  }

  test("shape validation flags empties and wide frames") {
    val p = write("shape.csv", "A,B\n1,2\n")
    val (df, headers) = CsvIngest.readCsvTable(spark, p)
    assert(CsvIngest.validateShape(df, headers.columns).isEmpty)
    assert(CsvIngest.validateShape(df, Seq("A", " "))
      .exists(_.message.contains("empty column name")))
    assert(CsvIngest.validateShape(df, (1 to 501).map("c" + _))
      .exists(_.kind == "warning"))
  }

  test("discovery lists csv case-insensitively, sorted") {
    val d = tmpDir.resolve("disc")
    Files.createDirectories(d)
    Files.write(d.resolve("b.CSV"), "x\n1\n".getBytes)
    Files.write(d.resolve("a.csv"), "x\n1\n".getBytes)
    Files.write(d.resolve("ignore.txt"), "".getBytes)
    assert(CsvIngest.listCsvFiles(d.toString).map(_.getFileName.toString) ==
      Seq("a.csv", "b.CSV"))
  }

  test("file size guard") {
    val p = write("size.csv", "A\n1\n")
    assert(CsvIngest.checkFileSize(p).isRight)
    assert(CsvIngest.checkFileSize(p, limitBytes = 1).isLeft)
  }
}

/** Items.csv statistical detection (detection.rs:142-294). */
class ItemsMetadataSpec extends SparkSpec {

  import spark.implicits._

  // Viedoc-ish Items file: ID, Label, DataType, Mandatory, Format, Length
  // DataType kept at cardinality 2 (< Mandatory's 3) so the min-cardinality
  // rule resolves the same way it does on real Viedoc exports.
  private lazy val items = Seq(
    ("SUBJID", "Subject identifier as recorded in EDC", "text", "Y", "", "20"),
    ("AGE", "Age at informed consent in years", "integer", "Y", "", "3"),
    ("SEX", "Sex of the participant at birth", "text", "C", "SEXFMT", "1"),
    ("VSDT", "Visit date for the scheduled encounter", "text", "N", "DATEFMT", "10"),
    ("WT", "Body weight measured at screening", "integer", "N", "", "6"),
    ("HT", "Standing height without shoes", "integer", "N", "", "6"),
    ("AETERM", "Reported adverse event verbatim term", "text", "N", "", "20"),
    ("CMTRT", "Concomitant medication reported name", "text", "N", "CMFMT", "20")
  ).toDF("ItemID", "ItemLabel", "DataType", "Mandatory", "FormatName", "Length")

  test("role detection: ID, label, datatype, mandatory, format, length") {
    val schema = ItemsMetadata.detectSchema(ItemsMetadata.analyzeColumns(items))
      .toOption.get
    assert(schema.id.name == "ItemID")
    assert(schema.label.name == "ItemLabel")
    assert(schema.dataType.map(_.name).contains("DataType"))
    assert(schema.mandatory.map(_.name).contains("Mandatory"))
    assert(schema.formatName.map(_.name).contains("FormatName"))
    assert(schema.contentLength.map(_.name).contains("Length"))
  }

  test("item extraction under the detected schema") {
    val schema = ItemsMetadata.detectSchema(ItemsMetadata.analyzeColumns(items))
      .toOption.get
    val metas = ItemsMetadata.loadItems(items, schema)
    assert(metas("SEX").formatName.contains("SEXFMT"))
    assert(metas("AGE").contentLength.contains(3.0))
    assert(metas("AETERM").label.startsWith("Reported adverse"))
  }

  test("detection needs at least two columns") {
    assert(ItemsMetadata.detectSchema(
      ItemsMetadata.analyzeColumns(Seq("a", "b").toDF("only"))).isLeft)
  }
}
