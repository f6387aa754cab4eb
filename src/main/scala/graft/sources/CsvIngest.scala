package graft.sources

import java.io.{BufferedReader, BufferedWriter, FileInputStream, InputStreamReader, OutputStreamWriter}
import java.nio.channels.Channels
import java.nio.charset.{Charset, StandardCharsets}
import java.nio.file.{Files, Path, Paths}
import java.util.Locale

import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.Publish
import graft.standards.Codelist

/** Parsed header info for a CSV table (CsvHeaders —
  * `crates/tss-ingest/src/csv/header.rs:4-50`). */
case class CsvHeaders(columns: Seq[String], labels: Option[Seq[String]], skipRows: Int)

/** Ingest-time shape problems (`reader.rs:175-202`). */
case class ShapeIssue(kind: String, message: String)

/**
 * CSV ingestion S1-S6 (SURVEY §2.1): encoding sniff, single/double headers,
 * stable `_row_id` capture, shape validation, directory discovery.
 *
 * Spark-first shape: the executors always parse bytes with Spark's vectorized
 * CSV reader under an explicit all-string schema (the reference infers types
 * but then stringifies on access — reading as strings skips the wasted
 * inference scan and keeps normalization in charge of typing, SURVEY §1.3).
 * Only the 2-line header probe and the 4-byte BOM sniff touch the driver.
 *
 * Behavior studied from `crates/tss-ingest/src/csv/reader.rs:57-324` and
 * `discovery.rs:10-53`.
 */
object CsvIngest {

  /** Stable per-file row id column added at ingest; `monotonically_increasing_id`
    * is non-decreasing in file order because partition index follows file
    * offset — the SEQ window and XML row numbering order by this. */
  val RowIdCol = "_row_id"

  /** Config key for the UTF-8 transcode cache directory. Default is the
    * driver's JVM temp dir (fine for local mode); on a cluster point it at
    * storage every executor can read (shared mount), or the transcoded scan
    * path won't resolve on the workers. */
  val TranscodeDirKey = "spark.graft.csv.transcodeDir"

  // ---- S2: encoding detection ----------------------------------------------

  /** BOM sniff (`reader.rs:97-133`): UTF-8 / UTF-16 LE / UTF-16 BE; default
    * UTF-8. Reads 4 bytes on the driver. */
  def sniffEncoding(path: String): Charset = {
    val in = new FileInputStream(path)
    try {
      val b = new Array[Int](4)
      for (i <- 0 until 4) b(i) = in.read()
      if (b(0) == 0xFF && b(1) == 0xFE) StandardCharsets.UTF_16LE
      else if (b(0) == 0xFE && b(1) == 0xFF) StandardCharsets.UTF_16BE
      else StandardCharsets.UTF_8
    } finally in.close()
  }

  // ---- S3: guards ----------------------------------------------------------

  /** File-size guard (`reader.rs:15,57-80`) — a desktop-era cap kept as
    * config; at Spark scale big files just split into more tasks. */
  def checkFileSize(path: String, limitBytes: Long = 500L * 1024 * 1024): Either[String, Long] = {
    val size = Files.size(Paths.get(path))
    if (size > limitBytes) Left(s"$path is $size bytes (limit $limitBytes)") else Right(size)
  }

  // ---- S4: header probe ----------------------------------------------------

  /** Minimal quoted-CSV line splitter (`csv/header.rs:57-92`). */
  def parseCsvLine(line: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var inQuotes = false
    var i = 0
    while (i < line.length) {
      val ch = line.charAt(i)
      if (inQuotes) {
        if (ch == '"') {
          if (i + 1 < line.length && line.charAt(i + 1) == '"') { cur.append('"'); i += 1 }
          else inQuotes = false
        } else cur.append(ch)
      } else ch match {
        case '"' => inQuotes = true
        case ',' => out += cur.result(); cur.clear()
        case c   => cur.append(c)
      }
      i += 1
    }
    out += cur.result()
    out.result()
  }

  private def readFirstLines(path: String, n: Int): Seq[String] = {
    val cs = sniffEncoding(path)
    val r = new BufferedReader(new InputStreamReader(new FileInputStream(path), cs))
    try {
      Iterator.continually(r.readLine()).takeWhile(_ != null).take(n)
        .map(_.stripPrefix("﻿")).toList
    } finally r.close()
  }

  /** Driver-side UTF-8 transcode for non-UTF-8 inputs (S2): Spark's text-line
    * splitter assumes single-byte newlines, so a UTF-16 file either scans
    * whole-file-in-one-task (`multiLine`) or must be transcoded first. Under
    * the reference's 500 MB input cap (reader.rs:15) a one-pass streaming
    * transcode on the driver is cheap, and it makes the scan SPLITTABLE — a
    * big UTF-16 file then parallelizes like any UTF-8 file instead of
    * serializing into a single task. The BOM is dropped.
    *
    * The copy lands in `cacheDir` (default: the JVM temp dir; set
    * [[TranscodeDirKey]] to a shared mount on a cluster — executors must be
    * able to read the transcoded path, so driver-local tmp only works in
    * local mode) under a name derived from the source's (path, size,
    * mtime), so re-reading an unchanged file reuses the existing copy
    * instead of re-transcoding. [[Publish]] gives the copy the umask's
    * permissions, so executors running as another user can read it. */
  private def transcodeToUtf8(path: String, cs: Charset,
      cacheDir: Option[String] = None): String = {
    val src = Paths.get(path)
    val key = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val id = s"${src.toAbsolutePath}|${Files.size(src)}|${Files.getLastModifiedTime(src).toMillis}"
      md.digest(id.getBytes(StandardCharsets.UTF_8)).map("%02x".format(_)).mkString
    }
    val dir = cacheDir.map(Paths.get(_)).getOrElse(
      Paths.get(System.getProperty("java.io.tmpdir")))
    Files.createDirectories(dir)
    val copy = dir.resolve(s"graft-utf8-$key.csv")
    if (Files.exists(copy)) return copy.toString
    // published whole, so a crashed half-written transcode is never
    // mistaken for a finished one
    Publish.file(copy) { ch =>
      val in = new BufferedReader(new InputStreamReader(new FileInputStream(path), cs), 1 << 16)
      try {
        in.mark(1)
        if (in.read() != '\uFEFF') in.reset()
        val out = new BufferedWriter(
          new OutputStreamWriter(Channels.newOutputStream(ch), StandardCharsets.UTF_8), 1 << 16)
        in.transferTo(out)
        out.flush()
      } finally in.close()
    }
    // JVM-exit cleanup only for the implicit local-tmp default. A configured
    // cacheDir is shared cluster storage: deleting on driver exit would
    // defeat cross-run reuse and race concurrent jobs mid-scan — its
    // lifecycle belongs to the storage owner (TTL policy), not this JVM.
    if (cacheDir.isEmpty) copy.toFile.deleteOnExit()
    copy.toString
  }

  /** S4 — header schema probe (`reader.rs:239-264`): 1 header row = names;
    * 2 rows = labels then names. */
  def readCsvSchema(path: String, headerRows: Int): Either[String, CsvHeaders] = {
    val lines = readFirstLines(path, math.max(headerRows, 1))
    if (lines.isEmpty) return Left(s"empty CSV: $path")
    if (headerRows == 2 && lines.length >= 2) {
      Right(CsvHeaders(parseCsvLine(lines(1)), Some(parseCsvLine(lines.head)), skipRows = 2))
    } else {
      val cols = parseCsvLine(lines.head)
      if (cols.isEmpty || cols.forall(_.isEmpty)) Left(s"no header detected: $path")
      else Right(CsvHeaders(cols, None, skipRows = 1))
    }
  }

  // ---- S1: table scan ------------------------------------------------------

  /**
   * S1 — read a CSV into an all-string DataFrame with `_row_id`, handling
   * BOM/UTF-16 and 1- or 2-row headers (`reader.rs:277-324`).
   *
   * The header lines are skipped distributively: the file is read headerless
   * under the probed schema, `_row_id` is captured, and the first
   * `headerRows` physical rows (ids 0..headerRows-1, necessarily in
   * partition 0) are filtered out — no driver round-trip over data.
   */
  def readCsvTable(spark: SparkSession, path: String, headerRows: Int = 1): (DataFrame, CsvHeaders) = {
    val headers = readCsvSchema(path, headerRows).fold(m => throw new IllegalArgumentException(m), identity)
    val dedupedNames = dedupe(headers.columns)
    val schema = StructType(dedupedNames.map(StructField(_, StringType, nullable = true)))
    val cs = sniffEncoding(path)
    // Non-UTF-8 inputs are transcoded once on the driver (see
    // transcodeToUtf8) so the executor scan always runs Spark's splittable
    // single-byte-newline fast path — never a whole-file multiLine task.
    val scanPath =
      if (cs == StandardCharsets.UTF_8) path
      else transcodeToUtf8(path, cs,
        cacheDir = Option(spark.conf.get(TranscodeDirKey, null)))
    val df = spark.read
      .schema(schema)
      .option("header", "false")
      .option("mode", "PERMISSIVE")
      .csv(scanPath)
      .withColumn(RowIdCol, monotonically_increasing_id())
      .where(col(RowIdCol) >= headers.skipRows)
    // Study CSVs are small single files (one split under
    // maxPartitionBytes), so the whole normalize/validate pipeline above
    // this scan would run on one core. Fan out AFTER `_row_id` capture —
    // the id projection executes below the exchange in the single-split
    // scan stage, so ids keep their deterministic 0..n-1 file order and
    // every `_row_id`-ordered consumer (N3 sequences, XPT/XML sinks) is
    // unaffected. Scale-adaptive: a production-sized CSV already splits
    // and skips the exchange; the 2m floor keeps small studies (e1's
    // 600 KB DM, the golden fixtures) exchange-free — their per-domain
    // work is too light to repay it (measured: e1 +1.4 s at 256k).
    val scan = Paths.get(scanPath)
    val size = if (Files.isRegularFile(scan)) Files.size(scan) else 0L
    val maxSplit = math.max(1L, JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.files.maxPartitionBytes", "128m")))
    val par = spark.sparkContext.defaultParallelism
    val fanned =
      if (size >= FanoutMinBytes && (size + maxSplit - 1) / maxSplit < par)
        df.repartition(par)
      else df
    (fanned, headers)
  }

  /** Size floor of the post-ingest scan fanout. */
  private val FanoutMinBytes = 2L * 1024 * 1024

  /** An empty header cell becomes `_c`; a name equal to an earlier one or
    * to `_row_id` under Spark's case-insensitive resolution gets a suffix. */
  private def dedupe(names: Seq[String]): Seq[String] = {
    val used = scala.collection.mutable.Set(Codelist.fold(RowIdCol))
    names.map { n =>
      val base = if (n.isEmpty) "_c" else n
      // probe until globally unique: header "a,a,a_1" must not synthesize a
      // second "a_1"
      var candidate = base
      var k = 1
      while (used.contains(Codelist.fold(candidate))) { candidate = s"${base}_$k"; k += 1 }
      used += Codelist.fold(candidate)
      candidate
    }
  }

  // ---- S5: shape validation ------------------------------------------------

  /** S5 — 0 rows / blank column names error; >500 columns warn
    * (`reader.rs:175-202`). */
  def validateShape(df: DataFrame, originalColumns: Seq[String], wideWarnAt: Int = 500): Seq[ShapeIssue] = {
    val issues = Seq.newBuilder[ShapeIssue]
    if (df.isEmpty) issues += ShapeIssue("error", "no data rows")
    if (originalColumns.exists(_.trim.isEmpty))
      issues += ShapeIssue("error", "empty column name")
    if (originalColumns.length > wideWarnAt)
      issues += ShapeIssue("warning", s"${originalColumns.length} columns (> $wideWarnAt)")
    issues.result()
  }

  // ---- S6: discovery -------------------------------------------------------

  /** S6 — list `*.csv` case-insensitively, sorted by filename
    * (`discovery.rs:10-53`). */
  def listCsvFiles(dir: String): Seq[Path] = {
    val d = Paths.get(dir)
    if (!Files.isDirectory(d)) return Nil
    val s = Files.list(d)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala
        .filter(p => Files.isRegularFile(p) &&
          p.getFileName.toString.toLowerCase(Locale.ROOT).endsWith(".csv"))
        .toSeq.sortBy(_.getFileName.toString)
    } finally s.close()
  }
}
