package graft.sinks

import java.io.OutputStream
import java.nio.charset.StandardCharsets
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter
import java.util.Locale

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.NumericType

import graft.functions.{IbmFloat, Numerics}

/** One XPT variable: SAS name (≤8), label (≤40), numeric flag, byte length
  * (8 for Num; declared-or-observed for Char). */
case class XptColumn(name: String, label: String, isNumeric: Boolean, length: Int)

/**
 * K1 — SAS Transport (XPORT) Version 5 writer, from the public TS-140 spec.
 * The reference delegates to the `xportrs` crate (`crates/tss-submit/src/
 * export/xpt.rs:16-152`); this is a clean-room implementation of the same
 * container: 80-byte header records, 140-byte big-endian NAMESTRs, IBM
 * hex-float numerics, space-padded fixed-width rows.
 *
 * Scale note: rows are encoded in the executors, one part file per
 * partition, and assembled into the single member file on the driver
 * ([[PartFiles]]); the driver never holds the row bytes.
 */
object XptWriter {

  private val SasVersion = "9.4     "
  private val SasOs = "LIN     "

  private def pad(s: String, len: Int): String =
    if (s.length >= len) s.substring(0, len) else s + " " * (len - s.length)

  private def sasDate(dt: LocalDateTime): String =
    dt.format(DateTimeFormatter.ofPattern("ddMMMyy:HH:mm:ss", Locale.ENGLISH))
      .toUpperCase(Locale.ENGLISH)

  private def headerRecord(kind: String, middle: String = "0" * 30): Array[Byte] =
    pad(s"HEADER RECORD*******${pad(kind, 8)}HEADER RECORD!!!!!!!$middle", 80)
      .getBytes(StandardCharsets.US_ASCII)

  private def writeShort(out: Array[Byte], off: Int, v: Int): Unit = {
    out(off) = ((v >> 8) & 0xFF).toByte
    out(off + 1) = (v & 0xFF).toByte
  }

  private def writeInt(out: Array[Byte], off: Int, v: Int): Unit = {
    out(off) = ((v >> 24) & 0xFF).toByte
    out(off + 1) = ((v >> 16) & 0xFF).toByte
    out(off + 2) = ((v >> 8) & 0xFF).toByte
    out(off + 3) = (v & 0xFF).toByte
  }

  private def writeAscii(out: Array[Byte], off: Int, s: String, len: Int): Unit = {
    val b = pad(s, len).getBytes(StandardCharsets.US_ASCII)
    System.arraycopy(b, 0, out, off, len)
  }

  /** 140-byte NAMESTR record (TS-140 layout, big-endian). */
  private def namestr(c: XptColumn, varNum: Int, pos: Int): Array[Byte] = {
    val out = new Array[Byte](140)
    java.util.Arrays.fill(out, ' '.toByte)
    writeShort(out, 0, if (c.isNumeric) 1 else 2) // ntype
    writeShort(out, 2, 0)                         // nhfun
    writeShort(out, 4, c.length)                  // nlng
    writeShort(out, 6, varNum)                    // nvar0
    writeAscii(out, 8, c.name.toUpperCase(Locale.ROOT), 8) // nname
    writeAscii(out, 16, c.label, 40)              // nlabel
    writeAscii(out, 56, "", 8)                    // nform
    writeShort(out, 64, 0); writeShort(out, 66, 0); writeShort(out, 68, 0)
    writeAscii(out, 70, "", 2)                    // nfill
    writeAscii(out, 72, "", 8)                    // niform
    writeShort(out, 80, 0); writeShort(out, 82, 0)
    writeInt(out, 84, pos)                        // npos
    java.util.Arrays.fill(out, 88, 140, ' '.toByte)
    out
  }

  /** Library + member + NAMESTR + OBS header records — everything before
    * the row bytes. */
  private def writeHeaders(out: OutputStream, dsName: String, dsLabel: String,
      columns: Seq[XptColumn], created: LocalDateTime): Unit = {
    val date = sasDate(created)

    out.write(headerRecord("LIBRARY "))
    val lib1 = new Array[Byte](80)
    java.util.Arrays.fill(lib1, ' '.toByte)
    writeAscii(lib1, 0, "SAS", 8); writeAscii(lib1, 8, "SAS", 8)
    writeAscii(lib1, 16, "SASLIB", 8)
    writeAscii(lib1, 24, SasVersion, 8); writeAscii(lib1, 32, SasOs, 8)
    writeAscii(lib1, 64, date, 16)
    out.write(lib1)
    val lib2 = new Array[Byte](80)
    java.util.Arrays.fill(lib2, ' '.toByte)
    writeAscii(lib2, 0, date, 16)
    out.write(lib2)

    // TS-140 member header: 17 zeros, "16", 8 zeros, "140", 2 spaces —
    // exactly 32 chars (one stray zero here shifts the namestr-size field
    // and strict readers reject the file)
    out.write(headerRecord("MEMBER  ", "0" * 17 + "16" + "0" * 8 + "140  "))
    out.write(headerRecord("DSCRPTR "))
    val mem1 = new Array[Byte](80)
    java.util.Arrays.fill(mem1, ' '.toByte)
    writeAscii(mem1, 0, "SAS", 8)
    writeAscii(mem1, 8, dsName.toUpperCase(Locale.ROOT), 8)
    writeAscii(mem1, 16, "SASDATA", 8)
    writeAscii(mem1, 24, SasVersion, 8); writeAscii(mem1, 32, SasOs, 8)
    writeAscii(mem1, 64, date, 16)
    out.write(mem1)
    val mem2 = new Array[Byte](80)
    java.util.Arrays.fill(mem2, ' '.toByte)
    writeAscii(mem2, 0, date, 16)
    writeAscii(mem2, 32, dsLabel, 40)
    out.write(mem2)

    out.write(headerRecord("NAMESTR ", "0" * 6 + f"${columns.size}%04d" + "0" * 20))
    var pos = 0
    columns.zipWithIndex.foreach { case (c, i) =>
      out.write(namestr(c, i + 1, pos))
      pos += c.length
    }
    val namestrBytes = columns.size * 140
    val namestrPad = (80 - namestrBytes % 80) % 80
    if (namestrPad > 0) out.write((" " * namestrPad).getBytes(StandardCharsets.US_ASCII))

    out.write(headerRecord("OBS     "))
  }

  /** Space-pad the data section to an 80-byte record boundary (TS-140). */
  private def writeTailPad(out: OutputStream, dataBytes: Long): Unit = {
    val tailPad = ((80 - dataBytes % 80) % 80).toInt
    if (tailPad > 0) out.write((" " * tailPad).getBytes(StandardCharsets.US_ASCII))
  }

  /** Encode one Spark Row (schema aligned with `colArr`) into `buf`:
    * numerics as IBM doubles (null → missing, strings parsed), chars
    * space-padded or truncated to their length. Runs in the EXECUTORS;
    * range failures carry the variable name and offending value (the
    * global row number isn't known partition-side). */
  private def encodeRowInto(r: Row, colArr: Array[XptColumn], buf: Array[Byte]): Unit = {
    var off = 0
    var i = 0
    while (i < colArr.length) {
      val c = colArr(i)
      if (c.isNumeric) {
        val d =
          if (r.isNullAt(i)) Double.NaN
          else r.get(i) match {
            case x: Double => x
            case x: Number => x.doubleValue()
            case s: String => Numerics.parse(s).getOrElse(Double.NaN)
            case _ => Double.NaN
          }
        try IbmFloat.toIbmBytesInto(d, buf, off)
        catch {
          case e: IllegalArgumentException =>
            throw new IllegalArgumentException(
              s"XPT write failed at variable ${c.name}, value $d: ${e.getMessage}", e)
        }
      } else {
        val s = if (r.isNullAt(i)) "" else String.valueOf(r.get(i))
        val b = s.getBytes(StandardCharsets.US_ASCII)
        java.util.Arrays.fill(buf, off, off + c.length, ' '.toByte)
        System.arraycopy(b, 0, buf, off, math.min(b.length, c.length))
      }
      off += c.length
      i += 1
    }
  }

  /**
   * Column metadata for a DataFrame: numeric Spark types → Num(8); strings →
   * Char with declared length or max observed trimmed byte length, min 1
   * (`export/common.rs:83-119`). Observed lengths come from
   * [[XmlSinks.varStats]] — the same numbers Define-XML declares — and
   * that aggregate runs only when some char column has no declared length.
   */
  def columnsFor(df: DataFrame, labels: Map[String, String] = Map.empty,
      declaredLengths: Map[String, Int] = Map.empty): Seq[XptColumn] = {
    val charCols = df.schema.fields.filter {
      f => !f.dataType.isInstanceOf[NumericType] && !declaredLengths.contains(f.name)
    }.map(_.name)
    val observed = XmlSinks.varStats(df, charCols.toSeq)
    df.schema.fields.map { f =>
      val numeric = f.dataType.isInstanceOf[NumericType]
      val len =
        if (numeric) 8
        else declaredLengths.getOrElse(f.name,
          math.max(observed.get(f.name).fold(0)(_.maxLength), 1))
      XptColumn(f.name, labels.getOrElse(f.name, f.name), numeric, len)
    }.toSeq
  }

  /** Write a DataFrame as one XPT member file. Numeric parity: integral
    * doubles and longs share the same IBM encoding; `--SEQ` longs become
    * doubles exactly as the reference casts at write (`xpt.rs:100-120`).
    * Rows are encoded in the executors and assembled behind the headers
    * by [[PartFiles.assemble]] (same reachability note there). */
  def writeDataFrame(df: DataFrame, path: String, dsName: String, dsLabel: String,
      labels: Map[String, String] = Map.empty,
      declaredLengths: Map[String, Int] = Map.empty): Seq[XptColumn] = {
    val cols = columnsFor(df, labels, declaredLengths)
    val colArr = cols.toArray
    val rowLen = colArr.map(_.length).sum
    PartFiles.assemble(df.rdd, path,
      head = writeHeaders(_, dsName, dsLabel, cols, LocalDateTime.of(2020, 1, 1, 0, 0, 0)),
      tail = (out, rows) => writeTailPad(out, rows * rowLen)) { (rows, out) =>
      val buf = new Array[Byte](rowLen)
      var n = 0L
      while (rows.hasNext) {
        encodeRowInto(rows.next(), colArr, buf)
        out.write(buf)
        n += 1
      }
      n
    }
    cols
  }
}
