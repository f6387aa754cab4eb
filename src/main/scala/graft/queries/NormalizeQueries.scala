package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Graft.table
import graft.expressions.CtIndex
import graft.operators.Normalize

/**
 * Normalization-operator coverage (SURVEY §2.2 N1-N10) exercised over the
 * testdata tables. Inputs are derived deterministically (date strings
 * formatted out of `o_orderdate`, numerics with thousands separators built
 * by concat) so a plain-SQL DuckDB oracle can state the expected output
 * without reimplementing the parser cascade.
 */
object NormalizeQueries {

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // N1 — constant columns (STUDYID / DOMAIN)
    "n1_constant" -> ((s, dir) => {
      table(s, dir, "nation")
        .select(Normalize.constant("GRAFT").as("studyid"),
          Normalize.constant("DM").as("domain"),
          col("n_nationkey"))
        .orderBy("n_nationkey")
    }),

    // N2 — USUBJID prefix; every 10th subject blanked to pin the
    // empty-stays-empty rule (executor.rs:124-174)
    "n2_usubjid" -> ((s, dir) => {
      val c = table(s, dir, "customer")
      val subj = when(col("c_custkey") % 10 === 0, lit(" ")).otherwise(col("c_name"))
      c.select(col("c_custkey"), Normalize.usubjid("GRAFT", subj).as("usubjid"))
        .orderBy("c_custkey")
    }),

    // N3 — per-subject sequence numbers in stable source order
    "n3_seq" -> ((s, dir) => {
      val o = table(s, dir, "orders")
      o.select(col("o_orderkey"), col("o_custkey"),
          Normalize.seqNumber(col("o_custkey"), col("o_orderkey")).as("seq"))
        .orderBy("o_orderkey")
    }),

    // N4 — ISO-8601 datetime cascade over four unambiguous source formats
    // plus a month/year partial (precision must be preserved)
    "n4_iso_datetime" -> ((s, dir) => {
      val o = table(s, dir, "orders")
      val base = o.select(col("o_orderkey"),
        date_format(col("o_orderdate"), "dd/MM/yyyy").as("eur"),
        date_format(col("o_orderdate"), "dd.MM.yyyy").as("de"),
        date_format(col("o_orderdate"), "dd MMM yyyy").as("txt"),
        date_format(col("o_orderdate"), "yyyyMMdd").as("cmp"),
        date_format(col("o_orderdate"), "MM/yyyy").as("ym"))
      base.select(col("o_orderkey"),
          Normalize.iso8601(col("eur")).as("d_eur"),
          Normalize.iso8601(col("de")).as("d_de"),
          Normalize.iso8601(col("txt")).as("d_txt"),
          Normalize.iso8601(col("cmp")).as("d_cmp"),
          Normalize.iso8601(col("ym")).as("d_ym"))
        .orderBy("o_orderkey")
    }),

    // N6 — ISO duration: integer days, fractional days, and text grammar
    "n6_duration" -> ((s, dir) => {
      val li = table(s, dir, "lineitem").where(col("l_linenumber") <= 7)
      li.select(col("l_orderkey"), col("l_linenumber"),
          Normalize.isoDuration(col("l_linenumber").cast("string")).as("dur_days"),
          Normalize.isoDuration(concat(col("l_linenumber").cast("string"), lit(".5"))).as("dur_frac"),
          Normalize.isoDuration(concat(col("l_linenumber").cast("string"), lit(" days 12 hours"))).as("dur_text"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // N7 — study day vs a scalar reference date (no day 0)
    "n7_studyday" -> ((s, dir) => {
      val o = table(s, dir, "orders")
      o.select(col("o_orderkey"),
          Normalize.studyDay(date_format(col("o_orderdate"), "yyyy-MM-dd"),
            Some("1995-06-17")).as("dy"))
        .orderBy("o_orderkey")
    }),

    // N8 — controlled-terminology normalization with synonyms; misses
    // preserve the original value
    "n8_ct" -> ((s, dir) => {
      val lookup = CtIndex.adHoc(Map(
        "AFRICA" -> "AFR", "AMERICA" -> "AMER", "ASIA" -> "ASIA",
        "EUROPE" -> "EUR", "THE AMERICAS" -> "AMER"))
      val r = table(s, dir, "region")
      r.select(col("r_regionkey"),
          Normalize.ctTerm(col("r_name"), lookup).as("r_ct"))
        .orderBy("r_regionkey")
    }),

    // N9 — numeric conversion: thousands separators stripped, strict parse
    "n9_numeric" -> ((s, dir) => {
      val o = table(s, dir, "orders")
      val withSep = concat((col("o_orderkey") % 900 + 100).cast("string"), lit(","),
        lpad((col("o_custkey") % 1000).cast("string"), 3, "0"))
      o.select(col("o_orderkey"),
          Normalize.numeric(withSep).as("parsed"),
          Normalize.numeric(lit("not-a-number")).as("bad"))
        .orderBy("o_orderkey")
    }),

    // N10 — copy-direct stringification: floats render without trailing
    // zeros (40.0 -> "40"), the format_numeric parity case
    "n10_copy" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          (col("l_quantity") / 2.0).as("halfqty"))
      li.select(col("l_orderkey"), col("l_linenumber"),
          Normalize.copyDirect(li, "halfqty").as("halfqty_txt"))
        .orderBy("l_orderkey", "l_linenumber")
    })
  )

  val oracles: Map[String, String] = Map(
    "n1_constant" ->
      "SELECT 'GRAFT' AS studyid, 'DM' AS domain, n_nationkey FROM nation ORDER BY n_nationkey",

    "n2_usubjid" ->
      """SELECT c_custkey,
        |  CASE WHEN trim(input) = '' THEN '' ELSE 'GRAFT-' || trim(input) END AS usubjid
        |FROM (SELECT c_custkey,
        |        CASE WHEN c_custkey % 10 = 0 THEN ' ' ELSE c_name END AS input
        |      FROM customer)
        |ORDER BY c_custkey""".stripMargin,

    "n3_seq" ->
      """SELECT o_orderkey, o_custkey,
        |  ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS seq
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "n4_iso_datetime" ->
      """SELECT o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS d_eur,
        |  strftime(o_orderdate, '%Y-%m-%d') AS d_de,
        |  strftime(o_orderdate, '%Y-%m-%d') AS d_txt,
        |  strftime(o_orderdate, '%Y-%m-%d') AS d_cmp,
        |  strftime(o_orderdate, '%Y-%m') AS d_ym
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "n6_duration" ->
      """SELECT l_orderkey, l_linenumber,
        |  'P' || CAST(l_linenumber AS VARCHAR) || 'D' AS dur_days,
        |  'P' || CAST(l_linenumber AS VARCHAR) || 'DT12H' AS dur_frac,
        |  'P' || CAST(l_linenumber AS VARCHAR) || 'DT12H' AS dur_text
        |FROM lineitem WHERE l_linenumber <= 7
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "n7_studyday" ->
      """SELECT o_orderkey,
        |  CASE WHEN d >= 0 THEN d + 1 ELSE d END AS dy
        |FROM (SELECT o_orderkey,
        |        CAST(date_diff('day', DATE '1995-06-17', CAST(o_orderdate AS DATE)) AS INT) AS d
        |      FROM orders)
        |ORDER BY o_orderkey""".stripMargin,

    "n8_ct" ->
      """SELECT r_regionkey,
        |  CASE upper(trim(r_name))
        |    WHEN 'AFRICA' THEN 'AFR' WHEN 'AMERICA' THEN 'AMER'
        |    WHEN 'ASIA' THEN 'ASIA' WHEN 'EUROPE' THEN 'EUR'
        |    WHEN 'THE AMERICAS' THEN 'AMER'
        |    ELSE trim(r_name) END AS r_ct
        |FROM region ORDER BY r_regionkey""".stripMargin,

    "n9_numeric" ->
      """SELECT o_orderkey,
        |  CAST(replace(CAST(o_orderkey % 900 + 100 AS VARCHAR) || ',' ||
        |       lpad(CAST(o_custkey % 1000 AS VARCHAR), 3, '0'), ',', '') AS DOUBLE) AS parsed,
        |  CAST(NULL AS DOUBLE) AS bad
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "n10_copy" ->
      """SELECT l_orderkey, l_linenumber,
        |  CASE WHEN halfqty = floor(halfqty)
        |       THEN CAST(CAST(halfqty AS BIGINT) AS VARCHAR)
        |       ELSE rtrim(rtrim(CAST(halfqty AS VARCHAR), '0'), '.') END AS halfqty_txt
        |FROM (SELECT l_orderkey, l_linenumber, l_quantity / 2.0 AS halfqty FROM lineitem)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin
  )
}
