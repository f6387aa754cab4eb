package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Graft.{table, txt}
import graft.expressions.CtIndex
import graft.operators.Validate

/**
 * Validation-operator coverage (SURVEY §2.5 V1-V8, §2.6 X1-X5) over the
 * testdata. Dirty inputs are derived deterministically (key-modulo blanking,
 * malformed date spellings) so the DuckDB oracle can state expectations in
 * plain SQL. All per-domain checks are single-scan aggregates; cross-domain
 * checks are anti-joins — the shapes that hold at 100 TB.
 */
object ValidateQueries {

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // V1/V2/V7 — required/expected/identifier population: blank-vs-null
    // equivalence in one fused scan
    "v1_population" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      val lang = when(col("doc_id") % 7 === 0, lit(""))
        .when(col("doc_id") % 11 === 0, lit(null))
        .otherwise(col("lang"))
      d.select(col("doc_id"), lang.as("lang_dirty"), col("source"))
        .agg(
          count(lit(1)).as("n_rows"),
          Validate.blankCount(col("lang_dirty")).as("n_blank"),
          Validate.nonBlankCount(col("lang_dirty")).as("n_nonblank"),
          Validate.blankCount(col("source")).as("n_source_blank"))
    }),

    // V3 — numeric-type conformance with 5 deterministic samples
    "v3_datatype" -> ((s, dir) => {
      val o = table(s, dir, "orders")
      val v = when(col("o_orderkey") % 5 === 0, lit("abc"))
        .when(col("o_orderkey") % 5 === 1, lit("1,234"))
        .otherwise(col("o_totalprice").cast("string"))
      o.select(v.as("v")).agg(
        Validate.nonNumericCount(col("v")).as("n_bad"),
        count(lit(1)).as("n_rows"),
        array_join(Validate.samples(col("v"), Validate.nonNumeric(col("v"))), ",").as("sample_bad"))
    }),

    // V4 — anchored ISO-8601 conformance (partial precision allowed,
    // ranges validated)
    "v4_iso_dates" -> ((s, dir) => {
      val o = table(s, dir, "orders")
      val v = when(col("o_orderkey") % 4 === 0, date_format(col("o_orderdate"), "yyyy-MM-dd"))
        .when(col("o_orderkey") % 4 === 1, date_format(col("o_orderdate"), "yyyy/MM/dd"))
        .when(col("o_orderkey") % 4 === 2, date_format(col("o_orderdate"), "yyyy-MM"))
        .otherwise(lit("2024-13-40"))
      o.select(v.as("dtc"))
        .agg(
          Validate.nonIsoDateCount(col("dtc")).as("n_bad"),
          count(lit(1)).as("n_rows"))
    }),

    // V5 — duplicate --SEQ within a subject: sum of surplus rows
    "v5_seq_dup" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
        .select(col("l_orderkey").cast("string").as("subj"),
          (col("l_linenumber") % 3).as("seq"))
      Validate.duplicateSeqCount(li, "subj", "seq")
    }),

    // V6 — declared text length violations + max observed
    "v6_length" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      d.agg(
        Validate.lengthViolations(col("text"), 400).as("n_over"),
        Validate.maxObservedLength(col("text")).as("max_len"))
    }),

    // V8 — controlled-terminology membership: distinct unresolvable values
    "v8_ct_invalid" -> ((s, dir) => {
      val allowed = CtIndex.adHoc(Seq("CLICK", "VIEW", "PURCHASE", "SIGNUP").map(t => t -> t).toMap)
      Validate.invalidCtValues(table(s, dir, "events"), col("event_type"), allowed)
        .orderBy("v")
    }),

    // X1 — subject referential integrity (left_anti vs distinct DM keys)
    "x1_orphan_subjects" -> ((s, dir) => {
      val orders = table(s, dir, "orders")
        .select(col("o_custkey").cast("string").as("usubjid"), col("o_orderkey"))
      val dm = table(s, dir, "customer")
        .where(col("c_custkey") % 3 =!= 0)
        .select(col("c_custkey").cast("string").as("usubjid"))
      Validate.orphanSubjects(orders, dm, "usubjid")
        .agg(count(lit(1)).as("n_orphan_rows"),
          countDistinct(col("usubjid")).as("n_orphan_subjects"))
    }),

    // X2 — RDOMAIN must name a submitted domain
    "x2_rdomain" -> ((s, dir) => {
      val ev = table(s, dir, "events")
      Validate.invalidRdomain(ev, "event_type", Seq("click", "view", "signup", "purchase"))
        .groupBy(upper(txt(col("event_type"))).as("rdomain"))
        .agg(count(lit(1)).as("n_rows"))
        .orderBy("rdomain")
    }),

    // X3 — bidirectional pair check (self anti-join on swapped keys)
    "x3_reciprocal" -> ((s, dir) => {
      val pairs = table(s, dir, "lineitem")
        .select((col("l_suppkey") % 7).cast("string").as("usubjid"),
          (col("l_partkey") % 11).cast("string").as("rsubjid"))
        .where(col("usubjid") =!= col("rsubjid"))
      Validate.missingReciprocal(pairs, "usubjid", "rsubjid")
        .orderBy("usubjid", "rsubjid")
    }),

    // X4 — parent chain: non-empty PARENT must be a REFID of the same subject
    "x4_parent_chain" -> ((s, dir) => {
      val d = table(s, dir, "lineitem")
        .select(col("l_orderkey").cast("string").as("usubjid"),
          col("l_linenumber").cast("string").as("refid"),
          when(col("l_linenumber") > 1, (col("l_linenumber") - 1).cast("string"))
            .otherwise(lit("6")).as("parent"))
      Validate.brokenParentChain(d, "usubjid", "parent", "refid").distinct()
        .agg(count(lit(1)).as("n_broken"),
          countDistinct(col("usubjid")).as("n_subjects"))
    }),

    // X5 — RELREC record references against a union key table
    "x5_record_refs" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
      val o = table(s, dir, "orders")
      val keys = Validate.relrecKeyTable(Map(
        "AE" -> (li, Seq("l_orderkey")),
        "VS" -> (o, Seq("o_orderkey"))))
      val refs = li.select(
        when(col("l_linenumber") % 2 === 0, lit("AE")).otherwise(lit("VS")).as("rdomain"),
        when(col("l_linenumber") % 2 === 0, lit("L_ORDERKEY")).otherwise(lit("O_ORDERKEY")).as("idvar"),
        (col("l_orderkey") * 2).cast("string").as("idvarval"))
      Validate.danglingRecordRefs(refs, keys)
        .groupBy(col("rdomain"))
        .agg(count(lit(1)).as("n_dangling"),
          countDistinct(col("idvarval")).as("n_values"))
        .orderBy("rdomain")
    })
  )

  val oracles: Map[String, String] = Map(
    "v1_population" ->
      """SELECT COUNT(*) AS n_rows,
        |  CAST(SUM(CASE WHEN trim(coalesce(lang_dirty,'')) = '' THEN 1 ELSE 0 END) AS BIGINT) AS n_blank,
        |  CAST(SUM(CASE WHEN trim(coalesce(lang_dirty,'')) = '' THEN 0 ELSE 1 END) AS BIGINT) AS n_nonblank,
        |  CAST(SUM(CASE WHEN trim(coalesce(source,'')) = '' THEN 1 ELSE 0 END) AS BIGINT) AS n_source_blank
        |FROM (SELECT CASE WHEN doc_id % 7 = 0 THEN ''
        |                  WHEN doc_id % 11 = 0 THEN NULL
        |                  ELSE lang END AS lang_dirty, source
        |      FROM documents)""".stripMargin,

    "v3_datatype" ->
      """WITH d AS (
        |  SELECT CASE WHEN o_orderkey % 5 = 0 THEN 'abc'
        |              WHEN o_orderkey % 5 = 1 THEN '1,234'
        |              ELSE CAST(o_totalprice AS VARCHAR) END AS v
        |  FROM orders),
        |bad AS (
        |  SELECT DISTINCT trim(v) AS bv FROM d
        |  WHERE trim(coalesce(v,'')) <> ''
        |    AND NOT regexp_matches(trim(v), '^[+-]?((\d+\.?\d*)|(\.\d+))([eE][+-]?\d+)?$')
        |  ORDER BY bv LIMIT 5)
        |SELECT
        |  (SELECT CAST(SUM(CASE WHEN trim(coalesce(v,'')) <> ''
        |     AND NOT regexp_matches(trim(v), '^[+-]?((\d+\.?\d*)|(\.\d+))([eE][+-]?\d+)?$')
        |     THEN 1 ELSE 0 END) AS BIGINT) FROM d) AS n_bad,
        |  (SELECT COUNT(*) FROM d) AS n_rows,
        |  (SELECT coalesce(string_agg(bv, ','), '') FROM bad) AS sample_bad""".stripMargin,

    "v4_iso_dates" ->
      """SELECT
        |  CAST(SUM(CASE WHEN trim(coalesce(dtc,'')) <> ''
        |    AND NOT regexp_matches(trim(dtc), '^\d{4}(-(0[1-9]|1[0-2])(-(0[1-9]|[12]\d|3[01])(T([01]\d|2[0-3]):[0-5]\d(:[0-5]\d(\.\d+)?)?)?)?)?$')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_bad,
        |  COUNT(*) AS n_rows
        |FROM (SELECT CASE WHEN o_orderkey % 4 = 0 THEN strftime(o_orderdate, '%Y-%m-%d')
        |                  WHEN o_orderkey % 4 = 1 THEN strftime(o_orderdate, '%Y/%m/%d')
        |                  WHEN o_orderkey % 4 = 2 THEN strftime(o_orderdate, '%Y-%m')
        |                  ELSE '2024-13-40' END AS dtc
        |      FROM orders)""".stripMargin,

    "v5_seq_dup" ->
      """SELECT CAST(coalesce(SUM(cnt - 1), 0) AS BIGINT) AS dup_rows,
        |  COUNT(*) AS dup_keys
        |FROM (SELECT CAST(l_orderkey AS VARCHAR) AS subj, l_linenumber % 3 AS seq,
        |        COUNT(*) AS cnt
        |      FROM lineitem GROUP BY 1, 2 HAVING COUNT(*) > 1)""".stripMargin,

    "v6_length" ->
      """SELECT
        |  CAST(SUM(CASE WHEN length(trim(coalesce(text,''))) > 400 THEN 1 ELSE 0 END) AS BIGINT) AS n_over,
        |  CAST(MAX(length(trim(coalesce(text,'')))) AS INT) AS max_len
        |FROM documents""".stripMargin,

    "v8_ct_invalid" ->
      """SELECT DISTINCT upper(trim(event_type)) AS v FROM events
        |WHERE upper(trim(event_type)) NOT IN ('CLICK','VIEW','PURCHASE','SIGNUP')
        |  AND trim(coalesce(event_type,'')) <> ''
        |ORDER BY v""".stripMargin,

    "x1_orphan_subjects" ->
      """SELECT COUNT(*) AS n_orphan_rows,
        |  COUNT(DISTINCT CAST(o_custkey AS VARCHAR)) AS n_orphan_subjects
        |FROM orders
        |WHERE NOT EXISTS (SELECT 1 FROM customer
        |                  WHERE c_custkey % 3 <> 0
        |                    AND CAST(c_custkey AS VARCHAR) = CAST(o_custkey AS VARCHAR))""".stripMargin,

    "x2_rdomain" ->
      """SELECT upper(trim(event_type)) AS rdomain, COUNT(*) AS n_rows
        |FROM events
        |WHERE trim(coalesce(event_type,'')) <> ''
        |  AND upper(trim(event_type)) NOT IN ('CLICK','VIEW','SIGNUP','PURCHASE')
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "x3_reciprocal" ->
      """WITH pairs AS (
        |  SELECT DISTINCT CAST(l_suppkey % 7 AS VARCHAR) AS usubjid,
        |         CAST(l_partkey % 11 AS VARCHAR) AS rsubjid
        |  FROM lineitem
        |  WHERE CAST(l_suppkey % 7 AS VARCHAR) <> CAST(l_partkey % 11 AS VARCHAR))
        |SELECT usubjid, rsubjid FROM pairs p
        |WHERE NOT EXISTS (SELECT 1 FROM pairs q
        |                  WHERE q.usubjid = p.rsubjid AND q.rsubjid = p.usubjid)
        |ORDER BY usubjid, rsubjid""".stripMargin,

    "x4_parent_chain" ->
      """WITH d AS (
        |  SELECT CAST(l_orderkey AS VARCHAR) AS usubjid,
        |         CAST(l_linenumber AS VARCHAR) AS refid,
        |         CASE WHEN l_linenumber > 1 THEN CAST(l_linenumber - 1 AS VARCHAR)
        |              ELSE '6' END AS parent
        |  FROM lineitem),
        |broken AS (
        |  SELECT DISTINCT usubjid, parent FROM d
        |  WHERE parent <> ''
        |    AND NOT EXISTS (SELECT 1 FROM d r
        |                    WHERE r.usubjid = d.usubjid AND r.refid = d.parent))
        |SELECT COUNT(*) AS n_broken, COUNT(DISTINCT usubjid) AS n_subjects FROM broken""".stripMargin,

    "x5_record_refs" ->
      """WITH keys AS (
        |  SELECT 'AE' AS rdomain, 'L_ORDERKEY' AS idvar,
        |         CAST(l_orderkey AS VARCHAR) AS idvarval FROM lineitem
        |  UNION
        |  SELECT 'VS', 'O_ORDERKEY', CAST(o_orderkey AS VARCHAR) FROM orders),
        |refs AS (
        |  SELECT CASE WHEN l_linenumber % 2 = 0 THEN 'AE' ELSE 'VS' END AS rdomain,
        |         CASE WHEN l_linenumber % 2 = 0 THEN 'L_ORDERKEY' ELSE 'O_ORDERKEY' END AS idvar,
        |         CAST(l_orderkey * 2 AS VARCHAR) AS idvarval
        |  FROM lineitem)
        |SELECT rdomain, COUNT(*) AS n_dangling, COUNT(DISTINCT idvarval) AS n_values
        |FROM refs r
        |WHERE NOT EXISTS (SELECT 1 FROM keys k
        |                  WHERE k.rdomain = r.rdomain AND k.idvar = r.idvar
        |                    AND k.idvarval = r.idvarval)
        |GROUP BY 1 ORDER BY 1""".stripMargin
  )
}
