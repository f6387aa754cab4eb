package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Session + table helpers shared by the engine, its mains and tests. */
object Graft {

  /** The one session recipe: every main and the test suite build their
    * session here. The default master takes its core count from
    * `SPARK_GRAFT_CPUS` (4 when unset), and shuffle partitions follow the
    * master's parallelism. On a real cluster the same conf minus `master`
    * applies; AQE handles skew-joins and shuffle-partition coalescing at
    * 100 TB. */
  def session(appName: String = "graft",
              master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]"): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // native expressions (graft_iso8601/graft_duration) on the SQL surface
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // events.parquet carries TIMESTAMP(NANOS); Spark has no nanos type —
      // read as long and rebuild micros in events() below.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.conf.set("spark.sql.shuffle.partitions",
      spark.sparkContext.defaultParallelism.toLong)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The session a study's plans run on: a clone of `spark`, so the
    * caller's session is never changed. `interpreted` plans without
    * whole-stage code generation and evaluates expressions interpreted;
    * otherwise the clone keeps `spark`'s conf. A study pass is mostly
    * fixed cost, and most of it Janino compiles that a study's few rows
    * never repay: one cold `clinical_study` pass over a generated EDC study
    * (perfbench `studygen.py`, 4-core VM) compiles 43 classes instead of
    * 257–270. Interpreted vs compiled wall time by the size of the study's
    * source files: 0.56 MB (150 subjects) −29 %, 5.6 MB (1,500) −14 %,
    * 16.7 MB (4,500) −3 % (3 pairs, 37.6 vs 38.7 s), 29.7 MB (8,000)
    * +12 % (3 pairs, 50.2 vs 44.7 s: export slower), 56 MB (15,000) +6 %.
    * Studies that large are not benchmarked yet: the workload is ROADMAP
    * direction 8(a), the size switch direction 10. */
  def studySession(spark: SparkSession, interpreted: Boolean): SparkSession = {
    val s = org.apache.spark.sql.GraftBridge.cloneSession(spark)
    if (interpreted) {
      s.conf.set("spark.sql.codegen.wholeStage", "false")
      s.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    }
    s
  }

  /** Load one testdata table (TESTDATA.md). The testdata files are
    * single-row-group parquet (one split, so map-side work before the
    * first exchange is single-core); the fanout fix for that lives in
    * [[parallelizeMap]] and is applied by the OPERATORS whose map side
    * is compute-heavy, not here — a global scan fanout was measured to
    * tax every plain-projection query ~0.1–0.3 s per table reference
    * (r11-opt bench, 298 queries regressed) for wins that only the
    * heavy operators see. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** Fan a frame out to the session's parallelism when (and only when)
    * its current planned partition count falls short — the map-side
    * parallelism guard HEAVY per-row operators (token explodes + hash
    * ladders, per-byte hex replays, md5 resample grids) apply to their
    * input. Self-limiting at scale: a production-sized input already
    * plans ≥ parallelism partitions and the call is a no-op, so this is
    * not a local-mode constant (guide §2.5, unsplittable small input).
    *
    * Deliberately NOT applied globally at [[table]]: an unconditional
    * scan fanout was measured (r11-opt full bench) to cost ~0.1–0.3 s
    * of exchange overhead PER TABLE REFERENCE on the ~300 queries whose
    * map side is a plain projection — column pruning gives each
    * consumer a distinct fanout subtree, so the exchanges don't reuse —
    * while only compute-heavy map sides win. The operators that own
    * such compute opt in here; everything else keeps exchange-free
    * scans. */
  def parallelizeMap(df: DataFrame): DataFrame = {
    // .rdd is illegal on a streaming frame — a future streaming caller
    // gets the unmodified frame, not an AnalysisException
    if (df.isStreaming) df
    else {
      val par = df.sparkSession.sparkContext.defaultParallelism
      if (df.rdd.getNumPartitions < par) df.repartition(par) else df
    }
  }

  /** The one place graft cuts lineage: runs `df` once, now, keeps its rows
    * at `MEMORY_AND_DISK`, and returns a frame whose logical plan is a
    * scan of those rows. The scan does NOT keep `df`'s output
    * partitioning: under AQE the executed plan reports
    * `UnknownPartitioning(0)` (and AQE may have coalesced the partitions),
    * so a join or aggregate on the key `df` was repartitioned by still
    * plans an exchange. The rows keep their RDD lineage, so a lost block is
    * recomputed rather than failing the query; the ContextCleaner frees
    * them once the frame is unreachable.
    *
    * When to call it: only on a frame that is node-, agg- or
    * sample-sized AND referenced more than once (iterative rounds,
    * frontiers, sweep frames), or on one that is expensive to derive.
    * An edge-sized frame that is merely re-referenced does not pay:
    * exchange reuse already serves repeated identical subtrees, and the
    * materialization job costs more than it saves (measured on the
    * pageRank degree join and the negative-sampling positives). A
    * builder that calls this runs a job at build time, so the plan-fact
    * gates see only the plan after the cut. */
  def materialize(df: DataFrame): DataFrame =
    org.apache.spark.sql.GraftBridge.persistedPlan(df)

  /** events table with `ts` normalized to a micros TimestampType (LTZ)
    * regardless of the physical parquet shape. The testdata has shipped
    * `ts` as TIMESTAMP(NANOS) (read as long via nanosAsLong) and as
    * Timestamp(isAdjustedToUTC=false, micros) (read as TIMESTAMP_NTZ) across
    * regenerations; downstream queries do epoch math (`unix_micros`,
    * `cast(... as bigint)`) that is NTZ-illegal, so all shapes funnel to LTZ
    * here — never patch the individual queries for a type drift. */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = table(spark, sfDir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // integer division: Column./ is DOUBLE division, and epoch nanos
        // (~1.7e18) exceed double's 53-bit mantissa — `div` keeps exact longs
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // session TZ is UTC, so the wall-clock reading equals the instant
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }

  /**
   * Empty-string ≙ null normal form used by every validation / normalization
   * operator: the reference treats null and "" interchangeably
   * (`crates/tss-submit/src/validate/column_reader.rs:93-107`).
   */
  def txt(c: Column): Column = trim(coalesce(c.cast("string"), lit("")))

  /** Null-or-blank predicate in the same normal form. */
  def isBlank(c: Column): Column = txt(c) === ""

  /** A source column by its exact name: `col` would parse the dot of a CSV
    * header such as `AE.TERM` as struct-field access. */
  def sourceCol(name: String): Column = col("`" + name.replace("`", "``") + "`")
}
