package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Bucketed-table helpers: co-locate repeatedly-joined tables on their join
 * key at WRITE time so every subsequent join/aggregation on that key runs
 * shuffle-free. At 100 TB this converts the dominant cost of a fact-fact
 * join (two full shuffles) into a local sort-merge per bucket pair — the
 * single highest-leverage physical design choice for a recurring pipeline.
 *
 * Spark requires bucketed data to live in the catalog (`saveAsTable`);
 * bucket counts must match on both sides for the shuffle to be elided.
 */
object Bucketing {

  /** Write a DataFrame as a bucketed+sorted catalog table. */
  def writeBucketed(df: DataFrame, tableName: String, key: String,
      numBuckets: Int, sortCols: Seq[String] = Nil): Unit = {
    val sorted = if (sortCols.isEmpty) Seq(key) else sortCols
    df.write
      .mode("overwrite")
      .bucketBy(numBuckets, key)
      .sortBy(sorted.head, sorted.tail: _*)
      .format("parquet")
      .saveAsTable(tableName)
  }

  /** Join two same-bucketed tables on their bucket key — with matching
    * bucket counts the planner elides both shuffle exchanges. */
  def bucketedJoin(spark: SparkSession, left: String, right: String,
      key: String): DataFrame =
    spark.table(left).join(spark.table(right), key)

  /**
   * P131 — small-file compaction planner (next-fit bin packing): assign
   * id-ordered files to output bins so each bin holds ~`targetBytes` —
   * the remedy for the small-files problem that turns a 100 TB table of
   * million-row parquet shards into footer-scan hell. Next-fit: a file
   * opens a new bin exactly when the running total has reached the
   * target, so a bin overflows by at most one file (the deterministic,
   * single-pass discipline; best-fit would need per-bin state). Returns
   * the input + (bin, bin_bytes, bin_files); id order preserves any
   * natural locality (time-ordered ingest files stay adjacent).
   *
   * Shape: one cumulative window in id order (exact integer bytes — the
   * sa6 monotone-prefix rule, negative sizes fail loudly) and one
   * windowed total per bin. The id-order window is global (o5 caveat:
   * real compaction planners run per table partition — partition the
   * window by the table-partition key at scale, same arithmetic).
   */
  def compactionPlan(files: DataFrame, idCol: String, sizeCol: String,
      targetBytes: Long): DataFrame = {
    require(targetBytes >= 1L,
      s"compactionPlan: targetBytes must be >= 1, got $targetBytes")
    val w = org.apache.spark.sql.expressions.Window.orderBy(col(idCol).asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val sz = when(col(sizeCol) < 0,
      raise_error(concat(lit("compactionPlan: negative size at "),
        col(idCol).cast("string"))).cast("long"))
      .otherwise(col(sizeCol).cast("long"))
    val wb = org.apache.spark.sql.expressions.Window.partitionBy(col("bin"))
    files
      .withColumn("__cum", sum(sz).over(w))
      // the bin that was OPEN when this file arrived: prior bytes div target
      .withColumn("bin", expr(s"(__cum - `$sizeCol`) div ${targetBytes}L"))
      .withColumn("bin_bytes", sum(col(sizeCol).cast("long")).over(wb))
      .withColumn("bin_files", count(lit(1)).over(wb))
      .drop("__cum")
  }

  /**
   * P137 — zone-map effectiveness audit: lay the table out in
   * `orderCols` order, cut it into `rowsPerFile`-row files, and report
   * each file's min/max band for `valueCol` plus `overlaps` — how many
   * OTHER files' bands intersect it. Zone maps (parquet row-group
   * min/max) prune a point/range predicate exactly when bands don't
   * overlap: `overlaps ≈ 0` means the layout clusters the column and
   * scans skip, `overlaps ≈ nFiles` means zone maps are useless for it.
   * Run it for the sort column and for a candidate predicate column
   * before choosing a table's layout — THE physical-design question at
   * 100 TB, answered from a sample instead of folklore.
   *
   * Shape: one row_number window in layout order (o5 global-order
   * caveat — at scale the audit runs per table partition), one tiny
   * per-file aggregate (n/rowsPerFile rows), and a broadcast self-join
   * on band intersection over that file frame (file counts are
   * thousands, not rows). Bands are exact data values — no arithmetic,
   * no rounding, engine-identical.
   */
  def zoneMapAudit(df: DataFrame, orderCols: Seq[String], valueCol: String,
      rowsPerFile: Int): DataFrame = {
    require(orderCols.nonEmpty, "zoneMapAudit: orderCols must be non-empty")
    require(rowsPerFile >= 1,
      s"zoneMapAudit: rowsPerFile must be >= 1, got $rowsPerFile")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(orderCols.map(col(_).asc): _*)
    val perFile = df
      .where(col(valueCol).isNotNull)
      .withColumn("__rn", row_number().over(w))
      .withColumn("file_id", expr(s"(__rn - 1) div ${rowsPerFile}L"))
      .groupBy(col("file_id"))
      .agg(count(lit(1)).as("n_rows"),
        min(col(valueCol)).as("lo"), max(col(valueCol)).as("hi"))
    val other = perFile.select(col("file_id").as("__f2"),
      col("lo").as("__lo2"), col("hi").as("__hi2"))
    perFile.join(broadcast(other),
        col("file_id") =!= col("__f2") &&
          col("lo") <= col("__hi2") && col("__lo2") <= col("hi"),
        "left")
      .groupBy(col("file_id"), col("n_rows"), col("lo"), col("hi"))
      .agg(sum(when(col("__f2").isNotNull, 1L).otherwise(0L))
        .cast("long").as("overlaps"))
  }

  /**
   * P167 — zone-map prune simulation: for each predicate range
   * [p_lo, p_hi] in a workload, how many files of a candidate layout
   * must actually be read (file band intersects the range) and what
   * fraction of the table that is — [[zoneMapAudit]] answered "does
   * this layout cluster the column"; this answers the money question,
   * "what will MY queries scan". Run per candidate layout, pick the
   * cheapest — physical design as a query instead of a migration
   * gamble.
   *
   * Shapes: both frames are metadata-sized (files, predicates); one
   * broadcast non-equi join + keyed agg + 1-row total (the z5 band
   * class). Bands/bounds are exact data values — no arithmetic beyond
   * the closing division.
   */
  def pruneSimulation(fileBands: DataFrame,
      predicates: DataFrame): DataFrame = {
    val nf = fileBands.agg(count(lit(1)).as("n_files"))
    predicates
      .join(broadcast(fileBands.select(col("file_id"), col("lo"), col("hi"))),
        col("lo") <= col("p_hi") && col("p_lo") <= col("hi"), "left")
      .groupBy(col("pred_id"), col("p_lo"), col("p_hi"))
      .agg(sum(when(col("file_id").isNotNull, 1L).otherwise(0L))
        .cast("long").as("n_scanned"))
      .join(broadcast(nf)) // 1-row scalar side
      .withColumn("scan_frac",
        round(col("n_scanned").cast("double") /
          greatest(col("n_files"), lit(1L)).cast("double"), 6))
  }

  /**
   * P342 — layout comparison for zone-map pruning: [[zoneMapAudit]] run
   * under SEVERAL candidate sort orders and folded to one line each —
   * (layout, n_files, files_disjoint, avg_overlaps, share_disjoint),
   * where "disjoint" means no other file's band intersects (a point
   * predicate on `valueCol` reads exactly one file). This is the
   * physical-design decision TABLE: at 100 TB you pick the table's sort
   * order once, from a sample, and this readout is the side-by-side the
   * choice should come from rather than folklore ("sort by date" loses
   * to z-order the moment a second predicate column matters — measure).
   *
   * Shape: one [[zoneMapAudit]] per candidate (file-count-sized frames
   * throughout), one fold each, a k-row union. Counts exact; the two
   * ratios are single double divisions rounded at 6.
   */
  def layoutPruneCompare(df: DataFrame, layouts: Seq[(String, Seq[String])],
      valueCol: String, rowsPerFile: Int): DataFrame = {
    require(layouts.nonEmpty, "layoutPruneCompare: no layouts")
    require(layouts.map(_._1).distinct.size == layouts.size,
      s"layoutPruneCompare: duplicate layout names in ${layouts.map(_._1)}")
    layouts.map { case (name, ord) =>
      zoneMapAudit(df, ord, valueCol, rowsPerFile)
        .agg(count(lit(1)).as("n_files"),
          coalesce(sum(when(col("overlaps") === 0, 1L).otherwise(0L)),
            lit(0L)).as("files_disjoint"),
          sum(col("overlaps")).as("__ov"))
        .select(lit(name).as("layout"), col("n_files"),
          col("files_disjoint"),
          round(col("__ov").cast("double") /
            greatest(col("n_files"), lit(1L)).cast("double"), 6)
            .as("avg_overlaps"),
          round(col("files_disjoint").cast("double") /
            greatest(col("n_files"), lit(1L)).cast("double"), 6)
            .as("share_disjoint"))
    }.reduce(_.unionByName(_))
  }
}
