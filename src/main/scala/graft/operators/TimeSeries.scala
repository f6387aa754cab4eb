package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Graft

/**
 * Per-key rolling features over an ordered event stream — the feature-
 * engineering pass a training pipeline runs over clickstream/telemetry
 * tables before model training (lag deltas, short-horizon context windows,
 * lifetime counters).
 *
 * Everything is ONE window specification (partition by key, order by
 * time + tiebreaker) with per-column frames, so the whole feature set
 * costs a single hash shuffle on the key — the shape that scales to any
 * event volume. Rolling sums go through DECIMAL: a double sum's value
 * depends on addend order, and while one window frame is ordered, the
 * oracle's segment-tree accumulation would pair additions differently
 * (the CLAUDE.md money-sum rule applied to window frames).
 */
object TimeSeries {

  /**
   * P44 — rolling features per `keyCol`, ordered by (`tsCol`, `tieCol`):
   *
   *   - `delta`     — value minus the previous event's value (null on each
   *                   key's first event; exact double subtraction)
   *   - `prev_n`    — events in the trailing `lookback`-row frame
   *                   (exclusive of the current row)
   *   - `prev_mean` — decimal-summed mean of the frame, null when empty
   *   - `seq`       — 1-based lifetime event number of the key
   *
   * The tiebreaker column makes the order total — equal timestamps
   * otherwise leave lag/frames partition-order-dependent (the as-of-join
   * tie discipline).
   */
  def rollingFeatures(df: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, valueCol: String, lookback: Int): DataFrame = {
    require(lookback >= 1, s"rollingFeatures: lookback must be >= 1, got $lookback")
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol).asc, col(tieCol).asc)
    val frame = w.rowsBetween(-lookback.toLong, -1L)
    val dec: Column = col(valueCol).cast("decimal(18,6)")
    df.withColumn("delta", col(valueCol) - lag(col(valueCol), 1).over(w))
      .withColumn("prev_n", count(col(valueCol)).over(frame))
      .withColumn("prev_mean",
        when(col("prev_n") > 0,
          round((sum(dec).over(frame).cast("double") / col("prev_n")), 6)))
      .withColumn("seq", row_number().over(w))
  }

  /**
   * P78 — sequential funnel: for each key, the greedy earliest timestamp
   * chain through `steps` — t₁ = min ts of step 1, tₖ = min ts of step k
   * STRICTLY AFTER tₖ₋₁ — the ordered-subsequence match every product /
   * conversion analysis runs, and (in a training-data pipeline) the
   * session-trajectory filter ("users who actually completed X before
   * Y"). Returns one row per key that reached step 1:
   * (key, t_<step1>.., t_<stepK>.., funnel_depth), later steps null once
   * the chain breaks; greedy-earliest is the standard funnel semantics
   * and deterministic (mins only).
   *
   * Scale shape: step 1 is one keyed aggregation; each later step is a
   * left join back to the (pre-filtered, tiny-per-step) event stream plus
   * a re-aggregation — k−1 extra shuffles for a k-step funnel, all on the
   * key column, no windows over whole histories, no per-key collects.
   * Step names must be distinct (a repeated step would need rank-aware
   * matching, not min-chaining).
   */
  def funnel(events: DataFrame, keyCol: String, tsCol: String,
      typeCol: String, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnel: at least one step")
    require(steps.distinct.size == steps.size,
      s"funnel: steps must be distinct, got $steps")
    def tcol(s: String) = s"t_$s"
    var acc = events.where(col(typeCol) === steps.head)
      .groupBy(col(keyCol).as("key"))
      .agg(min(col(tsCol)).as(tcol(steps.head)))
    var prev = tcol(steps.head)
    for (s <- steps.tail) {
      val e = events.where(col(typeCol) === s)
        .select(col(keyCol).as("__k"), col(tsCol).as("__ts"))
      val carried = acc.columns.toSeq
      acc = acc.join(e, col("key") === col("__k") && col("__ts") > col(prev), "left")
        .groupBy(carried.map(col): _*)
        .agg(min(col("__ts")).as(tcol(s)))
      prev = tcol(s)
    }
    // deepest-first chained CASE; step 1 is always non-null for emitted
    // rows, so the chain is total without an otherwise
    val branches = steps.zipWithIndex.reverse
    var depth = when(col(tcol(branches.head._1)).isNotNull,
      lit(branches.head._2 + 1))
    for ((s, i) <- branches.tail)
      depth = depth.when(col(tcol(s)).isNotNull, lit(i + 1))
    acc.withColumn("funnel_depth", depth.cast("int"))
  }

  /**
   * P93 — truncated adjusted EWMA per key: the exponentially-weighted
   * mean over each row's trailing `lookback` observations in
   * (ts, tie) order,
   *
   *   ewma_i = Σ_{l<L} (1−α)^l·x_{i−l} / Σ_{l<L, present} (1−α)^l
   *
   * (pandas `ewm(adjust=True)` truncated at L) — the smoothed-signal
   * feature behind trend/novelty detection over event streams. The
   * recursive form s_i = α·x_i + (1−α)·s_{i−1} carries unbounded
   * history — un-expressible as a bounded window and numerically
   * explosive in its prefix-sum rewriting ((1−α)^{−i} overflows) — so
   * the bounded-lookback form IS the scale-safe semantics, with the
   * truncation error ≤ (1−α)^L of the oldest mass.
   *
   * Engine portability: the L weights are computed ONCE on the driver
   * and embedded as literals in the plan (and, via
   * [[ewmaWeightLiterals]], in an oracle's SQL text — a shortest
   * round-trip double literal parses back to the identical double
   * everywhere), so neither engine ever calls pow(); the weighted sum is
   * an explicit left-to-right chain of ≤L fused multiply-adds on
   * identical operands. One window shuffle keyed by `keyCol` for the
   * whole feature; early rows (rank < L) renormalize over the present
   * terms only.
   */
  def ewma(df: DataFrame, keyCol: String, tsCol: String, tieCol: String,
      valueCol: String, alpha: Double, lookback: Int): DataFrame = {
    require(alpha > 0 && alpha < 1, s"ewma: alpha must be in (0,1), got $alpha")
    require(lookback >= 1, s"ewma: lookback must be >= 1, got $lookback")
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol).asc, col(tieCol).asc)
    val weights = ewmaWeights(alpha, lookback)
    val terms = weights.zipWithIndex.map { case (wl, l) =>
      val xl = if (l == 0) col(valueCol) else lag(col(valueCol), l).over(w)
      (when(xl.isNotNull, lit(wl) * xl).otherwise(lit(0.0)),
        when(xl.isNotNull, lit(wl)).otherwise(lit(0.0)))
    }
    val num = terms.map(_._1).reduce(_ + _)
    val den = terms.map(_._2).reduce(_ + _)
    df.withColumn("ewma",
      when(den > 0, round(num / den, 6)))
  }

  /** The (1−α)^l weight ladder shared by [[ewma]] and its oracles. */
  def ewmaWeights(alpha: Double, lookback: Int): Seq[Double] =
    (0 until lookback).map(l => math.pow(1.0 - alpha, l))

  /** The same ladder as SQL double literals (shortest round-trip repr,
    * e0-suffixed when bare — DuckDB parses bare decimals as DECIMAL). */
  def ewmaWeightLiterals(alpha: Double, lookback: Int): Seq[String] =
    ewmaWeights(alpha, lookback).map { d =>
      val s = d.toString
      if (s.contains("E") || s.contains("e")) s else s + "e0"
    }

  /**
   * P80 — cohort retention matrix: keys are cohorted by the calendar
   * bucket of their FIRST event (bucket = epoch-micros div
   * `bucketMicros`), and each (cohort, offset) cell counts the distinct
   * keys active `offset` buckets after their cohort bucket — the
   * retention triangle every growth/engagement analysis reads, and (for
   * training data) the activity decay curve behind user-lifetime
   * sampling weights. Returns (cohort, bucket_offset, n_active,
   * n_cohort, retention) with retention = n_active/n_cohort rounded at
   * 6 decimals; offset 0 always exists with n_active = n_cohort.
   *
   * Scale shape: one keyed agg for first-events, a shuffle_hash join
   * back on the key (the post-agg side has no stats — without the hint
   * the planner falls back to sort-merge, the d11 lesson; broadcast
   * would be wrong at 10⁹ keys), a distinct on (cohort, offset, key)
   * and its re-agg — all keyed shuffles, no windows over whole
   * histories. Cohort sizes are bounded by the observed time range over
   * `bucketMicros` (hundreds, by design), so THAT side broadcasts
   * explicitly. Calendar-aligned offsets (bucket(ts) − bucket(first)),
   * the standard cohort semantics.
   */
  def cohortRetention(events: DataFrame, keyCol: String, tsCol: String,
      bucketMicros: Long): DataFrame = {
    require(bucketMicros >= 1L,
      s"cohortRetention: bucketMicros must be >= 1, got $bucketMicros")
    // `div` keeps exact longs (epoch micros ~1.7e15 are double-safe, but
    // stay integral on principle — the Graft.events() nanos lesson)
    val byKey = events.select(col(keyCol).as("key"),
      expr(s"unix_micros(`$tsCol`) div ${bucketMicros}L").as("b"))
    val first = byKey.groupBy("key").agg(min(col("b")).as("cohort"))
    val sizes = first.groupBy("cohort").agg(count(lit(1)).as("n_cohort"))
    byKey
      .join(first.hint("shuffle_hash"), Seq("key"))
      .select(col("cohort"), (col("b") - col("cohort")).as("bucket_offset"),
        col("key"))
      .distinct()
      .groupBy(col("cohort"), col("bucket_offset"))
      .agg(count(lit(1)).as("n_active"))
      .join(broadcast(sizes), Seq("cohort"))
      .withColumn("retention",
        round(col("n_active").cast("double") / col("n_cohort"), 6))
  }

  /**
   * P100 — top-k frequent event paths: the most common length-`n`
   * consecutive event-type sequences across all keys' (ts, tie)-ordered
   * histories — the path-mining generalization of the P81 bigram
   * transition matrix (n = 2 reproduces its counts), used for journey
   * analysis and, in a training pipeline, trajectory-template discovery
   * before sequence filtering. Returns (path_0..path_{n−1}, cnt, rank),
   * the top `k` by count with the full path tuple as the deterministic
   * tie-break.
   *
   * Shape: ONE keyed window shuffle for the n−1 leads (same partitioning
   * as the sessionizer), a map-side-combinable path agg bounded by
   * |types|ⁿ cells, and a TakeOrderedAndProject top-k — never a full
   * sort. Sequences shorter than n at a key's tail contribute nothing
   * (their leads are null).
   */
  def topPaths(events: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, typeCol: String, n: Int, k: Int): DataFrame = {
    require(n >= 2, s"topPaths: n must be >= 2, got $n")
    require(k >= 1, s"topPaths: k must be >= 1, got $k")
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol).asc, col(tieCol).asc)
    val paths = (0 until n).map { i =>
      val c = if (i == 0) col(typeCol) else lead(col(typeCol), i).over(w)
      c.as(s"path_$i")
    }
    val pathCols = (0 until n).map(i => col(s"path_$i"))
    val scored = events.select(paths: _*)
      .where(pathCols.map(_.isNotNull).reduce(_ && _))
      .groupBy(pathCols: _*)
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc +: pathCols.map(_.asc): _*)
      .limit(k)
    val rankW = Window.orderBy(col("cnt").desc +: pathCols.map(_.asc): _*)
    scored.withColumn("rank", row_number().over(rankW))
  }

  /**
   * P95 — Kaplan–Meier survival estimator per group: from one row per
   * subject (group, time-to-event, observed-flag), the product-limit
   * curve S(t) = Π_{tᵢ ≤ t} (1 − dᵢ/nᵢ) over the distinct OBSERVED event
   * times, with nᵢ = subjects still at risk (time ≥ tᵢ, censored
   * subjects leave the risk set at their censoring time and create no
   * step) — churn/retention curves, and in a training pipeline the
   * label-horizon analysis behind survival-aware sampling. Returns
   * (group, time, n_event, at_risk, survival).
   *
   * Shape: one keyed agg onto the (group, time) grid, three windows over
   * the SAME group partitioning (total, removed-before, cumulative), no
   * joins; grid size is bounded by distinct times per group, not
   * subjects. Engine portability: the cumulative product runs as
   * exp(Σ ln) with each ln(1 − d/n) ROUNDED AT 9 and DECIMAL-summed (the
   * libm firewall — a bare double cumprod would compound 1-ulp libm
   * differences), and a d = n step clamps the factor at 2⁻⁵⁶ (ln 0
   * otherwise; survival rounds to 0 at 6 decimals, the true value).
   */
  def kaplanMeier(df: DataFrame, groupCol: String, timeCol: String,
      eventCol: String): DataFrame = {
    val grid = df.groupBy(col(groupCol), col(timeCol))
      .agg(sum(col(eventCol).cast("long")).as("n_event"),
        count(lit(1)).as("n_total"))
    val wAll = Window.partitionBy(col(groupCol))
    val wBefore = Window.partitionBy(col(groupCol)).orderBy(col(timeCol).asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.partitionBy(col(groupCol)).orderBy(col(timeCol).asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val f = lit(1.0) - col("n_event").cast("double") / col("at_risk").cast("double")
    grid
      .withColumn("at_risk",
        sum(col("n_total")).over(wAll) -
          coalesce(sum(col("n_total")).over(wBefore), lit(0L)))
      .where(col("n_event") > 0)
      .withColumn("__lf",
        round(log(greatest(f, lit(math.pow(2.0, -56)))), 9).cast("decimal(28,9)"))
      .withColumn("survival",
        round(exp(sum(col("__lf")).over(wCum).cast("double")), 6))
      .drop("__lf", "n_total")
  }

  /**
   * P324 — restricted mean survival time at horizon τ: the area under
   * the [[kaplanMeier]] curve over [0, τ] — "average event-free days
   * in the first τ days", the ONE-NUMBER survival summary that stays
   * defined under censoring where the plain mean does not (and the
   * clinically-preferred effect size when hazards cross). Computed
   * exactly from the step function: min(t₁, τ) at S = 1 plus
   * Σ Sᵢ·(min(tᵢ₊₁, τ) − min(tᵢ, τ)). Emits per group: n_steps, tau,
   * rmst. Groups with no observed events drop (as in the KM frame).
   *
   * Shape: the kaplanMeier group-partitioned windows + one lead window
   * over the same per-group step grid + one keyed agg. Cross-engine:
   * interval lengths are exact integer day arithmetic; step terms are
   * (6-rounded S)·length doubles rounded at 9 through DECIMAL(28,9);
   * rmst rounds at 6.
   */
  def restrictedMeanSurvival(df: DataFrame, groupCol: String,
      timeCol: String, eventCol: String, tau: Long): DataFrame = {
    require(tau > 0, s"restrictedMeanSurvival: tau must be > 0, got $tau")
    val km = kaplanMeier(df, groupCol, timeCol, eventCol)
    val w = Window.partitionBy(col(groupCol)).orderBy(col(timeCol).asc)
    val tl = col(timeCol).cast("long")
    val capT = least(tl, lit(tau))
    val capNext = coalesce(least(lead(tl, 1).over(w), lit(tau)), lit(tau))
    km
      .withColumn("__len", greatest(capNext - capT, lit(0L)))
      .withColumn("__term",
        round(col("survival") * col("__len").cast("double"), 9)
          .cast("decimal(28,9)"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_steps"), min(tl).as("__t1"),
        sum(col("__term")).cast("double").as("__area"))
      .select(col(groupCol), col("n_steps"), lit(tau).as("tau"),
        round(least(col("__t1"), lit(tau)).cast("double") + col("__area"),
          6).as("rmst"))
  }

  /**
   * P269 — Nelson–Aalen cumulative hazard: H(t) = Σ_{s≤t} d_s/n_s over
   * the event times — the additive counterpart to [[kaplanMeier]]'s
   * product limit (read H(t) as "expected events so far per at-risk
   * unit"; −ln S(t) ≈ H(t) checks the two against each other). Same
   * input contract as kaplanMeier: one row per subject (group,
   * duration, event 0/1). Emits per (group, t) with d > 0:
   * (group, t, n_event, at_risk, cum_hazard).
   *
   * Shape: identical to kaplanMeier — one (group, time) agg, then
   * group-partitioned windows over the per-group time grid (agg-sized:
   * distinct durations, not subjects). Cross-engine: counts exact; the
   * d/n increments are 9-rounded doubles on exact BIGINT operands
   * accumulated in DECIMAL(28,9) (order-safe), closing round at 6.
   */
  def nelsonAalen(df: DataFrame, groupCol: String, timeCol: String,
      eventCol: String): DataFrame = {
    val grid = df.groupBy(col(groupCol), col(timeCol))
      .agg(sum(col(eventCol).cast("long")).as("n_event"),
        count(lit(1)).as("n_total"))
    val wAll = Window.partitionBy(col(groupCol))
    val wBefore = Window.partitionBy(col(groupCol)).orderBy(col(timeCol).asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.partitionBy(col(groupCol)).orderBy(col(timeCol).asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    grid
      .withColumn("at_risk",
        sum(col("n_total")).over(wAll) -
          coalesce(sum(col("n_total")).over(wBefore), lit(0L)))
      .where(col("n_event") > 0)
      .withColumn("__h",
        round(col("n_event").cast("double") / col("at_risk").cast("double"),
          9).cast("decimal(28,9)"))
      .withColumn("cum_hazard",
        round(sum(col("__h")).over(wCum).cast("double"), 6))
      .drop("__h", "n_total")
  }

  /**
   * P270 — two-group log-rank test: at each pooled event time,
   * observed group-A deaths vs the expected share d·n_A/n under the
   * null of equal hazards, with the hypergeometric variance
   * d·n_A·(n−n_A)·(n−d) / (n²·(n−1)); χ² = (O−E)²/V and z =
   * (O−E)/√V — the standard "did segment A churn faster" verdict that
   * [[kaplanMeier]]'s two curves only eyeball. Same subject-level
   * input contract; the two compared groups are named explicitly
   * (other groups drop). Emits ONE row (n_a, n_b, o_a, e_a, v_stat,
   * chi2, z); zero variance (no informative times) nulls the verdict.
   *
   * Shape: one (group, time) agg, a densified 2×T spine (times ×
   * the two groups — agg-sized) so each group's at-risk counts exist
   * at every POOLED event time, group-partitioned windows over that
   * spine, then one closing agg. Cross-engine: counts exact BIGINTs;
   * the per-time E and V terms are fixed double sequences on exact
   * operands rounded at 9 and DECIMAL(28,9)-summed; closing stats
   * fixed doubles rounded at 6.
   */
  def logRankTest(df: DataFrame, groupCol: String, timeCol: String,
      eventCol: String, groupA: String, groupB: String): DataFrame = {
    require(groupA != groupB, s"logRankTest: groupA == groupB ($groupA)")
    val base = df.where(col(groupCol).isin(groupA, groupB) &&
        col(timeCol).isNotNull)
      .select(when(col(groupCol) === groupA, "a").otherwise("b").as("__g"),
        col(timeCol).cast("long").as("__t"),
        col(eventCol).cast("long").as("__e"))
    val perGT = base.groupBy(col("__g"), col("__t"))
      .agg(sum(col("__e")).as("__d"), count(lit(1)).as("__c"))
    val spine = perGT.select(col("__t")).distinct()
      .crossJoin(broadcast(perGT.select(col("__g")).distinct())) // ≤ 2 rows
    val grid = spine.join(perGT.hint("shuffle_hash"), Seq("__t", "__g"),
        "left")
      .select(col("__t"), col("__g"),
        coalesce(col("__d"), lit(0L)).as("__d"),
        coalesce(col("__c"), lit(0L)).as("__c"))
    val wAll = Window.partitionBy(col("__g"))
    val wBefore = Window.partitionBy(col("__g")).orderBy(col("__t").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val risk = grid.withColumn("__n",
      sum(col("__c")).over(wAll) -
        coalesce(sum(col("__c")).over(wBefore), lit(0L)))
    val perT = risk.groupBy(col("__t"))
      .agg(sum(when(col("__g") === "a", col("__n")).otherwise(0L)).as("__n1"),
        sum(when(col("__g") === "a", col("__d")).otherwise(0L)).as("__d1"),
        sum(col("__n")).as("__n"), sum(col("__d")).as("__dd"))
      .where(col("__dd") > 0)
    val dd = col("__dd").cast("double")
    val n1d = col("__n1").cast("double")
    val nd = col("__n").cast("double")
    val terms = perT.select(col("__d1"),
      round(dd * n1d / nd, 9).cast("decimal(28,9)").as("__et"),
      when(col("__n") > 1,
        round(dd * n1d * (nd - n1d) * (nd - dd) /
          (nd * nd * (nd - lit(1.0))), 9))
        .otherwise(lit(0.0)).cast("decimal(28,9)").as("__vt"))
    val counts = base.agg(
      sum(when(col("__g") === "a", 1L).otherwise(0L)).as("n_a"),
      sum(when(col("__g") === "b", 1L).otherwise(0L)).as("n_b"))
    val closing = terms.agg(coalesce(sum(col("__d1")), lit(0L)).as("o_a"),
        sum(col("__et")).as("__e1"), sum(col("__vt")).as("__v"))
      .crossJoin(broadcast(counts)) // 1-row scalar side
    val diff = col("o_a").cast("double") - col("__e1").cast("double")
    val vd = col("__v").cast("double")
    closing.select(col("n_a"), col("n_b"), col("o_a"),
      round(col("__e1").cast("double"), 6).as("e_a"),
      round(vd, 6).as("v_stat"),
      when(vd > 0, round(diff * diff / vd, 6)).as("chi2"),
      when(vd > 0, round(diff / sqrt(vd), 6)).as("z"))
  }

  /**
   * P110 — gap detection over per-key event streams: every pair of
   * consecutive events (in (ts, tie) order) whose spacing is at least
   * `minGapMicros` — the coverage/outage finder behind data-freshness
   * monitoring and the session-boundary audit complementing the P14
   * sessionizer. Returns (key, gap_start_us, gap_end_us, gap_us) as
   * exact epoch-micro BIGINTs (timestamps leave as integers so the
   * oracle never compares timezone-typed columns).
   *
   * Shape: ONE keyed window shuffle for the lag — the sessionizer's
   * partitioning — then a pure filter; nothing aggregates, so the
   * operator streams at any key cardinality. The tiebreaker makes the
   * order total (equal timestamps yield a 0-micro gap and can never
   * pass a positive threshold, but the ORDER must still be total for
   * the lag to be deterministic).
   */
  def gaps(events: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, minGapMicros: Long): DataFrame = {
    require(minGapMicros >= 1L,
      s"gaps: minGapMicros must be >= 1, got $minGapMicros")
    // epoch micros order ≡ timestamp order (unix_micros is monotone), so
    // the lag window runs on the projected integer column
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col("__us").asc, col("__tie").asc)
    events
      .select(col(keyCol), expr(s"unix_micros(`$tsCol`)").as("__us"),
        col(tieCol).as("__tie"))
      .withColumn("gap_start_us", lag(col("__us"), 1).over(w))
      .where(col("gap_start_us").isNotNull &&
        col("__us") - col("gap_start_us") >= minGapMicros)
      .select(col(keyCol), col("gap_start_us"),
        col("__us").as("gap_end_us"),
        (col("__us") - col("gap_start_us")).as("gap_us"))
  }

  /**
   * P383 — SCD2 (slowly-changing-dimension type 2) interval build:
   * collapse a per-key event stream into state VALIDITY intervals —
   * one row per consecutive same-state run with valid_from/valid_to
   * epoch-micros, run event count, a per-key version number, and the
   * is_current flag on the open interval. The warehouse history-table
   * shape a CDC feed (dq3) is usually loaded INTO: q9's transition
   * matrix counts state changes, this materializes the timeline a
   * point-in-time join needs. Emits (key, version, state,
   * valid_from_us, valid_to_us, n_events, is_current); valid_to is the
   * NEXT version's valid_from (half-open convention), null while
   * current. `version` makes the output order total even when
   * alternating runs share one timestamp.
   *
   * Shapes: one key-partitioned lag/running-sum pass for the run ids
   * (the mm19 gaps-and-islands class), one (key, run) agg, one
   * key-partitioned lead for the interval close — zero global state,
   * streams at any key cardinality. Cross-engine: micros are exact
   * BIGINTs end to end.
   */
  def scd2Intervals(events: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, stateCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col("__us").asc, col("__tie").asc)
    val flagged = events
      // tieCol null-filtered too: Spark windows order nulls FIRST,
      // DuckDB's LAST — a null tie value would segment runs differently
      // per engine and break the version-totality contract
      .where(col(keyCol).isNotNull && col(tsCol).isNotNull &&
        col(stateCol).isNotNull && col(tieCol).isNotNull)
      .select(col(keyCol), expr(s"unix_micros(`$tsCol`)").as("__us"),
        col(tieCol).as("__tie"), col(stateCol).as("state"))
      .withColumn("__prev", lag(col("state"), 1).over(w))
      .withColumn("__chg",
        when(col("__prev").isNull || col("__prev") =!= col("state"), 1L)
          .otherwise(0L))
      .withColumn("version", sum(col("__chg")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val runs = flagged.groupBy(col(keyCol), col("version"), col("state"))
      .agg(count(lit(1)).as("n_events"),
        min(col("__us")).as("valid_from_us"))
    val wRun = Window.partitionBy(col(keyCol)).orderBy(col("version").asc)
    runs
      .withColumn("valid_to_us", lead(col("valid_from_us"), 1).over(wRun))
      .select(col(keyCol), col("version"), col("state"),
        col("valid_from_us"), col("valid_to_us"), col("n_events"),
        col("valid_to_us").isNull.as("is_current"))
  }

  /**
   * P109 — first/last-touch conversion attribution: for each key that
   * converted (has at least one `conversionType` event), the earliest
   * and latest non-conversion events strictly before the FIRST
   * conversion — the marketing-attribution primitive, and (for training
   * data) the trigger-context extractor ("what preceded the outcome
   * label"). Returns (key, conv_us, first_us, first_type, last_us,
   * last_type, n_touches); keys whose conversion has no prior touch are
   * absent (no attributable channel).
   *
   * Shape: one keyed agg for the first conversion (min over the
   * (ts, tie) struct — exact, no window), a shuffle_hash join back on
   * the key (post-agg side has no stats — the d11 rule), and one more
   * keyed agg taking min/max (ts, tie, type) structs — the struct
   * ordering IS the total event order because the tiebreaker is unique,
   * so first/last are deterministic without any window sort.
   */
  def attribution(events: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, typeCol: String, conversionType: String): DataFrame = {
    val us = expr(s"unix_micros(`$tsCol`)")
    val base = events.select(col(keyCol).as("key"), us.as("__us"),
      col(tieCol).as("__tie"), col(typeCol).as("__type"))
    val conv = base.where(col("__type") === conversionType)
      .groupBy(col("key"))
      .agg(min(struct(col("__us"), col("__tie"))).as("__c"))
      .select(col("key"), col("__c.__us").as("__cus"),
        col("__c.__tie").as("__ctie"))
    base.where(col("__type") =!= conversionType)
      .join(conv.hint("shuffle_hash"), Seq("key"))
      .where(col("__us") < col("__cus") ||
        (col("__us") === col("__cus") && col("__tie") < col("__ctie")))
      .groupBy(col("key"))
      .agg(first(col("__cus")).as("conv_us"),
        min(struct(col("__us"), col("__tie"), col("__type"))).as("__f"),
        max(struct(col("__us"), col("__tie"), col("__type"))).as("__l"),
        count(lit(1)).as("n_touches"))
      .select(col("key"), col("conv_us"),
        col("__f.__us").as("first_us"), col("__f.__type").as("first_type"),
        col("__l.__us").as("last_us"), col("__l.__type").as("last_type"),
        col("n_touches"))
  }

  /**
   * P111 — OHLC bars: per (key, fixed time bucket), the opening /
   * highest / lowest / closing value plus event count and decimal-exact
   * value sum — the downsampled-series representation behind candlestick
   * analytics and, in a feature pipeline, fixed-rate signal compression
   * before sequence modeling. Bucket = epoch-micros div `bucketMicros`
   * (exact integer division).
   *
   * Shape: ONE map-side-combinable keyed agg — open/close are
   * `min_by`/`max_by` over the (ts, tie) struct (the unique tiebreaker
   * makes them deterministic without a window sort), high/low are plain
   * min/max, and the sum goes through DECIMAL. No window, no join:
   * exactly the aggregation shape that scales to unbounded streams.
   */
  def ohlcBars(events: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, valueCol: String, bucketMicros: Long): DataFrame = {
    require(bucketMicros >= 1L,
      s"ohlcBars: bucketMicros must be >= 1, got $bucketMicros")
    val us = expr(s"unix_micros(`$tsCol`)")
    val ord = struct(us.as("__us"), col(tieCol).as("__tie"))
    events
      .groupBy(col(keyCol), expr(
        s"unix_micros(`$tsCol`) div ${bucketMicros}L").as("bucket"))
      .agg(min_by(col(valueCol), ord).as("open"),
        max(col(valueCol)).as("high"),
        min(col(valueCol)).as("low"),
        max_by(col(valueCol), ord).as("close"),
        count(lit(1)).as("n"),
        round(sum(col(valueCol).cast("decimal(18,6)")).cast("double"), 6)
          .as("vsum"))
      .withColumn("bucket_start_us", col("bucket") * bucketMicros)
  }

  /**
   * P112 — CUSUM change detection per key: the one-sided cumulative-sum
   * statistic s_i = max(0, s_{i−1} + (x_i − k)) with reference k,
   * flagged when s crosses `threshold` — the classic upward-shift
   * detector for drift monitoring over metric streams. The recursive
   * form is not window-expressible, but its closed form is:
   * s_i = P_i − min(0, min_{j≤i} P_j) with P the running sum of
   * (x − k) — two cumulative windows over ONE keyed partitioning.
   *
   * Engine portability: x and k go through DECIMAL(18,6) so P, the
   * running min and s are EXACT decimal arithmetic end to end — no
   * rounding firewall needed, partition order cannot move anything, and
   * the threshold comparison is exact (no knife-edge float compare).
   * Outputs round to double only for the report.
   */
  def cusum(df: DataFrame, keyCol: String, tsCol: String, tieCol: String,
      valueCol: String, reference: BigDecimal,
      threshold: BigDecimal): DataFrame = {
    require(threshold > 0, s"cusum: threshold must be > 0, got $threshold")
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol).asc, col(tieCol).asc)
    val cum = w.rowsBetween(Window.unboundedPreceding, 0)
    val k = lit(reference.underlying).cast("decimal(18,6)")
    val p = sum(col(valueCol).cast("decimal(18,6)") - k).over(cum)
    val zero = lit(java.math.BigDecimal.ZERO).cast("decimal(18,6)")
    df.withColumn("__p", p)
      .withColumn("__s", col("__p") - least(zero, min(col("__p")).over(cum)))
      .withColumn("s", round(col("__s").cast("double"), 6))
      .withColumn("alarm",
        col("__s") > lit(threshold.underlying).cast("decimal(18,6)"))
      .drop("__p", "__s")
  }

  /**
   * P113 — regular-grid resampling with forward fill: per key, the full
   * bucket grid from its first to its last event (bucket = epoch-micros
   * div `bucketMicros`), each cell carrying the last observed value in
   * that bucket (`obs`, null for empty cells) and the forward-filled
   * series (`ffill`) — the gap-free fixed-rate series every downstream
   * window model assumes, aligned exactly like pandas `resample().ffill()`.
   *
   * Shape: one keyed agg per (key, bucket) for in-bucket last values
   * (max_by over the (ts, tie) struct — deterministic), one tiny
   * per-key span agg whose `sequence()` explode mints the grid (grid
   * size = time-range/bucket, bounded by design, never by row count),
   * a shuffle_hash join of grid to observations, and ONE keyed window
   * for the ignore-nulls last_value fill. Values are carried verbatim
   * (no arithmetic) — nothing to round.
   */
  def resampleFfill(events: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, valueCol: String, bucketMicros: Long): DataFrame = {
    require(bucketMicros >= 1L,
      s"resampleFfill: bucketMicros must be >= 1, got $bucketMicros")
    val base = events.select(col(keyCol).as("key"),
      expr(s"unix_micros(`$tsCol`) div ${bucketMicros}L").as("bucket"),
      expr(s"unix_micros(`$tsCol`)").as("__us"),
      col(tieCol).as("__tie"), col(valueCol).as("__v"))
    val lastPerBucket = base
      .groupBy(col("key"), col("bucket"))
      .agg(max_by(col("__v"), struct(col("__us"), col("__tie"))).as("obs"))
    val grid = base.groupBy(col("key"))
      .agg(min(col("bucket")).as("__mn"), max(col("bucket")).as("__mx"))
      .select(col("key"),
        explode(sequence(col("__mn"), col("__mx"))).as("bucket"))
    val w = Window.partitionBy(col("key")).orderBy(col("bucket").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    grid.join(lastPerBucket.hint("shuffle_hash"), Seq("key", "bucket"), "left")
      .withColumn("bucket_us", col("bucket") * bucketMicros)
      .withColumn("ffill", last(col("obs"), ignoreNulls = true).over(w))
      .withColumn("is_gap", col("obs").isNull)
  }

  /**
   * P132 — top-k period-over-period movers: per key, the decimal-exact
   * metric total in period A and period B, ranked by |Δ| — the "what
   * changed most since last week" report behind drift triage and
   * anomaly review queues. Returns (key, val_a, val_b, delta, rank);
   * keys absent from a period contribute an exact 0.
   *
   * Shape: ONE fused conditional aggregate per key (no join of two
   * period scans), then a TakeOrderedAndProject top-k. Ranking compares
   * EXACT DECIMAL |Δ| (no float knife-edge at the cut line), ties break
   * on the key; the report columns round at 2 (money).
   */
  def topMovers(df: DataFrame, keyCol: String, periodCol: Column,
      valueCol: String, periodA: Any, periodB: Any, k: Int): DataFrame = {
    require(k >= 1, s"topMovers: k must be >= 1, got $k")
    val dec = col(valueCol).cast("decimal(18,2)")
    val zero = lit(java.math.BigDecimal.ZERO).cast("decimal(18,2)")
    val agged = df
      .where(periodCol === lit(periodA) || periodCol === lit(periodB))
      .groupBy(col(keyCol))
      .agg(coalesce(sum(when(periodCol === lit(periodA), dec)), zero).as("__a"),
        coalesce(sum(when(periodCol === lit(periodB), dec)), zero).as("__b"))
      .withColumn("__d", col("__b") - col("__a"))
    agged
      .orderBy(abs(col("__d")).desc, col(keyCol).asc)
      .limit(k)
      .select(col(keyCol),
        round(col("__a").cast("double"), 2).as("val_a"),
        round(col("__b").cast("double"), 2).as("val_b"),
        round(col("__d").cast("double"), 2).as("delta"))
      .withColumn("rank", row_number().over(Window.orderBy(
        abs(col("delta")).desc, col(keyCol).asc)))
  }

  /**
   * P133 — stream-disorder audit: for each event, its lateness relative
   * to the high-water mark of everything that ARRIVED before it
   * (arrival order = `arrivalCol`, the ingest sequence) — exactly the
   * statistic that tells you what `withWatermark` delay a streaming job
   * needs (the P14/P15 operators' tuning input): a watermark below the
   * observed lateness tail silently DROPS those events. Returns only
   * the out-of-order events (late_us > 0) with is_late flagging those
   * beyond `watermarkMicros`.
   *
   * Shape (r10, distributed): the running max over the global arrival
   * order is computed TWO-PHASE — the integral arrival key's observed
   * [min, max] range (one scalar agg, broadcast) splits into `shards`
   * contiguous buckets, the strict-predecessor max runs per bucket, and
   * each bucket's high-water mark from all EARLIER buckets arrives as an
   * exclusive prefix-max over the shards-sized bucket frame (the only
   * unpartitioned window left — ≤ `shards` rows at any input scale).
   * `greatest(prefix, local)` is exactly the global running max, so the
   * output is identical to the single-window form and the oracle's
   * global `max() OVER (ORDER BY arrival)` replay is unchanged.
   * Requires an integral, non-null arrival key (an ingest sequence —
   * the st6 queries build one; null arrivals are dropped).
   */
  def disorderAudit(events: DataFrame, tsCol: String, arrivalCol: String,
      watermarkMicros: Long, shards: Int = 64): DataFrame = {
    require(watermarkMicros >= 0L,
      s"disorderAudit: watermarkMicros must be >= 0, got $watermarkMicros")
    require(shards >= 1, s"disorderAudit: shards must be >= 1, got $shards")
    val base = events
      .where(col(arrivalCol).isNotNull)
      .select(col(arrivalCol), expr(s"unix_micros(`$tsCol`)").as("__us"))
    val bounds = base.agg(
      min(col(arrivalCol).cast("long")).as("__lo"),
      max(col(arrivalCol).cast("long")).as("__hi"))
    // ceil width keeps every bucket index in [0, shards]; integer `div`
    // (double division would misbucket past the 2^53 exact range)
    val bucketed = base.join(broadcast(bounds))
      .withColumn("__bk",
        expr(s"(cast(`$arrivalCol` as bigint) - __lo) div " +
          s"(((__hi - __lo) div ${shards}L) + 1L)"))
      .drop("__lo", "__hi")
    val local = Window.partitionBy(col("__bk"))
      .orderBy(col(arrivalCol).asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offW = Window.orderBy(col("__bk").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val prior = bucketed.groupBy(col("__bk"))
      .agg(max(col("__us")).as("__bm"))
      .withColumn("__pm", max(col("__bm")).over(offW))
      .select("__bk", "__pm")
    bucketed
      .join(broadcast(prior), Seq("__bk"))
      // greatest() skips nulls: null prefix (first bucket) + null local
      // (bucket-first row) → null, exactly the global no-predecessor case
      .withColumn("__hwm",
        greatest(col("__pm"), max(col("__us")).over(local)))
      .where(col("__hwm").isNotNull && col("__hwm") > col("__us"))
      .select(col(arrivalCol), col("__us").as("event_us"),
        col("__hwm").as("hwm_us"),
        (col("__hwm") - col("__us")).as("late_us"))
      .withColumn("is_late", col("late_us") > watermarkMicros)
  }

  /**
   * P164 — watermark-delay sweep: for each candidate delay D in the
   * grid, the count and fraction of events whose [[disorderAudit]]
   * lateness exceeds D — i.e. the events `withWatermark(D)` would
   * silently DROP. The table answers the streaming job's central
   * sizing question (state retention vs completeness) with data
   * instead of folklore: pick the knee of the curve. `n_total` counts
   * every event (on-time ones can never drop).
   *
   * Shapes: one disorder pass (a single running-max window), a
   * broadcast cross join against the tiny delay grid (the adjudicated
   * k-row class), one keyed agg. Exact integer micros throughout; the
   * fraction is one double division rounded at 6.
   */
  def watermarkSweep(events: DataFrame, tsCol: String, arrivalCol: String,
      delaysMicros: Seq[Long]): DataFrame = {
    require(delaysMicros.nonEmpty, "watermarkSweep: at least one delay")
    require(delaysMicros.forall(_ >= 0),
      s"watermarkSweep: delays must be >= 0, got $delaysMicros")
    val total = events
      .where(col(tsCol).isNotNull && col(arrivalCol).isNotNull)
      .agg(count(lit(1)).as("n_total"))
    val late = disorderAudit(events, tsCol, arrivalCol, watermarkMicros = 0L)
    val grid = events.sparkSession
      .createDataFrame(delaysMicros.sorted.map(Tuple1(_)))
      .toDF("delay_us")
    late
      .select(col("late_us"))
      .crossJoin(broadcast(grid))
      .groupBy(col("delay_us"))
      .agg(sum(when(col("late_us") > col("delay_us"), 1L).otherwise(0L))
        .as("n_dropped"))
      .join(broadcast(total)) // 1-row scalar side
      .withColumn("dropped_frac",
        round(col("n_dropped").cast("double") /
          col("n_total").cast("double"), 6))
      .select("delay_us", "n_dropped", "n_total", "dropped_frac")
  }

  /**
   * P173 — Theil–Sen slope per key: the MEDIAN of all pairwise slopes
   * (v_j − v_i)/(day_j − day_i) — the robust trend estimate (29.3%
   * breakdown point: a third of the points can be garbage before the
   * slope moves) to read beside P150's Mann–Kendall direction test;
   * OLS (P90) gives any single outlier unbounded leverage. Same caller
   * contract as P150: feed RESAMPLED bounded series — the pair stage
   * is quadratic per key. Emits (key, n_pairs, slope).
   *
   * Cross-engine: each slope is one double division of exact operands
   * rounded at 9, the median is R-7 over identical rounded slopes,
   * output rounds at 6.
   */
  def theilSenSlope(points: DataFrame, keyCol: String, dayCol: String,
      valueCol: String): DataFrame = {
    val a = points.select(col(keyCol).as("__k"), col(dayCol).as("__da"),
      col(valueCol).as("__va"))
    val b = points.select(col(keyCol).as("__k"), col(dayCol).as("__db"),
      col(valueCol).as("__vb"))
    a.join(b.hint("shuffle_hash"), Seq("__k"))
      .where(col("__da") < col("__db"))
      .withColumn("__slope",
        round((col("__vb") - col("__va")) /
          datediff(col("__db"), col("__da")).cast("double"), 9))
      .groupBy(col("__k"))
      .agg(count(lit(1)).as("n_pairs"),
        round(expr("percentile(__slope, 0.5)"), 6).as("slope"))
      .withColumnRenamed("__k", keyCol)
  }

  /**
   * P192 — Kendall's τ-b rank correlation per key between two series
   * columns: over all day pairs, C = concordant (both move the same
   * way), D = discordant, and τ-b = (C − D) / √(nx·ny) with nx/ny the
   * pair counts untied in x/y — the tie-corrected, outlier-immune
   * completion of the correlation trio (P107 Pearson assumes linearity,
   * P108 Spearman breaks under heavy ties; τ-b is pure pair counting).
   * Emits (key, n_pairs, concordant, discordant, tau_b); a side with
   * every pair tied (nx·ny = 0) → null. Same caller contract as P173:
   * feed RESAMPLED bounded series — the pair stage is quadratic per key.
   *
   * Shapes: one shuffle_hash self-join on the key (da < db), one fused
   * integer count agg. Every count is an exact BIGINT; the closing
   * √ is IEEE-exact on identical operands, τ rounds at 6.
   */
  def kendallTau(points: DataFrame, keyCol: String, dayCol: String,
      xCol: String, yCol: String): DataFrame = {
    val a = points.select(col(keyCol).as("__k"), col(dayCol).as("__da"),
      col(xCol).as("__xa"), col(yCol).as("__ya"))
    val b = points.select(col(keyCol).as("__k"), col(dayCol).as("__db"),
      col(xCol).as("__xb"), col(yCol).as("__yb"))
    val dx = when(col("__xb") > col("__xa"), 1)
      .when(col("__xb") < col("__xa"), -1).otherwise(0)
    val dy = when(col("__yb") > col("__ya"), 1)
      .when(col("__yb") < col("__ya"), -1).otherwise(0)
    a.join(b.hint("shuffle_hash"), Seq("__k"))
      .where(col("__da") < col("__db"))
      .withColumn("__p", dx * dy)
      .withColumn("__nx", when(dx =!= 0, 1L).otherwise(0L))
      .withColumn("__ny", when(dy =!= 0, 1L).otherwise(0L))
      .groupBy(col("__k"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("__p") > 0, 1L).otherwise(0L)).as("concordant"),
        sum(when(col("__p") < 0, 1L).otherwise(0L)).as("discordant"),
        sum(col("__nx")).as("__sx"), sum(col("__ny")).as("__sy"))
      .withColumn("tau_b",
        when(col("__sx") > 0 && col("__sy") > 0,
          round((col("concordant") - col("discordant")).cast("double") /
            sqrt((col("__sx") * col("__sy")).cast("double")), 6)))
      .drop("__sx", "__sy")
      .withColumnRenamed("__k", keyCol)
  }

  /**
   * P193 — single change-point detection per key (binary segmentation,
   * first split): the day that best divides the series into two
   * constant-mean regimes — argmin over candidate splits of
   * SSE_left + SSE_right, both closed-form from prefix sums
   * (SSE = Q − S²/n), with `gain` = SSE_total − SSE_split as the
   * "did the level actually move" effect size. The level-shift
   * localizer beside P93's smoother, P125's CUSUM (which ASSUMES a
   * target mean) and P150's monotone-trend test. Emits (key, n_days,
   * change_day, sse_total, sse_split, gain); change_day is the FIRST
   * day of the new regime; keys with < 2·minSegment days emit nothing.
   *
   * Shapes: prefix sums and counts in per-KEY ordered windows
   * (partitioned — never a global order), per-key totals from one agg
   * joined back shuffle_hash, argmin via min(struct(cost, day)) — no
   * rank window at all. Cross-engine: v (pre-rounded at 6 by contract)
   * scales to an EXACT micro-unit BIGINT w = v·10⁶, so S is a BIGINT
   * sum and Q a DECIMAL(38,0) integer sum — no decimal-product scale
   * truncation can diverge (a (19,6)² product carries 12 fractional
   * digits, which Spark's precision cap would shave where DuckDB keeps
   * them; integers have no such cliff). Each SSE is then one fixed
   * double sequence on identical exact integers, descaled by 10¹² and
   * rounded at 6; the argmin compares rounded values with a day
   * tie-break.
   */
  def changePoint(points: DataFrame, keyCol: String, dayCol: String,
      valueCol: String, minSegment: Int = 3): DataFrame = {
    require(minSegment >= 1,
      s"changePoint: minSegment must be >= 1, got $minSegment")
    // exact because v carries ≤6 fractional digits: the decimal product
    // ends .000000, so Spark's truncating cast and DuckDB's rounding
    // cast agree
    val w6 = (col("__v").cast("decimal(18,6)") * 1000000).cast("long")
    val wSq = (col("__w").cast("decimal(19,0)") *
      col("__w").cast("decimal(19,0)"))
    val wk = Window.partitionBy(col("__k")).orderBy(col("__d"))
    val base = points
      .where(col(keyCol).isNotNull && col(dayCol).isNotNull &&
        col(valueCol).isNotNull)
      .select(col(keyCol).as("__k"), col(dayCol).as("__d"),
        col(valueCol).as("__v"))
      .withColumn("__w", w6)
    val pref = base
      .withColumn("__i", row_number().over(wk).cast("long"))
      .withColumn("__s", sum(col("__w")).over(wk))
      .withColumn("__q", sum(wSq).over(wk))
      .withColumn("__next_day", lead(col("__d"), 1).over(wk))
    val tot = base
      .groupBy(col("__k"))
      .agg(count(lit(1)).as("__n"), sum(col("__w")).as("__sn"),
        sum(wSq).as("__qn"))
    def sse(q: Column, s: Column, n: Column): Column =
      q.cast("double") -
        s.cast("double") * s.cast("double") / n.cast("double")
    val cand = pref
      .join(tot.hint("shuffle_hash"), Seq("__k"))
      .where(col("__i") >= minSegment && col("__i") <= col("__n") - minSegment)
      .withColumn("__sse_total",
        round(sse(col("__qn"), col("__sn"), col("__n")) / 1.0e12, 6))
      .withColumn("__cost",
        round((sse(col("__q"), col("__s"), col("__i")) +
          sse(col("__qn") - col("__q"), col("__sn") - col("__s"),
            col("__n") - col("__i"))) / 1.0e12, 6))
    cand.groupBy(col("__k"))
      .agg(min(struct(col("__cost"), col("__next_day"))).as("__bs"),
        max(col("__n")).as("n_days"), max(col("__sse_total")).as("sse_total"))
      .select(col("__k").as(keyCol), col("n_days"),
        col("__bs.__next_day").as("change_day"), col("sse_total"),
        col("__bs.__cost").as("sse_split"))
      .withColumn("gain", round(col("sse_total") - col("sse_split"), 6))
  }

  /**
   * P194 — time-to-convert: per key, the epoch micros of the FIRST
   * `fromType` event and of the first `toType` event STRICTLY after it,
   * with the gap in hours — the conversion-latency distribution behind
   * funnel SLAs ("how long from signup to first purchase"), feeding
   * P78's funnel depth with the "how fast" dimension. Keys that never
   * convert after their first exposure emit nothing (count them from
   * the P78 side). Strict `>` matches the funnel's tie rule.
   *
   * Shapes: one keyed min agg for the exposure, one shuffle_hash join
   * back, one keyed min for the conversion — all map-side combinable.
   * Exact integer micros; hours is one double division rounded at 6.
   */
  def timeToConvert(events: DataFrame, keyCol: String, tsCol: String,
      typeCol: String, fromType: String, toType: String): DataFrame = {
    require(fromType != toType, "timeToConvert: types must differ")
    val firstFrom = events
      .where(col(typeCol) === fromType && col(keyCol).isNotNull)
      .groupBy(col(keyCol))
      .agg(min(expr(s"unix_micros(`$tsCol`)")).as("from_us"))
    events
      .where(col(typeCol) === toType && col(keyCol).isNotNull)
      .select(col(keyCol), expr(s"unix_micros(`$tsCol`)").as("__t"))
      .join(firstFrom.hint("shuffle_hash"), Seq(keyCol.toString))
      .where(col("__t") > col("from_us"))
      .groupBy(col(keyCol), col("from_us"))
      .agg(min(col("__t")).as("conv_us"))
      .withColumn("hours",
        round((col("conv_us") - col("from_us")).cast("double") / 3.6e9, 6))
  }

  /**
   * P165 — seasonal-naive forecast backtest: forecast(day) =
   * value(day − `lagDays`) by CALENDAR join (never a row lag — gapped
   * series would silently shift), scored per key with MAE, MAPE (over
   * non-zero actuals) and mean bias — the baseline every real forecast
   * must beat, and the zero-model drift monitor ("this week looks
   * nothing like last week"). Days without a lagged counterpart drop.
   *
   * Shapes: one shuffle_hash self-join on (key, day−lag), one keyed
   * agg. Cross-engine: inputs are pre-rounded daily values, per-row
   * error terms round (ratio at 9) and DECIMAL-sum, outputs round
   * at 6.
   */
  def seasonalNaiveBacktest(points: DataFrame, keyCol: String,
      dayCol: String, valueCol: String, lagDays: Int = 7): DataFrame = {
    require(lagDays >= 1,
      s"seasonalNaiveBacktest: lagDays must be >= 1, got $lagDays")
    val prior = points.select(col(keyCol),
      date_add(col(dayCol), lagDays).as(dayCol.toString),
      col(valueCol).as("__f"))
    points.join(prior.hint("shuffle_hash"), Seq(keyCol.toString, dayCol.toString))
      .withColumn("__ae", abs(col(valueCol) - col("__f")).cast("decimal(18,6)"))
      .withColumn("__ape",
        when(col(valueCol) =!= 0,
          round(abs(col(valueCol) - col("__f")) / abs(col(valueCol)), 9)
            .cast("decimal(28,9)")))
      .withColumn("__e", (col(valueCol) - col("__f")).cast("decimal(18,6)"))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"),
        round(sum(col("__ae")).cast("double") /
          count(lit(1)).cast("double"), 6).as("mae"),
        when(count(col("__ape")) > 0,
          round(sum(col("__ape")).cast("double") /
            count(col("__ape")).cast("double"), 6)).as("mape"),
        round(sum(col("__e")).cast("double") /
          count(lit(1)).cast("double"), 6).as("bias"))
  }

  /**
   * P310 — forecast skill panel per key: MAE, RMSE, sMAPE for the
   * seasonal-naive forecast (value at day − `seasonLag`) plus MASE =
   * MAE_seasonal / MAE_persistence (lag-1) — the scale-free "is the
   * weekly pattern actually informative" verdict P165's raw MAE can't
   * give (MASE < 1 = the seasonal lag beats yesterday's value). Both
   * lags come by CALENDAR join (the P165 rule: row lags shift on
   * gapped series) and are scored over the SAME day set (days where
   * both exist), so the ratio is honest. Emits per key: n, mae, rmse,
   * smape, mase; a zero persistence MAE nulls MASE, all-zero day
   * pairs null sMAPE.
   *
   * Shape: two shuffle_hash calendar self-joins, one keyed agg.
   * Cross-engine: errors are exact DECIMAL(18,6) differences of
   * pre-rounded values, squares (37,12)-exact; sMAPE ratios round at
   * 9 through DECIMAL(28,9); one IEEE sqrt; outputs round at 6.
   */
  def forecastSkill(points: DataFrame, keyCol: String, dayCol: String,
      valueCol: String, seasonLag: Int = 7): DataFrame = {
    require(seasonLag >= 2,
      s"forecastSkill: seasonLag must be >= 2, got $seasonLag")
    def lagged(lag: Int, as: String) = points.select(col(keyCol),
      date_add(col(dayCol), lag).as(dayCol.toString), col(valueCol).as(as))
    val joined = points
      .join(lagged(seasonLag, "__f").hint("shuffle_hash"),
        Seq(keyCol.toString, dayCol.toString))
      .join(lagged(1, "__p").hint("shuffle_hash"),
        Seq(keyCol.toString, dayCol.toString))
    val d = (col(valueCol).cast("decimal(18,6)") -
      col("__f").cast("decimal(18,6)")).cast("decimal(18,6)")
    val d1 = (col(valueCol).cast("decimal(18,6)") -
      col("__p").cast("decimal(18,6)")).cast("decimal(18,6)")
    val sm = when(abs(col(valueCol)) + abs(col("__f")) =!= 0.0,
      round(lit(2.0) * abs(d.cast("double")) /
        (abs(col(valueCol)) + abs(col("__f"))), 9).cast("decimal(28,9)"))
    val agg = joined
      .select(col(keyCol), abs(d).as("__ad"), (d * d).as("__d2"),
        abs(d1).as("__ad1"), sm.as("__sm"))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"),
        sum(col("__ad")).cast("double").as("__sad"),
        sum(col("__d2")).cast("double").as("__sd2"),
        sum(col("__ad1")).cast("double").as("__sad1"),
        sum(col("__sm")).cast("double").as("__ssm"),
        count(col("__sm")).as("__nsm"))
    val nd = col("n").cast("double")
    agg.select(col(keyCol), col("n"),
      round(col("__sad") / nd, 6).as("mae"),
      round(sqrt(col("__sd2") / nd), 6).as("rmse"),
      when(col("__nsm") > 0,
        round(col("__ssm") / col("__nsm").cast("double"), 6)).as("smape"),
      when(col("__sad1") > 0,
        round(col("__sad") / nd / (col("__sad1") / nd), 6)).as("mase"))
  }

  /**
   * P121 — lag-k autocorrelation per key: Pearson r between each
   * series' (x_t, x_{t−lag}) pairs in (ts, tie) order — the
   * periodicity/persistence probe run before seasonal modeling, and the
   * repetition detector for metric streams (a bot's heartbeat
   * autocorrelates; organic traffic doesn't). Returns (key, n, acf)
   * with n the pair count; keys with < 2 pairs or zero variance on
   * either margin null out (the o11 degenerate rule).
   *
   * Shape: ONE keyed window shuffle for the lag, then a map-side-
   * combinable per-key moment agg — the o11 OLS discipline (values cast
   * DECIMAL(18,6), products (19,6), all five sums exact) closed by a
   * fixed double sequence per key.
   */
  def autocorrelation(df: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, valueCol: String, lag: Int): DataFrame = {
    require(lag >= 1, s"autocorrelation: lag must be >= 1, got $lag")
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol).asc, col(tieCol).asc)
    val paired = df
      .withColumn("__x", org.apache.spark.sql.functions.lag(col(valueCol), lag).over(w))
      .where(col("__x").isNotNull && col(valueCol).isNotNull)
    val dx = col("__x").cast("decimal(18,6)")
    val dy = col(valueCol).cast("decimal(18,6)")
    val dx19 = col("__x").cast("decimal(19,6)")
    val dy19 = col(valueCol).cast("decimal(19,6)")
    val sums = paired.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"),
        sum(dx).cast("double").as("__sx"),
        sum(dy).cast("double").as("__sy"),
        sum(dx19 * dy19).cast("double").as("__sxy"),
        sum(dx19 * dx19).cast("double").as("__sxx"),
        sum(dy19 * dy19).cast("double").as("__syy"))
    val nd = col("n").cast("double")
    val num = nd * col("__sxy") - col("__sx") * col("__sy")
    val denx = nd * col("__sxx") - col("__sx") * col("__sx")
    val deny = nd * col("__syy") - col("__sy") * col("__sy")
    sums
      .withColumn("acf", when(denx > 0 && deny > 0,
        round(num / (sqrt(denx) * sqrt(deny)), 6)))
      .drop("__sx", "__sy", "__sxy", "__sxx", "__syy")
  }

  /**
   * P81 — first-order Markov transition matrix over per-key event
   * sequences: count every adjacent (state → next state) pair in each
   * key's (ts, tie)-ordered history and emit row-normalized transition
   * probabilities — the session-path model behind next-action
   * prediction, trajectory filtering ("drop bot-like loops"), and
   * synthetic-sequence generation. Returns (from_type, to_type, cnt,
   * n_from, prob) with prob = cnt/n_from rounded at 6 decimals;
   * sequence-final events have no successor and contribute nothing.
   *
   * Scale shape: ONE keyed window shuffle for the lead (per-key
   * histories, the sessionizer's partitioning), then a (from, to) agg
   * that map-side combines to ≤ |states|² cells per partition, then a
   * window over the tiny agged frame for row totals. The tiebreaker
   * makes the order total — equal timestamps otherwise leave `lead`
   * partition-order-dependent (the as-of tie discipline).
   */
  def transitionMatrix(events: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, typeCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol).asc, col(tieCol).asc)
    val rows = Window.partitionBy(col("from_type"))
    events
      .select(col(typeCol).as("from_type"),
        lead(col(typeCol), 1).over(w).as("to_type"))
      .where(col("to_type").isNotNull)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("n_from", sum(col("cnt")).over(rows))
      .withColumn("prob",
        round(col("cnt").cast("double") / col("n_from"), 6))
  }

  /**
   * P201 — stationary distribution of a [[transitionMatrix]] by
   * `iters` unrolled power iterations from the uniform vector:
   * π ← πᵀP — where the event-type process settles, i.e. the
   * long-run share of each state ("at equilibrium, 30% of events are
   * purchases") that a raw frequency count conflates with burstiness.
   * The P88 idiom scaled down: the state space is the TYPE alphabet
   * (k rows), so every join is a broadcast-scale frame and the unroll
   * is k²-sized per step. A state with NO outgoing transitions is
   * treated as ABSORBING (implicit self-loop): its mass carries into
   * the next iterate instead of draining out of the distribution —
   * without the carry, a terminal state would silently leak Σπ below 1
   * and an all-absorbing tail would return an EMPTY frame. States whose
   * mass reaches 0 drop from the frame (correct: their stationary
   * share is 0). Emits (state, pi).
   *
   * Cross-engine: each step's products round at 9 and DECIMAL-sum,
   * and the summed mass re-rounds at 9 — iterative double state is
   * the gr1 portability trap, rounded decimal state is not.
   */
  def steadyState(trans: DataFrame, fromCol: String, toCol: String,
      probCol: String, iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 16,
      s"steadyState: iters must be in 1..16, got $iters")
    // The transition matrix is AGG-SIZED by definition (≤ |states|² cells),
    // but its upstream (typically a corpus-sized lead window) is referenced
    // by the states build + every unrolled round — materialized, the
    // upstream runs exactly once
    val cells = Graft.materialize(trans)
    val states = cells.select(col(fromCol).as("state"))
      .union(cells.select(col(toCol).as("state"))).distinct()
    val k = states.agg(count(lit(1)).as("__k"))
    var pi = states.crossJoin(broadcast(k))
      .withColumn("pi", round(lit(1.0) / col("__k").cast("double"), 9))
      .drop("__k")
    // __m marks a matched transition row so the absorbing-state carry can
    // be told apart from a (legal) null __to destination after the join
    val step = cells.select(col(fromCol).as("state"), col(toCol).as("__to"),
      col(probCol).as("__p"), lit(1).as("__m"))
    for (_ <- 1 to iters) {
      // ONE reference to pi per round (the r11 kCorePeel lineage rule —
      // the old inflow ∪ carry referenced pi twice, so the unrolled plan
      // held 2^iters clones of the init subtree: 210 parquet scans at
      // iters = 4). A left join produces the identical term multiset:
      // a pi row with outgoing transitions fans to its inflow terms
      // (round(p·π, 9), the inner-join rows), and a pi row with NO
      // outgoing row — __m null — carries its own mass unchanged, exactly
      // the old anti-join carry branch.
      pi = pi.join(step.hint("shuffle_hash"), Seq("state"), "left")
        .select(
          when(col("__m").isNull, col("state")).otherwise(col("__to"))
            .as("state"),
          when(col("__m").isNull, col("pi").cast("decimal(28,9)"))
            .otherwise(round(col("__p") * col("pi"), 9).cast("decimal(28,9)"))
            .as("__t"))
        .groupBy(col("state"))
        .agg(round(sum(col("__t")).cast("double"), 9).as("pi"))
    }
    pi
  }

  /**
   * P150 — Mann–Kendall trend test per key: S = Σ_{i<j} sign(x_j − x_i)
   * over the ordered series, tie-corrected variance, and the normal
   * z-statistic — the NONPARAMETRIC monotone-trend detector (no
   * linearity or normality assumed, robust to outliers), the standard
   * first question against drifting metrics. Emits (key, n, s, var_s,
   * z, trend) with trend the ±1.96 two-sided call; all-tied series
   * (var 0) and keys with < 2 points have no test → dropped/null.
   *
   * CALLER CONTRACT: the pair stage is quadratic in points-per-key —
   * feed RESAMPLED series (e.g. [[resampleFfill]]'s daily grid or a
   * per-period aggregate), never raw events; with bounded series
   * length the self-join is a per-key constant. Cross-engine: feed
   * values ALREADY rounded (sign compares rounded operands), S and the
   * tie sums are exact BIGINTs, var = one /18 division, z's sqrt is
   * IEEE-exact; z rounds at 6 and the trend label reads the ROUNDED z.
   */
  def mannKendall(points: DataFrame, keyCol: String, ordCol: String,
      valueCol: String): DataFrame = {
    val a = points.select(col(keyCol).as("__k"), col(ordCol).as("__oa"),
      col(valueCol).as("__va"))
    val b = points.select(col(keyCol).as("__k"), col(ordCol).as("__ob"),
      col(valueCol).as("__vb"))
    val sAgg = a.join(b.hint("shuffle_hash"), Seq("__k"))
      .where(col("__oa") < col("__ob"))
      .groupBy(col("__k"))
      .agg(sum(when(col("__vb") > col("__va"), 1L)
        .when(col("__vb") < col("__va"), -1L).otherwise(0L)).as("s"))
    val nAgg = points.groupBy(col(keyCol).as("__k")).agg(count(lit(1)).as("n"))
    val ties = points
      .groupBy(col(keyCol).as("__k"), col(valueCol).as("__v"))
      .agg(count(lit(1)).as("__t"))
      .groupBy(col("__k"))
      .agg(sum(col("__t") * (col("__t") - 1) * (lit(2L) * col("__t") + 5))
        .as("__tsum"))
    val varS = (col("n") * (col("n") - 1) * (lit(2L) * col("n") + 5) -
      col("__tsum")).cast("double") / lit(18.0)
    nAgg.join(sAgg.hint("shuffle_hash"), Seq("__k"))
      .join(ties.hint("shuffle_hash"), Seq("__k"))
      .withColumn("var_s", round(varS, 6))
      .withColumn("z", when(varS > 0,
        round(when(col("s") > 0, (col("s") - 1).cast("double") / sqrt(varS))
          .when(col("s") < 0, (col("s") + 1).cast("double") / sqrt(varS))
          .otherwise(lit(0.0)), 6)))
      .withColumn("trend",
        when(col("z").isNull, lit(null).cast("string"))
          .when(col("z") >= 1.96, lit("increasing"))
          .when(col("z") <= -1.96, lit("decreasing"))
          .otherwise(lit("none")))
      .select(col("__k").as(keyCol), col("n"), col("s"), col("var_s"),
        col("z"), col("trend"))
  }

  /**
   * P157 — classical additive seasonal decomposition of a per-key daily
   * series: trend = centered 7-day moving average (full windows only —
   * edges null), seasonal = per-weekday mean of the detrended values,
   * residual = v − trend − seasonal — the decomposition behind every
   * "is this drop real or just Sunday?" question, as three columns
   * instead of a modeling library. Weekday = epoch-day mod 7 (the P141
   * rule, never locale dayofweek).
   *
   * CALLER CONTRACT: feed a RESAMPLED (key, day, v) grid with v already
   * rounded (P113/P141 build one); gaps make the moving average window
   * a row window over missing days — resample first. Shapes: one
   * per-key ordered window (trend), one (key, dow) agg joined back
   * (shuffle_hash), pure projections otherwise. Cross-engine: trend =
   * DECIMAL-sum/7 rounded at 6, detrended values round at 6 BEFORE the
   * seasonal mean (the o10 pre-round rule), every output rounds at 6.
   */
  def seasonalDecompose(points: DataFrame, keyCol: String, dayCol: String,
      valueCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(dayCol).asc).rowsBetween(-3, 3)
    val withTrend = points
      .withColumn("__wn", count(lit(1)).over(w))
      .withColumn("trend",
        when(col("__wn") === 7,
          round(sum(col(valueCol).cast("decimal(18,6)")).over(w)
            .cast("double") / lit(7.0), 6)))
      .withColumn("dow",
        pmod(datediff(col(dayCol), lit("1970-01-05").cast("date")), lit(7)))
      .withColumn("__detr",
        when(col("trend").isNotNull,
          round(col(valueCol) - col("trend"), 6)))
    val seasonal = withTrend.where(col("__detr").isNotNull)
      .groupBy(col(keyCol), col("dow"))
      .agg(round(sum(col("__detr").cast("decimal(18,6)")).cast("double") /
        count(lit(1)).cast("double"), 6).as("seasonal"))
    withTrend
      .join(seasonal.hint("shuffle_hash"), Seq(keyCol.toString, "dow"), "left")
      .withColumn("resid",
        when(col("trend").isNotNull && col("seasonal").isNotNull,
          round(col(valueCol) - col("trend") - col("seasonal"), 6)))
      .drop("__wn", "__detr")
  }

  /**
   * P187 — seasonal strength (Hyndman & Athanasopoulos): per key,
   * F_s = max(0, 1 − var(resid)/var(detrended)) over a
   * [[seasonalDecompose]] output — ONE number for "is this series'
   * weekday pattern real" (≈0 no seasonality, →1 dominant), the triage
   * that decides whether P141's multiplicative factors are worth
   * applying. Emits (key, n, strength); degenerate detrended variance
   * → null. Feed rows where `residCol` is non-null. The value/trend/
   * resid column names mirror [[seasonalDecompose]]'s defaults and are
   * parameterized for callers that renamed them.
   *
   * One fused decimal moment agg over the pre-rounded detrended/resid
   * columns; population variances; a fixed double closing sequence
   * rounded at 6.
   */
  def seasonalStrength(decomposed: DataFrame, keyCol: String,
      valueCol: String = "v", trendCol: String = "trend",
      residCol: String = "resid"): DataFrame = {
    Seq(valueCol, trendCol, residCol).foreach { c =>
      require(decomposed.columns.contains(c),
        s"seasonalStrength: input is missing column '$c' — pass the " +
          "seasonalDecompose output (or name its columns explicitly)")
    }
    val detr = round(col(valueCol) - col(trendCol), 6)
    val d6 = detr.cast("decimal(18,6)")
    val d19 = detr.cast("decimal(19,6)")
    val r6 = col(residCol).cast("decimal(18,6)")
    val r19 = col(residCol).cast("decimal(19,6)")
    val m = decomposed.where(col(residCol).isNotNull)
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"),
        sum(d6).cast("double").as("__sd"),
        sum(d19 * d19).cast("double").as("__qd"),
        sum(r6).cast("double").as("__sr"),
        sum(r19 * r19).cast("double").as("__qr"))
    val nd = col("n").cast("double")
    val varD = greatest(
      col("__qd") / nd - (col("__sd") / nd) * (col("__sd") / nd), lit(0.0))
    val varR = greatest(
      col("__qr") / nd - (col("__sr") / nd) * (col("__sr") / nd), lit(0.0))
    m.withColumn("strength",
        when(varD > 0,
          round(greatest(lit(1.0) - varR / varD, lit(0.0)), 6)))
      .select(col(keyCol), col("n"), col("strength"))
  }

  /**
   * P141 — day-of-week seasonal profile: per weekday, the mean of
   * `valueCol` and its index against the whole-corpus mean (index > 1 ⇒ the
   * day runs hot) — the multiplicative seasonal factor a forecast
   * divides out, and the batch-scheduling signal ("Mondays are 1.4×,
   * size the cluster for it"). Weekday is pure epoch-day arithmetic —
   * days since Monday 1970-01-05 mod 7, so 0 = Monday — never the
   * engine's locale-dependent dayofweek().
   *
   * Shapes: ONE map-side-combinable keyed agg (≤ 7 groups) plus the
   * 1-row global moment broadcast back (the P125 scalar-row idiom).
   * DECIMAL sums; means and the index are fixed double sequences on
   * identical operands, rounded at 6.
   */
  def seasonalProfile(df: DataFrame, tsCol: String,
      valueCol: String): DataFrame = {
    val dec = col(valueCol).cast("decimal(18,6)")
    val d = df.where(col(tsCol).isNotNull && col(valueCol).isNotNull)
      .withColumn("dow",
        pmod(datediff(to_date(col(tsCol)), lit("1970-01-05").cast("date")),
          lit(7)))
    val global = d.agg(sum(dec).cast("double").as("__gs"),
      count(lit(1)).as("__gn"))
    d.groupBy(col("dow"))
      .agg(count(lit(1)).as("n"), sum(dec).cast("double").as("__s"))
      .join(broadcast(global)) // 1-row scalar side
      .withColumn("mean_v", round(col("__s") / col("n").cast("double"), 6))
      .withColumn("seas_idx",
        round((col("__s") / col("n").cast("double")) /
          (col("__gs") / col("__gn").cast("double")), 6))
      .drop("__s", "__gs", "__gn")
  }

  /**
   * P216 — cross-correlation function between two keys' daily series:
   * for each lag 0..maxLag, Pearson r between x's value on day t and
   * y's value on day t−lag ("does purchase volume lead click volume,
   * and by how many days") — the lead/lag probe run before any
   * cross-metric causal story; the lag that maximizes |ccf| is the
   * transfer delay. Emits (lag, n, ccf) with n the aligned pair count;
   * lags with < 2 pairs or a zero-variance margin null out (the o11
   * degenerate rule).
   *
   * Shapes: the series frames are daily aggregates (agg-sized), the
   * lag ladder is a broadcast k-row frame (the adjudicated cross-join
   * class), the alignment join is keyed on the lagged day, and each
   * lag's moments fuse into one map-side-combinable agg. Cross-engine:
   * the P121 autocorrelation discipline verbatim — values DECIMAL(18,6),
   * products (19,6), five exact sums, one closing double sequence with
   * two IEEE sqrts, rounded at 6.
   */
  def crossCorrelation(daily: DataFrame, keyCol: String, dayCol: String,
      valCol: String, keyX: String, keyY: String, maxLag: Int): DataFrame = {
    require(maxLag >= 0 && maxLag <= 60,
      s"crossCorrelation: maxLag must be in 0..60, got $maxLag")
    val xs = daily.where(col(keyCol) === keyX && col(valCol).isNotNull)
      .select(col(dayCol).as("__day"), col(valCol).cast("double").as("__x"))
    val ys = daily.where(col(keyCol) === keyY && col(valCol).isNotNull)
      .select(col(dayCol).as("__yday"), col(valCol).cast("double").as("__y"))
    val lags = daily.sparkSession.range(0, maxLag + 1L)
      .select(col("id").cast("int").as("lag"))
    val dx = col("__x").cast("decimal(18,6)")
    val dy = col("__y").cast("decimal(18,6)")
    val dx19 = col("__x").cast("decimal(19,6)")
    val dy19 = col("__y").cast("decimal(19,6)")
    val sums = xs.crossJoin(broadcast(lags)) // k-row lag ladder
      .join(ys, col("__yday") === date_sub(col("__day"), col("lag")))
      .groupBy(col("lag"))
      .agg(count(lit(1)).as("n"),
        sum(dx).cast("double").as("__sx"),
        sum(dy).cast("double").as("__sy"),
        sum(dx19 * dy19).cast("double").as("__sxy"),
        sum(dx19 * dx19).cast("double").as("__sxx"),
        sum(dy19 * dy19).cast("double").as("__syy"))
    val nd = col("n").cast("double")
    val num = nd * col("__sxy") - col("__sx") * col("__sy")
    val denx = nd * col("__sxx") - col("__sx") * col("__sx")
    val deny = nd * col("__syy") - col("__sy") * col("__sy")
    sums
      .withColumn("ccf", when(col("n") > 1 && denx > 0 && deny > 0,
        round(num / (sqrt(denx) * sqrt(deny)), 6)))
      .drop("__sx", "__sy", "__sxy", "__sxx", "__syy")
  }

  /**
   * P226 — churn label + feature generation per key: activity span
   * (first/last day, distinct active days), volume (event count, mean
   * value) and the LABEL churned = "no event within `horizonDays` of
   * the corpus high-water day" — the supervised frame a retention model
   * trains on, produced as ONE deterministic pass (label leakage rule:
   * every feature reads only the same window the label does). Emits
   * (keys..., n_events, active_days, first_day, last_day, recency_days,
   * churned, mean_value); keys with only null values null mean_value.
   *
   * Shapes: one keyed agg (map-side combinable; countDistinct on the
   * day expands to the standard two-phase aggregate), the corpus
   * high-water day broadcast as a 1-row scalar frame. Cross-engine:
   * counts/dates exact; mean through the DECIMAL(18,6) sum, rounded
   * at 6; recency is exact integer day arithmetic.
   */
  def churnLabels(df: DataFrame, keyCols: Seq[String], tsCol: String,
      valueCol: String, horizonDays: Int): DataFrame = {
    require(keyCols.nonEmpty, "churnLabels: need at least one key column")
    require(horizonDays >= 1,
      s"churnLabels: horizonDays must be >= 1, got $horizonDays")
    val base = df
      .where(keyCols.map(col(_).isNotNull).reduce(_ && _) &&
        col(tsCol).isNotNull)
      .withColumn("__day", to_date(col(tsCol)))
    val hwm = base.agg(max(col("__day")).as("__maxd"))
    base.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("__day")).as("active_days"),
        min(col("__day")).as("first_day"),
        max(col("__day")).as("last_day"),
        round(sum(col(valueCol).cast("decimal(18,6)")).cast("double") /
          count(col(valueCol)).cast("double"), 6).as("mean_value"))
      .join(broadcast(hwm)) // 1-row scalar side
      .withColumn("recency_days", datediff(col("__maxd"), col("last_day")))
      .withColumn("churned", col("recency_days") > horizonDays)
      .drop("__maxd")
      .select((keyCols.map(col) ++ Seq(col("n_events"), col("active_days"),
        col("first_day"), col("last_day"), col("recency_days"),
        col("churned"), col("mean_value"))): _*)
  }

  /**
   * P242 — engagement stickiness: per calendar day, the exact count of
   * active users that day (DAU) and over the trailing `windowDays`
   * (WAU/MAU), and their ratio — THE product-engagement series
   * ("stickiness 0.5 = the average weekly user shows up 3.5 days a
   * week"). Emits (day, dau, window_users, stickiness); the first
   * window−1 days report their genuinely partial trailing window
   * (documented — truncating them is a caller's filter, not silent
   * behavior here).
   *
   * Shapes: one (day, user) dedup agg, then the day spine (an
   * agg-sized frame) broadcast against it with a bounded date-range
   * predicate — the fan-out is ≤ windowDays per user-day, never
   * corpus×corpus — and one distinct-count agg per day. Exact BIGINTs
   * and one rounded ratio.
   */
  def activeUserRatio(df: DataFrame, userCol: String, tsCol: String,
      windowDays: Int = 7): DataFrame = {
    require(windowDays >= 2 && windowDays <= 90,
      s"activeUserRatio: windowDays must be in 2..90, got $windowDays")
    val du = df.where(col(userCol).isNotNull && col(tsCol).isNotNull)
      .select(to_date(col(tsCol)).as("__d"), col(userCol).as("__u"))
      .distinct()
    val days = du.select(col("__d").as("day")).distinct()
    val dau = du.groupBy(col("__d").as("day"))
      .agg(countDistinct(col("__u")).as("dau"))
    val wau = days.join(du,
        col("__d") > date_sub(col("day"), windowDays) &&
          col("__d") <= col("day"))
      .groupBy(col("day"))
      .agg(countDistinct(col("__u")).as("window_users"))
    dau.join(wau.hint("shuffle_hash"), Seq("day"))
      .withColumn("stickiness",
        round(col("dau").cast("double") /
          col("window_users").cast("double"), 6))
  }

  /**
   * P284 — growth accounting: decompose each day's active users into
   * new (first day ever), retained (active yesterday), resurrected
   * (active before, but not yesterday), and count the users CHURNED
   * into the day (active yesterday, absent today) — the standard DAU
   * decomposition whose identity active(d) = retained + new +
   * resurrected (and churned = yesterday's active − retained) makes
   * flat DAU curves legible ("flat because nobody leaves" vs "a leaky
   * bucket refilled by acquisition"). Emits per day (day, n_active,
   * n_new, n_retained, n_resurrected, n_churned); churn past the
   * corpus's last day is unobservable and excluded, and a day with
   * ZERO actives does not appear at all (its churn inflow shows up as
   * the new/resurrected deficit of the next active day) — spec-pinned.
   *
   * Shape: one distinct (user, day) reduction, ONE user-partitioned
   * lag/lead window, two day-keyed aggs + a left join (shuffle_hash —
   * post-agg sides). All counts exact BIGINTs; no floats anywhere.
   */
  def growthAccounting(events: DataFrame, keyCol: String,
      tsCol: String): DataFrame = {
    val acts = events.where(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .select(col(keyCol).as("__u"), to_date(col(tsCol)).as("__d"))
      .distinct()
    val w = Window.partitionBy(col("__u")).orderBy(col("__d").asc)
    val flagged = acts
      .withColumn("__prev", lag(col("__d"), 1).over(w))
      .withColumn("__next", lead(col("__d"), 1).over(w))
    val maxd = acts.agg(max(col("__d")).as("__maxd"))
    val perDay = flagged.groupBy(col("__d").as("day"))
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("__prev").isNull, 1L).otherwise(0L)).as("n_new"),
        sum(when(datediff(col("__d"), col("__prev")) === 1, 1L)
          .otherwise(0L)).as("n_retained"),
        sum(when(col("__prev").isNotNull &&
          datediff(col("__d"), col("__prev")) > 1, 1L).otherwise(0L))
          .as("n_resurrected"))
    val churn = flagged.crossJoin(broadcast(maxd)) // 1-row scalar side
      .where((col("__next").isNull && col("__d") < col("__maxd")) ||
        (col("__next").isNotNull &&
          datediff(col("__next"), col("__d")) > 1))
      .select(date_add(col("__d"), 1).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("__ch"))
    perDay.join(churn.hint("shuffle_hash"), Seq("day"), "left")
      .select(col("day"), col("n_active"), col("n_new"), col("n_retained"),
        col("n_resurrected"), coalesce(col("__ch"), lit(0L)).as("n_churned"))
  }

  /**
   * P280 — individuals/moving-range (I-MR) control chart: per key,
   * center = the series mean, control limits = center ± 2.66·MR̄ with
   * MR̄ the mean absolute move between consecutive points (2.66 =
   * 3/d₂ for n = 2, the Shewhart constant) — the classic SPC read that
   * flags single out-of-control points against the series' OWN
   * short-term noise, where a plain ±3σ band is inflated by any trend.
   * Emits the full per-(key, ord) chart: value, mr, center, ucl, lcl,
   * out_of_control.
   *
   * Shape: one key-partitioned lag window + one keyed agg + a
   * shuffle_hash join back (post-agg side has no stats — the d11
   * rule). Cross-engine: values and moves are exact DECIMAL(18,6)
   * (the caller feeds 6-rounded values), center/MR̄/limits are fixed
   * double sequences rounded at 6, and the flag compares 6-rounded
   * exact decimals — no knife edge.
   */
  def individualsChart(df: DataFrame, keyCol: String, ordCol: String,
      valueCol: String): DataFrame = {
    val dec = col(valueCol).cast("decimal(18,6)")
    val base = df.where(col(keyCol).isNotNull && col(ordCol).isNotNull &&
        col(valueCol).isNotNull)
      .select(col(keyCol).as("__k"), col(ordCol).as("__o"), dec.as("__v"))
    val w = Window.partitionBy(col("__k")).orderBy(col("__o").asc)
    val withMr = base.withColumn("__mr",
      abs(col("__v") - lag(col("__v"), 1).over(w)))
    val limits = withMr.groupBy(col("__k"))
      .agg(count(lit(1)).as("__n"),
        round(sum(col("__v")).cast("double") /
          count(lit(1)).cast("double"), 6).as("center"),
        when(count(col("__mr")) > 0,
          round(sum(col("__mr")).cast("double") /
            count(col("__mr")).cast("double"), 6)).as("mr_bar"))
      .withColumn("ucl",
        when(col("mr_bar").isNotNull,
          round(col("center") + lit(2.66) * col("mr_bar"), 6)))
      .withColumn("lcl",
        when(col("mr_bar").isNotNull,
          round(col("center") - lit(2.66) * col("mr_bar"), 6)))
      .drop("__n")
    withMr.join(limits.hint("shuffle_hash"), Seq("__k"))
      .select(col("__k").as(keyCol), col("__o").as(ordCol),
        col("__v").cast("double").as("value"),
        round(col("__mr").cast("double"), 6).as("mr"),
        col("center"), col("ucl"), col("lcl"),
        when(col("ucl").isNotNull,
          col("__v").cast("double") > col("ucl") ||
            col("__v").cast("double") < col("lcl")).as("out_of_control"))
  }

  /** The shared pooled-mean ACF pass (P291/P314): per key, ρ_k =
    * Σdm_t·dm_{t−k} / Σdm² at lags 1..maxLag from ONE lag window over
    * micro-unit integer deviations — the exact construction documented
    * on [[ljungBox]], extracted so the PACF cannot drift from the Q
    * statistic's autocorrelations. Returns (__k, n, __r1..__rmaxLag),
    * each ρ 6-rounded; zero-variance keys drop. */
  private def pooledAcf(df: DataFrame, keyCol: String, ordCol: String,
      valueCol: String, maxLag: Int): DataFrame = {
    require(maxLag >= 1 && maxLag <= 24,
      s"pooledAcf: maxLag must be in 1..24, got $maxLag")
    val base = df.where(col(keyCol).isNotNull && col(ordCol).isNotNull &&
        col(valueCol).isNotNull)
      .select(col(keyCol).as("__k"), col(ordCol).as("__o"),
        col(valueCol).cast("decimal(18,6)").as("__v"))
    val means = base.groupBy(col("__k"))
      .agg(round(sum(col("__v")).cast("double") /
        count(lit(1)).cast("double"), 6).cast("decimal(18,6)").as("__mean"))
    val w = Window.partitionBy(col("__k")).orderBy(col("__o").asc)
    var d = base.join(means.hint("shuffle_hash"), Seq("__k"))
      .withColumn("__dm",
        ((col("__v") - col("__mean")) * lit(1000000L)).cast("long"))
    for (k <- 1 to maxLag)
      d = d.withColumn(s"__l$k", lag(col("__dm"), k).over(w))
    // micro-unit squares through DECIMAL(19,0) products: exact, and no
    // ANSI Long-overflow cliff once |v − mean| passes ~554 (the
    // o31/gr6/o36 widening rule — internal columns, close to double)
    def d19(c: Column) = c.cast("decimal(19,0)")
    val aggExprs =
      Seq(count(lit(1)).as("n"),
        sum(d19(col("__dm")) * d19(col("__dm"))).as("__den")) ++
        (1 to maxLag).map(k =>
          sum(d19(col("__dm")) * d19(coalesce(col(s"__l$k"), lit(0L))))
            .as(s"__n$k"))
    val sums = d.groupBy(col("__k")).agg(aggExprs.head, aggExprs.tail: _*)
    val rho = (1 to maxLag).map { k =>
      round(col(s"__n$k").cast("double") / col("__den").cast("double"), 6)
        .as(s"__r$k")
    }
    sums.where(col("__den") > 0)
      .select(col("__k") +: col("n") +: rho: _*)
  }

  /**
   * P291 — Ljung–Box portmanteau test: per key, the pooled-mean sample
   * autocorrelations ρ̂₁..ρ̂_h of the ordered series and
   * Q = n(n+2)·Σ ρ̂k²/(n−k) — "is there ANY serial structure in the
   * first h lags" (o78's Durbin–Watson sees only lag 1; this is the
   * residual-whiteness gate a forecast backtest should quote). Input
   * values must be 6-rounded (the dailyMeans contract). Emits per key
   * (key, n, h, q_stat, dof = h); n ≤ h + 1 nulls the statistic (lags
   * with n − k ≤ 0 are skipped) and a constant series (zero variance)
   * drops its key.
   *
   * Shape: ONE key-partitioned window carrying all h lags + one keyed
   * agg. Cross-engine: deviations from the 6-rounded mean become exact
   * micro-unit BIGINTs; lag products and the denominator are exact
   * integer sums; each ρ̂k and Σ-term is a fixed double sequence
   * rounded at 6/9 with DECIMAL(28,9) accumulation.
   */
  def ljungBox(df: DataFrame, keyCol: String, ordCol: String,
      valueCol: String, maxLag: Int = 7): DataFrame = {
    val withRho = pooledAcf(df, keyCol, ordCol, valueCol, maxLag)
    val nd = col("n").cast("double")
    val terms = (1 to maxLag).map { k =>
      when(col("n") > k,
        round(col(s"__r$k") * col(s"__r$k") / (nd - lit(k.toDouble)), 9))
        .otherwise(lit(0.0)).cast("decimal(28,9)")
    }.reduce(_ + _)
    withRho
      .select(col("__k").as(keyCol), col("n"),
        lit(maxLag).as("h"),
        when(col("n") > maxLag + 1,
          round(nd * (nd + lit(2.0)) * terms.cast("double"), 6))
          .as("q_stat"),
        lit(maxLag.toLong).as("dof"))
  }

  /**
   * P297 — Granger causality at lag 1: does x's past improve the
   * prediction of y beyond y's own past? Compare the restricted fit
   * y_t ~ y_{t−1} against the unrestricted y_t ~ y_{t−1} + x_{t−1} by
   * their closed-form SSEs (two-regressor normal equations — no
   * iteration) and F = (SSE_r − SSE_u)·(n−3)/SSE_u — the
   * "leading-indicator" verdict behind metric alerting and feature
   * ordering. Emits ONE row per (key, direction): (key, direction, n,
   * f_stat, r2_restricted, r2_unrestricted), both x→y and y→x so the
   * asymmetry is visible; degenerate moments (D ≤ 0, SSE_u ≤ 0,
   * n ≤ 3) null the verdict.
   *
   * Shape: one key-partitioned lag window + one keyed moment agg per
   * direction (map-side combinable). Cross-engine: the nine moments go
   * through exact DECIMAL(19,6) products (the o11 discipline); the
   * scaled central moments U_ab = n·Σab − Σa·Σb are homogeneous, so
   * every ratio (coefficients, SSEs, F, R²) is a fixed double sequence
   * on identical operands, rounded at 6.
   */
  def grangerLag1(df: DataFrame, keyCol: String, ordCol: String,
      xCol: String, yCol: String): DataFrame = {
    val w = Window.partitionBy(col("__k")).orderBy(col("__o").asc)
    def direction(cause: String, effect: String, tag: String): DataFrame = {
      val base = df.where(col(keyCol).isNotNull && col(ordCol).isNotNull &&
          col(cause).isNotNull && col(effect).isNotNull)
        .select(col(keyCol).as("__k"), col(ordCol).as("__o"),
          col(cause).cast("double").as("__x"),
          col(effect).cast("double").as("__y"))
      val lagged = base
        .withColumn("__u", lag(col("__y"), 1).over(w)) // y's own past
        .withColumn("__v", lag(col("__x"), 1).over(w)) // the cause's past
        .where(col("__u").isNotNull && col("__v").isNotNull)
      // products at (18,6)² = (37,12): exact in Spark; a (19,6)² product
      // caps to (38,11) and silently drops the 12th fractional digit
      // the DuckDB oracle keeps (the r10 decimal-product cliff)
      def d18(c: String) = col(c).cast("decimal(18,6)")
      val m = lagged.groupBy(col("__k"))
        .agg(count(lit(1)).as("n"),
          sum(d18("__y")).cast("double").as("__sy"),
          sum(d18("__u")).cast("double").as("__su"),
          sum(d18("__v")).cast("double").as("__sv"),
          sum(d18("__y") * d18("__y")).cast("double").as("__syy"),
          sum(d18("__u") * d18("__u")).cast("double").as("__suu"),
          sum(d18("__v") * d18("__v")).cast("double").as("__svv"),
          sum(d18("__u") * d18("__y")).cast("double").as("__suy"),
          sum(d18("__v") * d18("__y")).cast("double").as("__svy"),
          sum(d18("__u") * d18("__v")).cast("double").as("__suv"))
      val nd = col("n").cast("double")
      val uyy = nd * col("__syy") - col("__sy") * col("__sy")
      val uuu = nd * col("__suu") - col("__su") * col("__su")
      val uvv = nd * col("__svv") - col("__sv") * col("__sv")
      val uuy = nd * col("__suy") - col("__su") * col("__sy")
      val uvy = nd * col("__svy") - col("__sv") * col("__sy")
      val uuv = nd * col("__suv") - col("__su") * col("__sv")
      val dDet = uuu * uvv - uuv * uuv
      val b = (uvv * uuy - uuv * uvy) / dDet
      val c = (uuu * uvy - uuv * uuy) / dDet
      val sseR = uyy - uuy * uuy / uuu
      val sseU = uyy - b * uuy - c * uvy
      val ok = col("n") > 3 && uuu > 0 && dDet > 0 && uyy > 0 && sseU > 0
      m.select(col("__k").as(keyCol), lit(tag).as("direction"), col("n"),
        when(ok, round((sseR - sseU) * (nd - lit(3.0)) / sseU, 6))
          .as("f_stat"),
        when(ok, round(lit(1.0) - sseR / uyy, 6)).as("r2_restricted"),
        when(ok, round(lit(1.0) - sseU / uyy, 6)).as("r2_unrestricted"))
    }
    direction(xCol, yCol, s"$xCol->$yCol")
      .unionByName(direction(yCol, xCol, s"$yCol->$xCol"))
  }

  /** The variance-of-aggregates scale ladder and its ln literals for
    * [[hurstExponent]] — driver-computed (no runtime libm for x; the
    * block-variance ln rounds at 6, the established o33 discipline). */
  val HurstScales: Seq[Int] = Seq(1, 2, 4, 8)

  /**
   * P292 — Hurst exponent by variance of aggregates: block the series
   * into m-point means for m in [[HurstScales]], regress ln Var(m) on
   * ln m — slope β estimates 2H − 2, so H = 1 + β/2 (H ≈ 0.5
   * uncorrelated, > 0.5 persistent/long-memory, < 0.5 mean-reverting) —
   * the long-range-dependence read that says whether daily metrics can
   * be modeled as independent noise at ANY aggregation level. Emits per
   * key (key, n_scales, slope, hurst); degenerate variances null the
   * fit.
   *
   * Shape: one scale-exploded block agg (m·blocks keyed — partition-
   * parallel), variance moments per (key, m) in exact micro-unit
   * BIGINTs, then [[graft.operators.Features.olsFit]] over the
   * k-scale-point frame. Cross-engine: block means round at 6; x = ln m
   * driver literals; y = round(ln(var), 6) (the o33/q11 ln-firewall);
   * incomplete tail blocks drop (count = m filter).
   */
  def hurstExponent(df: DataFrame, keyCol: String, ordCol: String,
      valueCol: String): DataFrame = {
    val scales = HurstScales
    val base = df.where(col(keyCol).isNotNull && col(ordCol).isNotNull &&
        col(valueCol).isNotNull)
      .select(col(keyCol).as("__k"), col(ordCol).cast("long").as("__o"),
        col(valueCol).cast("decimal(18,6)").as("__v"))
    val exploded = base.select(col("__k"), col("__o"), col("__v"),
      explode(array(scales.map(lit): _*)).as("__m"))
    val blocks = exploded
      .groupBy(col("__k"), col("__m"), floor(col("__o") / col("__m")).as("__b"))
      .agg(count(lit(1)).as("__cnt"),
        round(sum(col("__v")).cast("double") /
          count(lit(1)).cast("double"), 6).cast("decimal(18,6)").as("__bm"))
      .where(col("__cnt") === col("__m"))
      .select(col("__k"), col("__m"),
        (col("__bm") * lit(1000000L)).cast("long").as("__mm"))
    // block-mean squares through DECIMAL(19,0) products (values ×10⁶ of
    // RAW magnitudes, not deviations — the Long cliff opens at ~554)
    def d19(c: Column) = c.cast("decimal(19,0)")
    val vars = blocks.groupBy(col("__k"), col("__m"))
      .agg(count(lit(1)).as("__nb"), sum(col("__mm")).as("__s"),
        sum(d19(col("__mm")) * d19(col("__mm"))).as("__s2"))
      .where(col("__nb") > 1)
    val nb = col("__nb").cast("double")
    // sample variance in micro² units, then back to value units
    val vard = (nb * col("__s2").cast("double") -
      col("__s").cast("double") * col("__s").cast("double")) /
      (nb * (nb - lit(1.0))) / lit(1.0e12)
    val lnM = scales.tail.foldLeft(
      when(col("__m") === scales.head, lit(math.log(scales.head.toDouble)))) {
        case (acc, m) => acc.when(col("__m") === m, lit(math.log(m.toDouble)))
      }
    val points = vars.where(vard > 0)
      .select(col("__k"), lnM.as("x"), round(log(vard), 6).as("y"))
    graft.operators.Features.olsFit(points, "__k", "x", "y")
      .select(col("__k").as(keyCol), col("n").as("n_scales"),
        col("slope"),
        when(col("slope").isNotNull,
          round(lit(1.0) + col("slope") / lit(2.0), 6)).as("hurst"))
  }

  /** The Gumbel method-of-moments constants (√6/π, the Euler–Mascheroni
    * γ, ln(−ln(0.99)) for the 100-block return level) — computed ONCE
    * on the driver so the operator and any oracle generator embed
    * IDENTICAL double literals (no runtime libm on either engine). */
  def gumbelConstants: (Double, Double, Double) =
    (math.sqrt(6.0) / math.Pi, 0.5772156649015329,
      math.log(-math.log(0.99)))

  /**
   * P278 — Gumbel block-maxima fit (method of moments): per key, take
   * the per-block maxima (the classical EVT reduction — daily/hourly
   * peaks), fit the Gumbel location/scale by moments (β = s·√6/π,
   * μ = m̄ − γβ) and read off the 100-block return level
   * μ − β·ln(−ln(0.99)) — "the daily peak you should expect to exceed
   * about once per 100 days", the capacity-planning number a mean/p99
   * over RAW rows systematically understates. Emits per key (key,
   * n_blocks, mean_max, sd_max, beta, mu, rl100); fewer than 2 blocks
   * or zero variance nulls the fit.
   *
   * Shape: two keyed aggs (block maxima, then moments) — fully
   * partition-parallel, no windows; max is order-insensitive so the
   * block agg is exact by construction. Cross-engine: maxima round at
   * 6 then the moments go through exact DECIMAL(19,6) products (the
   * o11 discipline); every derived stat is a fixed double sequence on
   * the PREVIOUS rounded column with [[gumbelConstants]] literals,
   * rounded at 6.
   */
  def gumbelBlockMaxima(df: DataFrame, keyCol: String, blockCol: String,
      valueCol: String): DataFrame = {
    val (c1, g, c2) = gumbelConstants
    val maxima = df.where(col(keyCol).isNotNull && col(blockCol).isNotNull &&
        col(valueCol).isNotNull)
      .groupBy(col(keyCol), col(blockCol))
      .agg(round(max(col(valueCol).cast("double")), 6).as("__m"))
    val s = maxima.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_blocks"),
        sum(col("__m").cast("decimal(18,6)")).cast("double").as("__sx"),
        // (18,6)² = (37,12) exact in Spark — (19,6)² would cap at
        // (38,11) and shear a digit the DuckDB oracle keeps
        sum(col("__m").cast("decimal(18,6)") *
          col("__m").cast("decimal(18,6)")).cast("double").as("__sxx"))
    val nd = col("n_blocks").cast("double")
    val vard = (nd * col("__sxx") - col("__sx") * col("__sx")) /
      (nd * (nd - lit(1.0)))
    s.withColumn("mean_max", round(col("__sx") / nd, 6))
      .withColumn("sd_max",
        when(col("n_blocks") > 1 && vard > 0, round(sqrt(vard), 6)))
      .withColumn("beta",
        when(col("sd_max").isNotNull, round(col("sd_max") * lit(c1), 6)))
      .withColumn("mu",
        when(col("beta").isNotNull,
          round(col("mean_max") - lit(g) * col("beta"), 6)))
      .withColumn("rl100",
        when(col("beta").isNotNull,
          round(col("mu") - col("beta") * lit(c2), 6)))
      .drop("__sx", "__sxx")
  }

  /**
   * P322 — Little's law audit over jobs with arrival/completion days:
   * arrival rate λ = n/T, mean time-in-system W, time-averaged WIP
   * L via an exact +1/−1 delta sweep over the day spine, and the WIP
   * peak — the queueing read of any backlog (orders in flight, tickets
   * open, builds running). L = λ·W holds EXACTLY here (the sweep and
   * the duration sum count the same job-days), so the emitted L is the
   * conservation audit of the sweep; peak/L is the burstiness read.
   * Jobs completing before they arrive are rejected loudly. Emits ONE
   * row: n_jobs, t_days, lambda_per_day, w_days, l_avg, wip_peak.
   *
   * Shape: one delta agg over distinct event days, one cumulative
   * window over that day frame (calendar-sized at any corpus scale —
   * allowlisted), two scalar aggs. Cross-engine: all areas/durations
   * exact integer day arithmetic; the three ratios are single double
   * divisions rounded at 6.
   */
  def littlesLaw(jobs: DataFrame, arrivalCol: String,
      completionCol: String): DataFrame = {
    val j = jobs.where(col(arrivalCol).isNotNull &&
        col(completionCol).isNotNull)
      .select(to_date(col(arrivalCol)).as("__a"),
        to_date(col(completionCol)).as("__c"))
      .withColumn("__ok",
        when(col("__c") < col("__a"),
          raise_error(lit("littlesLaw: completion before arrival")))
          .otherwise(lit(0L)))
    val deltas = j.select(col("__a").as("__day"), (lit(1L) + col("__ok")).as("__d"))
      .unionByName(j.select(date_add(col("__c"), 1).as("__day"),
        lit(-1L).as("__d")))
      .groupBy(col("__day")).agg(sum(col("__d")).as("__delta"))
    val w = Window.orderBy(col("__day").asc)
    val segs = deltas
      .withColumn("__wip", sum(col("__delta"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("__next", lead(col("__day"), 1).over(w))
      .where(col("__next").isNotNull)
      .select((col("__wip") *
        datediff(col("__next"), col("__day")).cast("long")).as("__area"),
        col("__wip"))
    val aAgg = segs.agg(sum(col("__area")).as("__area"),
      max(col("__wip")).as("wip_peak"))
    val jAgg = j.agg(count(lit(1)).as("n_jobs"),
      min(col("__a")).as("__a0"), max(col("__c")).as("__c1"),
      sum((datediff(col("__c"), col("__a")) + 1).cast("long")).as("__dur"))
    val td = (datediff(col("__c1"), col("__a0")) + 1).cast("double")
    val nd = col("n_jobs").cast("double")
    jAgg.crossJoin(broadcast(aAgg)) // 1-row scalar side
      .select(col("n_jobs"),
        (datediff(col("__c1"), col("__a0")) + 1).cast("long").as("t_days"),
        when(col("n_jobs") > 0, round(nd / td, 6)).as("lambda_per_day"),
        when(col("n_jobs") > 0,
          round(col("__dur").cast("double") / nd, 6)).as("w_days"),
        when(col("n_jobs") > 0,
          round(col("__area").cast("double") / td, 6)).as("l_avg"),
        col("wip_peak"))
  }

  /**
   * P346 — the daily work-in-progress SERIES behind [[littlesLaw]]'s
   * aggregate: per calendar day, arrivals, completions, and the number
   * of jobs in flight (a job occupies [arrival, completion] inclusive,
   * the q29 convention — a completion releases the NEXT day). The
   * operational backlog curve the one-row Little's-law audit folds
   * away: WHEN the queue builds and drains, not just its average. The
   * spine is densified (the dq11 rule: a quiet day must surface as a
   * zero row, not vanish while the cumulative sums silently span it).
   * Completion-before-arrival raises loudly (the q29 guard).
   *
   * Shape: two keyed day aggs + a densified calendar spine (explode of
   * ONE broadcast min/max row) + cumulative windows over the spine —
   * calendar-sized at any corpus scale (the q29 allowlisted class).
   * Exact integer arithmetic end to end.
   */
  def wipSeries(jobs: DataFrame, arrivalCol: String,
      completionCol: String): DataFrame = {
    val j = jobs.where(col(arrivalCol).isNotNull &&
        col(completionCol).isNotNull)
      .select(to_date(col(arrivalCol)).as("__a"),
        to_date(col(completionCol)).as("__c"))
      .withColumn("__ok",
        when(col("__c") < col("__a"),
          raise_error(lit("wipSeries: completion before arrival")))
          .otherwise(lit(0L)))
    val arr = j.groupBy(col("__a").as("day"))
      .agg((count(lit(1)) + sum(col("__ok"))).as("__arr"))
    val cmp = j.groupBy(col("__c").as("day"))
      .agg(count(lit(1)).as("__cmp"))
    val spine = j.agg(min(col("__a")).as("__lo"), max(col("__c")).as("__hi"))
      .select(explode(sequence(col("__lo"), col("__hi"))).as("day"))
    val w = Window.orderBy(col("day").asc)
    val cum = w.rowsBetween(Window.unboundedPreceding, 0)
    spine
      .join(arr.hint("shuffle_hash"), Seq("day"), "left")
      .join(cmp.hint("shuffle_hash"), Seq("day"), "left")
      .select(col("day"), coalesce(col("__arr"), lit(0L)).as("arrivals"),
        coalesce(col("__cmp"), lit(0L)).as("completions"))
      .withColumn("__rel",
        coalesce(lag(col("completions"), 1).over(w), lit(0L)))
      .withColumn("wip", sum(col("arrivals") - col("__rel")).over(cum))
      .select(col("day"), col("arrivals"), col("completions"), col("wip"))
  }

  /** The (cos, sin) values of 2πr/p for r = 0..p−1 — computed ONCE on
    * the driver so [[periodogram]] and any oracle generator embed
    * IDENTICAL double literals (the o12 weight-ladder rule: neither
    * engine calls cos/sin at runtime). */
  def fourierLadder(p: Int): Seq[(Double, Double)] = {
    require(p >= 2 && p <= 64, s"fourierLadder: p must be in 2..64, got $p")
    (0 until p).map { r =>
      val a = 2.0 * math.Pi * r / p
      (math.cos(a), math.sin(a))
    }
  }

  /**
   * P313 — periodogram at candidate periods: per (key, period p),
   * I(p) = C² + S² with C = Σ v·cos(2πd/p), S = Σ v·sin(2πd/p) over
   * the integer day index — the spectral "WHICH cycle length is in
   * this series" scan (P120's seasonality and P141's profile ASSUME
   * weekly; the periodogram finds the period). The winning period has
   * the dominant power. Emits per (key, period): n, c_sum, s_sum,
   * power.
   *
   * Shape: one keyed agg per candidate period over the (agg-sized)
   * daily frame, unioned — no windows, no joins. Cross-engine: the
   * cos/sin values are [[fourierLadder]] driver literals selected by
   * an integer d%p CASE (no runtime trig); per-row products round at 9
   * through DECIMAL(28,9); the power closing is a fixed double
   * sequence rounded at 6.
   */
  def periodogram(df: DataFrame, keyCol: String, dayIdxCol: String,
      valueCol: String, periods: Seq[Int]): DataFrame = {
    require(periods.nonEmpty, "periodogram: need at least one period")
    require(periods.distinct.size == periods.size,
      s"periodogram: duplicate periods in ${periods.mkString(",")}")
    val frames = periods.map { p =>
      val lad = fourierLadder(p)
      val r = col(dayIdxCol).cast("long") % lit(p.toLong)
      def caseChain(vals: Seq[Double]): Column =
        vals.zipWithIndex.tail.foldLeft(
          when(r === 0L, lit(vals.head))) { case (acc, (v, i)) =>
          acc.when(r === i.toLong, lit(v))
        }
      val vd = col(valueCol).cast("double")
      def t9(c: Column) = round(c, 9).cast("decimal(28,9)")
      // a negative day index matches NO ladder branch and would silently
      // drop from the sums while n still counts it — reject loudly (the
      // littlesLaw/horvitzThompson guard convention)
      def guarded(c: Column) =
        when(col(dayIdxCol) < 0,
          raise_error(concat(lit("periodogram: negative day index "),
            col(dayIdxCol).cast("string"))).cast("decimal(28,9)"))
          .otherwise(c)
      df.where(col(keyCol).isNotNull && col(dayIdxCol).isNotNull &&
          col(valueCol).isNotNull)
        .select(col(keyCol),
          guarded(t9(vd * caseChain(lad.map(_._1)))).as("__tc"),
          guarded(t9(vd * caseChain(lad.map(_._2)))).as("__ts"))
        .groupBy(col(keyCol))
        .agg(count(lit(1)).as("n"), sum(col("__tc")).as("__c"),
          sum(col("__ts")).as("__s"))
        .select(col(keyCol), lit(p).as("period"), col("n"),
          round(col("__c").cast("double"), 6).as("c_sum"),
          round(col("__s").cast("double"), 6).as("s_sum"),
          round(col("__c").cast("double") * col("__c").cast("double") +
            col("__s").cast("double") * col("__s").cast("double"), 6)
            .as("power"))
    }
    frames.reduce(_ unionByName _)
  }

  /**
   * P314 — partial autocorrelation at lags 1..3 via the Durbin–
   * Levinson recursion on the P291 pooled-mean ACF: φ11 = ρ1,
   * φ22 = (ρ2 − ρ1²)/(1 − ρ1²), φ33 from the order-2 coefficients —
   * the AR-order probe (ACF tails off, PACF CUTS OFF at the true lag;
   * ρ2 being large means nothing if lag 1 explains it, which is
   * exactly what φ22 strips). Emits per key: n, rho1..rho3,
   * pacf1..pacf3; degenerate denominators (|ρ1| = 1, singular order-2
   * system) or n ≤ lag+1 null the affected φ; zero-variance keys drop.
   *
   * Shape: the shared [[pooledAcf]] pass (one key-partitioned lag
   * window + one keyed agg). Cross-engine: the φ closings are fixed
   * double sequences on the 6-rounded ρ's, rounded at 6; the order-3
   * branch nests inside the order-2 guard so a singular inner system
   * can never divide by zero (the ANSI-lazy rule).
   */
  def pacfDurbinLevinson(df: DataFrame, keyCol: String, ordCol: String,
      valueCol: String): DataFrame = {
    val withRho = pooledAcf(df, keyCol, ordCol, valueCol, maxLag = 3)
    val r1 = col("__r1")
    val r2 = col("__r2")
    val r3 = col("__r3")
    val den2 = lit(1.0) - r1 * r1
    val phi22 = (r2 - r1 * r1) / den2
    val phi21 = r1 - phi22 * r1
    val den3 = lit(1.0) - phi21 * r1 - phi22 * r2
    val phi33 = (r3 - phi21 * r2 - phi22 * r1) / den3
    withRho.select(col("__k").as(keyCol), col("n"),
      r1.as("rho1"), r2.as("rho2"), r3.as("rho3"),
      when(col("n") > 2, r1).as("pacf1"),
      when(col("n") > 3 && den2 =!= 0.0, round(phi22, 6)).as("pacf2"),
      when(den2 =!= 0.0,
        when(col("n") > 4 && den3 =!= 0.0, round(phi33, 6))).as("pacf3"))
  }

  /**
   * P358 — Dickey–Fuller unit-root test (lag-1, with intercept) per
   * series: regress Δv_t on v_{t−1} and read the t-ratio of the slope —
   * a mean-reverting series pulls back (slope < 0, DF stat strongly
   * negative → 'stationary'), a random walk doesn't (stat near 0 →
   * 'unit_root'). The stationarity PRE-CHECK the o82 Granger and o67
   * ACF reads assume and never verify. Critical value is a driver
   * literal (≈5% DF point); the verdict compares the ROUNDED stat.
   *
   * Cross-engine: the o11 olsFit discipline — x and Δv as exact
   * DECIMAL(18,6), five sums of (18,6)·(18,6)=(37,12) exact products
   * (the allowed width class) cast to double, then ONE fixed double
   * expression chain to slope, SE, stat. Shape: one key-partitioned lag
   * window + one keyed agg.
   */
  def adfTest(daily: DataFrame, keyCol: String, dayCol: String,
      valueCol: String, critical: Double = -2.89): DataFrame = {
    require(critical < 0, s"adfTest: critical must be < 0, got $critical")
    val w = Window.partitionBy(col(keyCol)).orderBy(col(dayCol).asc)
    def d18(c: Column) = c.cast("decimal(18,6)")
    val base = daily
      .where(col(keyCol).isNotNull && col(dayCol).isNotNull &&
        col(valueCol).isNotNull)
      .withColumn("__prev", lag(col(valueCol), 1).over(w))
      .where(col("__prev").isNotNull)
      .select(col(keyCol), d18(col("__prev")).as("__x"),
        (d18(col(valueCol)) - d18(col("__prev"))).cast("decimal(18,6)")
          .as("__y"))
    val sums = base.groupBy(col(keyCol)).agg(
      count(lit(1)).as("n"),
      sum(col("__x")).cast("double").as("__sx"),
      sum(col("__y")).cast("double").as("__sy"),
      sum(col("__x") * col("__y")).cast("double").as("__sxy"),
      sum(col("__x") * col("__x")).cast("double").as("__sxx"),
      sum(col("__y") * col("__y")).cast("double").as("__syy"))
    val nd = col("n").cast("double")
    val num = nd * col("__sxy") - col("__sx") * col("__sy")
    val den = nd * col("__sxx") - col("__sx") * col("__sx")
    val deny = nd * col("__syy") - col("__sy") * col("__sy")
    val slope = num / den
    val se2 = (deny - slope * num) / ((nd - lit(2.0)) * den)
    val stat = round(slope / sqrt(se2), 6)
    sums.select(col(keyCol), col("n"),
      when(col("n") > 2 && den > 0, round(slope, 6)).as("slope"),
      when(col("n") > 2 && den > 0 && se2 > 0, stat).as("df_stat"),
      when(col("n") > 2 && den > 0 && se2 > 0,
        when(stat < critical, lit("stationary")).otherwise(lit("unit_root")))
        .as("verdict"))
  }

  /**
   * P368 — Lo–MacKinlay variance-ratio test per series: the variance of
   * overlapping q-period differences divided by q times the variance of
   * 1-period differences. A random walk scores VR ≈ 1 (variance grows
   * linearly with horizon); mean reversion pulls VR below 1 (long
   * differences cancel); trending pushes it above. The HORIZON-scaling
   * read beside the P358 ADF's t-ratio — ADF asks "is there a unit
   * root", VR asks "how does risk aggregate", and a series can pass one
   * and fail the other. Verdict compares the ROUNDED ratio to 1 ± band.
   *
   * Cross-engine: both difference columns are exact DECIMAL(18,6) (the
   * inputs are 6-rounded), their sums and (18,6)² product sums exact
   * decimals cast to double, then ONE fixed double chain to the two
   * population variances and the ratio — the P358 moment discipline
   * with two diff lags instead of one. Shape: one key-partitioned
   * window (two lags), one keyed agg.
   */
  def varianceRatio(daily: DataFrame, keyCol: String, dayCol: String,
      valueCol: String, q: Int = 5, band: Double = 0.2): DataFrame = {
    require(q >= 2, s"varianceRatio: q must be >= 2, got $q")
    require(band > 0 && band < 1,
      s"varianceRatio: band must be in (0, 1), got $band")
    val w = Window.partitionBy(col(keyCol)).orderBy(col(dayCol).asc)
    def d18(c: Column) = c.cast("decimal(18,6)")
    val diffs = daily
      .where(col(keyCol).isNotNull && col(dayCol).isNotNull &&
        col(valueCol).isNotNull)
      .select(col(keyCol), col(dayCol), d18(col(valueCol)).as("__v"))
      .withColumn("__p1", lag(col("__v"), 1).over(w))
      .withColumn("__pq", lag(col("__v"), q).over(w))
      .select(col(keyCol),
        (col("__v") - col("__p1")).cast("decimal(18,6)").as("__d1"),
        (col("__v") - col("__pq")).cast("decimal(18,6)").as("__dq"))
    val sums = diffs.groupBy(col(keyCol)).agg(
      count(col("__d1")).as("n1"),
      sum(col("__d1")).cast("double").as("__s1"),
      sum(col("__d1") * col("__d1")).cast("double").as("__s11"),
      count(col("__dq")).as("nq"),
      sum(col("__dq")).cast("double").as("__sq"),
      sum(col("__dq") * col("__dq")).cast("double").as("__sqq"))
    val n1d = col("n1").cast("double")
    val nqd = col("nq").cast("double")
    val var1 = (n1d * col("__s11") - col("__s1") * col("__s1")) / (n1d * n1d)
    val varq = (nqd * col("__sqq") - col("__sq") * col("__sq")) / (nqd * nqd)
    val vr = round(varq / (lit(q.toDouble) * var1), 6)
    val ok = col("n1") > 1 && col("nq") > 1 && var1 > 0
    sums.select(col(keyCol), col("n1").as("n_diffs"),
      col("nq").as("n_qdiffs"),
      when(ok, vr).as("vr"),
      when(ok,
        when(vr < lit(1.0 - band), lit("mean_reverting"))
          .when(vr > lit(1.0 + band), lit("trending"))
          .otherwise(lit("random_walk"))).as("verdict"))
  }

  /**
   * P364 — Engle–Granger cointegration test per series pair: fit the
   * long-run level relation y = α + βx by OLS, then run the P358
   * Dickey–Fuller test on its RESIDUALS — two trending series are
   * cointegrated when some combination of their LEVELS is stationary,
   * the condition under which a levels regression isn't spurious and a
   * spread/pairs strategy mean-reverts. The levels complement of the
   * o86 Granger read (which works on lags and says nothing about
   * long-run equilibrium). Critical ≈ −3.34 (5% EG point, two
   * variables with intercept, a driver literal).
   *
   * Cross-engine: the o11 olsFit and P358 adfTest disciplines
   * composed UNCHANGED (α/β are their 6-rounded outputs, residuals
   * round at 6 before the ADF's DECIMAL casts — the pipe1 rule:
   * composition of verified stages replays stage by stage). Shapes:
   * the two stage aggs + one pair-keyed scalar join back.
   */
  def engleGranger(pairs: DataFrame, keyCol: String, ordCol: String,
      xCol: String, yCol: String, critical: Double = -3.34): DataFrame = {
    require(critical < 0,
      s"engleGranger: critical must be < 0, got $critical")
    val fit = graft.operators.Features.olsFit(pairs, keyCol, xCol, yCol)
      .select(col(keyCol), col("slope").as("beta"),
        col("intercept").as("alpha"))
    val resid = pairs
      .where(col(xCol).isNotNull && col(yCol).isNotNull)
      .join(fit.hint("shuffle_hash"), Seq(keyCol))
      .where(col("beta").isNotNull && col("alpha").isNotNull)
      .select(col(keyCol), col(ordCol),
        round(col(yCol) - (col("alpha") + col("beta") * col(xCol)), 6)
          .as("__r"))
    adfTest(resid, keyCol, ordCol, "__r", critical)
      .select(col(keyCol), col("n"), col("df_stat"),
        when(col("verdict") === "stationary", lit("cointegrated"))
          .otherwise(when(col("verdict").isNotNull,
            lit("no_cointegration"))).as("verdict"))
      .join(fit.hint("shuffle_hash"), Seq(keyCol))
      .select(col(keyCol), col("n"), col("beta"), col("alpha"),
        col("df_stat"), col("verdict"))
  }

  /**
   * P359 — spectral entropy over the P313 periodogram: normalize the
   * candidate-period powers to a distribution and read its Shannon
   * entropy scaled by ln(#periods) — a series with ONE dominant cycle
   * scores near 0, a flat spectrum near 1. The one-number "how
   * concentrated is the spectrum" summary the per-period table makes
   * the reader eyeball. Emits (key, n_periods, total_power,
   * spec_entropy ∈ [0,1]).
   *
   * Cross-engine: the 6-rounded powers ride to exact DECIMAL(28,6)
   * sums (a plain double total would be partition-order-dependent);
   * each share is one double division; entropy terms follow the t18
   * 9-rounded DECIMAL discipline; the ln(#periods) denominator is a
   * driver literal. Shape: the periodogram aggs + one key-sized join
   * and fold.
   */
  def spectralEntropy(df: DataFrame, keyCol: String, dayIdxCol: String,
      valueCol: String, periods: Seq[Int]): DataFrame = {
    require(periods.size >= 2,
      s"spectralEntropy: need >= 2 candidate periods, got ${periods.size}")
    val lnP = math.log(periods.size.toDouble)
    val pd = periodogram(df, keyCol, dayIdxCol, valueCol, periods)
      .select(col(keyCol), col("power").cast("decimal(28,6)").as("__p"))
    val tot = pd.groupBy(col(keyCol))
      .agg(sum(col("__p")).as("__tot"), count(lit(1)).as("n_periods"))
    val share = col("__p").cast("double") / col("__tot").cast("double")
    pd.join(tot.hint("shuffle_hash"), Seq(keyCol))
      .select(col(keyCol), col("n_periods"), col("__tot"),
        when(col("__tot") > 0 && col("__p") > 0,
          round(share * log(share), 9)).otherwise(lit(0.0))
          .cast("decimal(28,9)").as("__t"))
      .groupBy(col(keyCol))
      .agg(min(col("n_periods")).as("n_periods"),
        round(min(col("__tot")).cast("double"), 6).as("total_power"),
        when(min(col("__tot")) > 0,
          round(sum(col("__t")).cast("double") / lit(-lnP), 6))
          .as("spec_entropy"))
  }

  /**
   * P351 — maximum drawdown per series: the largest peak-to-trough drop
   * of the running maximum (max over all days d of peak(d) − v(d)), its
   * day, the peak it fell from, and the LONGEST UNDERWATER RUN
   * (consecutive days strictly below the running peak) — the risk read
   * behind "how bad did this series get and for how long", which a
   * variance or a min/max pair cannot see (two series with equal spread
   * differ hugely in drawdown if one dips early and recovers).
   *
   * Cross-engine: the 6-rounded input doubles cast to DECIMAL(18,6)
   * (exact — the r10 rule), peak/drawdown arithmetic entirely in
   * decimal, argmax day via (drawdown desc, day) row_number. Shapes:
   * key-partitioned windows only (running max, row index), one
   * gaps-and-islands pass for the runs, two key-sized joins.
   */
  def maxDrawdown(daily: DataFrame, keyCol: String, dayCol: String,
      valueCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(dayCol).asc)
    val d = daily
      .where(col(keyCol).isNotNull && col(dayCol).isNotNull &&
        col(valueCol).isNotNull)
      .select(col(keyCol), col(dayCol),
        col(valueCol).cast("decimal(18,6)").as("__v"))
      .withColumn("__peak",
        max(col("__v")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("__dd", col("__peak") - col("__v"))
    val uw = d.withColumn("__idx", row_number().over(w))
      .where(col("__dd") > 0)
      .withColumn("__grp", col("__idx") - row_number().over(
        Window.partitionBy(col(keyCol)).orderBy(col("__idx").asc)))
    val runs = uw.groupBy(col(keyCol), col("__grp"))
      .agg(count(lit(1)).as("__len"))
      .groupBy(col(keyCol))
      .agg(max(col("__len")).as("longest_underwater"))
    val worst = d.withColumn("__r", row_number().over(
        Window.partitionBy(col(keyCol))
          .orderBy(col("__dd").desc, col(dayCol).asc)))
      .where(col("__r") === 1)
      .select(col(keyCol), col("__dd").cast("double").as("max_dd"),
        col(dayCol).as("dd_day"), col("__peak").cast("double").as("peak"))
    d.groupBy(col(keyCol)).agg(count(lit(1)).as("n_days"))
      .join(worst.hint("shuffle_hash"), Seq(keyCol))
      .join(runs.hint("shuffle_hash"), Seq(keyCol), "left")
      .select(col(keyCol), col("n_days"), col("max_dd"), col("dd_day"),
        col("peak"),
        coalesce(col("longest_underwater"), lit(0L)).as("longest_underwater"))
  }

  /**
   * P352 — turning-point randomness test per series: T = the number of
   * strict local extrema (v[t−1] < v[t] > v[t+1] or the mirror), which
   * under an i.i.d. null has E[T] = 2(n−2)/3 and Var[T] = (16n−29)/90 —
   * a too-SMOOTH series (trend/cycle) turns rarely, an oscillating one
   * turns nearly every step. The nonparametric cousin of the P134 runs
   * test that needs no median split. Emits (key, n_days, n_turning,
   * expected, z, verdict at |z| ≤ 1.96 on the rounded z).
   *
   * Cross-engine: comparisons run on the 6-rounded input values (both
   * engines hold bit-identical doubles); E and Var derive from the
   * BIGINT n through ONE fixed double expression each, and z closes
   * with one IEEE sqrt/divide — deterministic on identical operands.
   * Shape: one key-partitioned lag/lead window + one keyed agg.
   */
  def turningPoints(daily: DataFrame, keyCol: String, dayCol: String,
      valueCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(dayCol).asc)
    val d = daily
      .where(col(keyCol).isNotNull && col(dayCol).isNotNull &&
        col(valueCol).isNotNull)
      .select(col(keyCol), col(dayCol), col(valueCol).as("__v"))
      .withColumn("__p", lag(col("__v"), 1).over(w))
      .withColumn("__f", lead(col("__v"), 1).over(w))
    val agg = d.groupBy(col(keyCol)).agg(
      count(lit(1)).as("n_days"),
      sum(when(col("__p").isNotNull && col("__f").isNotNull &&
          ((col("__v") > col("__p") && col("__v") > col("__f")) ||
           (col("__v") < col("__p") && col("__v") < col("__f"))), 1L)
        .otherwise(0L)).as("n_turning"))
    val n = col("n_days").cast("double")
    val ev = lit(2.0) * (n - lit(2.0)) / lit(3.0)
    val vr = (lit(16.0) * n - lit(29.0)) / lit(90.0)
    val z = round((col("n_turning").cast("double") - ev) / sqrt(vr), 6)
    agg.select(col(keyCol), col("n_days"), col("n_turning"),
      round(ev, 6).as("expected"),
      when(col("n_days") >= 3, z).as("z"),
      when(col("n_days") >= 3,
        when(abs(z) <= 1.96, lit("random")).otherwise(lit("nonrandom")))
        .as("verdict"))
  }
}
