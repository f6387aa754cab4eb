package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Graft

/**
 * Frequent-pair association mining over basket data — the co-occurrence
 * rule extraction behind recommendations ("customers who bought A...")
 * and, in a training pipeline, co-occurrence-graph construction and
 * spurious-correlation audits over tags/entities per document.
 */
object Association {

  /** All within-group ordered element pairs of a (group, item) relation —
    * the EXACT row multiset of the group-key self-join (a join on the
    * group key IS the per-group cross product) from ONE scan + ONE
    * shuffle: collect_list per group, then two chained explodes (guide
    * §2.4, remove shuffles outright). `strict` keeps the a < b half;
    * otherwise both orientations (a ≠ b). The invariant every caller
    * (co-purchase edges, basket pairs) relies on lives HERE once:
    * explode² of the collected list enumerates every ordered pair of the
    * group's rows — including duplicate item values — exactly as the
    * self-join did; collect_list drops NULL items, which the self-join's
    * null-rejecting equi/inequality predicates dropped too. Output
    * columns (a, b). */
  def groupedPairs(df: DataFrame, groupCol: String, itemCol: String,
      strict: Boolean): DataFrame =
    df.select(col(groupCol).as("__g"), col(itemCol).as("__i"))
      .groupBy(col("__g")).agg(collect_list(col("__i")).as("__is"))
      .select(explode(col("__is")).as("a"), col("__is"))
      .select(col("a"), explode(col("__is")).as("b"))
      .where(if (strict) col("a") < col("b") else col("a") =!= col("b"))

  /** Within-group ordered triples (a < b < c) — the two-self-join
    * analogue of [[groupedPairs]]; the a < b filter interleaves BETWEEN
    * the explodes to cut the fan-out exactly where the join form's
    * interleaved predicate did. Output columns (a, b, c). */
  def groupedTriples(df: DataFrame, groupCol: String,
      itemCol: String): DataFrame =
    df.select(col(groupCol).as("__g"), col(itemCol).as("__i"))
      .groupBy(col("__g")).agg(collect_list(col("__i")).as("__is"))
      .select(explode(col("__is")).as("a"), col("__is"))
      .select(col("a"), explode(col("__is")).as("b"), col("__is"))
      .where(col("a") < col("b"))
      .select(col("a"), col("b"), explode(col("__is")).as("c"))
      .where(col("b") < col("c"))

  /** The shared pair/count core (P91/P335): the counted rule frame
    * (antecedent, consequent, n_ab, n_a, n_b) and the basket total —
    * extracted so [[ruleMetrics]] cannot drift from [[assocRules]]'
    * candidate generation. */
  private def assocCounts(df: DataFrame, basketCol: String, itemCol: String,
      minPairCount: Long, opName: String): (DataFrame, Long) = {
    require(minPairCount >= 1,
      s"$opName: minPairCount must be >= 1, got $minPairCount")
    // materialized: the nBaskets count below already runs this subtree
    // eagerly, and it is referenced three more times (item counts + pair
    // build) — each reference would re-run the distinct
    val bi = Graft.materialize(
      df.select(col(basketCol).as("b"), col(itemCol).as("i"))
        .where(col("b").isNotNull && col("i").isNotNull)
        .distinct())
    val nBaskets = bi.select("b").distinct().count()
    require(nBaskets > 0, s"$opName: no baskets")
    val itemCounts = bi.groupBy(col("i")).agg(count(lit(1)).as("n_i"))
    val pairs = groupedPairs(bi, "b", "i", strict = true)
      .toDF("ia", "ib")
      .groupBy(col("ia"), col("ib"))
      .agg(count(lit(1)).as("n_ab"))
      .where(col("n_ab") >= minPairCount)
    val rules = pairs.select(col("ia").as("antecedent"),
        col("ib").as("consequent"), col("n_ab"))
      .union(pairs.select(col("ib").as("antecedent"),
        col("ia").as("consequent"), col("n_ab")))
    val counted = rules
      .join(itemCounts.withColumnRenamed("n_i", "n_a").hint("shuffle_hash"),
        col("antecedent") === col("i")).drop("i")
      .join(itemCounts.withColumnRenamed("n_i", "n_b").hint("shuffle_hash"),
        col("consequent") === col("i")).drop("i")
    (counted, nBaskets)
  }

  /**
   * P91 — size-2 association rules: for every ordered item pair (a → b)
   * co-occurring in at least `minPairCount` baskets,
   *
   *   support    = n_ab / N
   *   confidence = n_ab / n_a
   *   lift       = (n_ab · N) / (n_a · n_b)
   *
   * with N = number of baskets, n_x = baskets containing x. Both
   * directions of each unordered co-occurrence are emitted (confidence
   * is asymmetric). All three measures are fixed sequences of double ops
   * on exact BIGINT counts, rounded at 6 — nothing engine-dependent.
   *
   * Scale shape: a distinct projection to (basket, item), a self-join on
   * the basket key — fan-out bounded by items-per-basket, single digits
   * in market baskets and bounded by construction in tag pipelines — an
   * (a, b) pair agg with map-side combine, and two shuffle_hash joins
   * against the per-item basket counts (post-agg sides, no stats — the
   * d11 rule). The `minPairCount` filter runs BEFORE the joins, so the
   * rule frame the joins see is already the (small) frequent subset.
   * N is one distributed distinct-count reduced to a scalar.
   */
  def assocRules(df: DataFrame, basketCol: String, itemCol: String,
      minPairCount: Long = 2L): DataFrame = {
    val (counted, nBaskets) =
      assocCounts(df, basketCol, itemCol, minPairCount, "assocRules")
    counted
      .withColumn("support",
        round(col("n_ab").cast("double") / lit(nBaskets.toDouble), 6))
      .withColumn("confidence",
        round(col("n_ab").cast("double") / col("n_a").cast("double"), 6))
      .withColumn("lift",
        round(col("n_ab").cast("double") * lit(nBaskets.toDouble) /
          (col("n_a").cast("double") * col("n_b").cast("double")), 6))
  }

  /**
   * P335 — full rule-metric panel over the [[assocRules]] candidates:
   * support/confidence/lift plus leverage = supp(ab) − supp(a)·supp(b)
   * (the ADDITIVE association excess — immune to lift's rare-pair
   * explosion) and conviction = (1 − supp(b))/(1 − confidence) (the
   * implication-direction read: how much more often the rule would
   * have to fail if a and b were independent). A confidence-1 rule has
   * infinite conviction — emitted null, the classical convention.
   *
   * Shape/portability: the shared [[assocCounts]] core; every metric
   * is a fixed double sequence on exact BIGINT counts, rounded at 6.
   */
  def ruleMetrics(df: DataFrame, basketCol: String, itemCol: String,
      minPairCount: Long = 2L): DataFrame = {
    val (counted, nBaskets) =
      assocCounts(df, basketCol, itemCol, minPairCount, "ruleMetrics")
    val nd = lit(nBaskets.toDouble)
    val conf = col("n_ab").cast("double") / col("n_a").cast("double")
    counted
      .withColumn("support", round(col("n_ab").cast("double") / nd, 6))
      .withColumn("confidence", round(conf, 6))
      .withColumn("lift",
        round(col("n_ab").cast("double") * nd /
          (col("n_a").cast("double") * col("n_b").cast("double")), 6))
      .withColumn("leverage",
        round(col("n_ab").cast("double") / nd -
          col("n_a").cast("double") / nd *
          (col("n_b").cast("double") / nd), 6))
      .withColumn("conviction",
        when(col("n_ab") =!= col("n_a"),
          round((lit(1.0) - col("n_b").cast("double") / nd) /
            (lit(1.0) - conf), 6)))
  }

  /**
   * P376 — frequent 3-itemsets with triple lift: every unordered item
   * triple co-occurring in ≥ `minCount` baskets, with support and
   * lift₃ = n_abc·N² / (n_a·n_b·n_c) — the vs-full-independence read
   * one rung above [[assocRules]]' pairs (a triple can be frequent
   * purely because its three pairs are: lift₃ ≈ 1 exposes it; a
   * genuine 3-way bundle reads ≫ 1). Emits (ia, ib, ic, n_abc,
   * support, lift3) with ia < ib < ic.
   *
   * Scale shape: two basket-keyed self-joins with the id-order
   * predicates — fan-out is C(k,3) per basket, bounded by basket size
   * (single digits for market baskets, bounded by construction for tag
   * pipelines); the minCount filter lands before the margin joins.
   * Cross-engine: counts exact BIGINTs; support and lift₃ are fixed
   * double sequences rounded at 6 (n_abc·N² stays in DOUBLE — an
   * integer product would overflow at corpus scale).
   */
  def frequentTriples(df: DataFrame, basketCol: String, itemCol: String,
      minCount: Long = 2L): DataFrame = {
    require(minCount >= 1,
      s"frequentTriples: minCount must be >= 1, got $minCount")
    // same build rules as assocCounts: materialize the eagerly-counted
    // distinct frame; [[groupedTriples]] replaces the TWO basket
    // self-joins with one shuffle + chained explodes
    val bi = Graft.materialize(
      df.select(col(basketCol).as("b"), col(itemCol).as("i"))
        .where(col("b").isNotNull && col("i").isNotNull)
        .distinct())
    val nBaskets = bi.select("b").distinct().count()
    require(nBaskets > 0, "frequentTriples: no baskets")
    val itemCounts = bi.groupBy(col("i")).agg(count(lit(1)).as("n_i"))
    val triples = groupedTriples(bi, "b", "i")
      .toDF("ia", "ib", "ic")
      .groupBy(col("ia"), col("ib"), col("ic"))
      .agg(count(lit(1)).as("n_abc"))
      .where(col("n_abc") >= minCount)
    val nd = lit(nBaskets.toDouble)
    triples
      .join(itemCounts.withColumnRenamed("n_i", "n_a").hint("shuffle_hash"),
        col("ia") === col("i")).drop("i")
      .join(itemCounts.withColumnRenamed("n_i", "n_b").hint("shuffle_hash"),
        col("ib") === col("i")).drop("i")
      .join(itemCounts.withColumnRenamed("n_i", "n_c").hint("shuffle_hash"),
        col("ic") === col("i")).drop("i")
      .withColumn("support", round(col("n_abc").cast("double") / nd, 6))
      .withColumn("lift3",
        round(col("n_abc").cast("double") * nd * nd /
          (col("n_a").cast("double") * col("n_b").cast("double") *
            col("n_c").cast("double")), 6))
      .select(col("ia"), col("ib"), col("ic"), col("n_abc"),
        col("n_a"), col("n_b"), col("n_c"), col("support"), col("lift3"))
  }

  /**
   * P168 — sequential association rules (a THEN b on consecutive
   * events per key): support = pair count / all consecutive pairs,
   * confidence = P(next = b | current = a), lift = confidence /
   * P(next = b) — the ORDERED cousin of [[assocRules]] (q9's
   * transition matrix gives probabilities; this adds the
   * vs-independence lift that separates "b follows a" from "b follows
   * everything"). Pairs below `minCount` drop AFTER the totals are
   * taken, so rare rules can't distort the marginals they're judged
   * against.
   *
   * Shapes: one per-key ordered lead window (the q9 shape), one
   * (from, to) agg, marginals via windows over the ≤|types|² agged
   * frame, all exact BIGINTs until the three closing divisions
   * (rounded at 6).
   */
  def sequentialRules(events: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, typeCol: String, minCount: Long = 1L): DataFrame = {
    require(minCount >= 1L,
      s"sequentialRules: minCount must be >= 1, got $minCount")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(col(tsCol).asc, col(tieCol).asc)
    val pairs = events
      .select(col(typeCol).as("from_type"),
        lead(col(typeCol), 1).over(w).as("to_type"))
      .where(col("to_type").isNotNull)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n_pair"))
    val all = org.apache.spark.sql.expressions.Window
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val byFrom = org.apache.spark.sql.expressions.Window
      .partitionBy(col("from_type"))
    val byTo = org.apache.spark.sql.expressions.Window
      .partitionBy(col("to_type"))
    pairs
      .withColumn("__n", sum(col("n_pair")).over(all))
      .withColumn("__nf", sum(col("n_pair")).over(byFrom))
      .withColumn("__nt", sum(col("n_pair")).over(byTo))
      .where(col("n_pair") >= minCount)
      .withColumn("support",
        round(col("n_pair").cast("double") / col("__n").cast("double"), 6))
      .withColumn("confidence",
        round(col("n_pair").cast("double") / col("__nf").cast("double"), 6))
      .withColumn("lift",
        round((col("n_pair").cast("double") / col("__nf").cast("double")) /
          (col("__nt").cast("double") / col("__n").cast("double")), 6))
      .drop("__n", "__nf", "__nt")
  }
}
