package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Graft

/**
 * Deduplication operators for large-scale training-data pipelines: exact,
 * token/n-gram Jaccard, MinHash+LSH, SimHash, and embedding-cosine near-dup.
 *
 * Scale design: nothing here is all-pairs except the explicitly-named
 * `brute*` verification paths. The LSH family (MinHash bands, SimHash bands,
 * random-hyperplane buckets) generates candidates via equi-joins on bucket
 * keys — the shape that holds at 100 TB: shuffle on (band, bucket), never a
 * cartesian. All hash functions are seeded and deterministic (no
 * Math.random), so signatures are reproducible across runs and engines.
 */
object Dedup {

  // Materialization note: the pair/candidate pipelines hold no cache and
  // stay lazy — their self-join sides are identical subplans, so Catalyst's
  // ReuseExchange computes each shuffle once, and the remaining token-scan
  // repetition is cheap projection work against a column-pruned scan.
  // Caching or materializing them would pin storage across calls and run
  // the whole query at build time. Only two operators materialize
  // (Graft.materialize): [[duplicateClustersConverged]], whose round count
  // is data-driven, and [[bandingSweep]], whose sample-sized frames are
  // each referenced many times.

  // ---- exact --------------------------------------------------------------

  /** Exact dedup: one survivor (min `idCol`) per identical `textCol`.
    * Grouping key is the 64-bit xxhash of the text, so the shuffle carries
    * 8-byte keys instead of documents; survivors verify text equality
    * inside the group (hash-collision safe). */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(xxhash64(col(textCol)), col(textCol))
      .orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn")
  }

  /** Duplicate groups: (survivor id, duplicate id) pairs. */
  def exactDupPairs(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(xxhash64(col(textCol)), col(textCol))
    df.select(col(idCol), col(textCol))
      .withColumn("__keep", min(col(idCol)).over(w))
      .where(col(idCol) =!= col("__keep"))
      .select(col("__keep").as("survivor_id"), col(idCol).as("duplicate_id"))
  }

  /**
   * P338 — bag-of-words (token-multiset) dedup groups: the fingerprint
   * is the SORTED full token list, so word-order permutations (scraped
   * re-posts with reordered sentences, template fields emitted in a
   * different order, title/body joins) collapse into one group where
   * [[exactDedup]] sees distinct texts. Character-level edits still
   * escape (that is [[editDistanceDupPairs]]' metric), and token
   * INSERTIONS escape too — the fingerprint is a multiset, not a set
   * (the set relaxation is [[tokenJaccardPairs]] at threshold 1.0).
   * Emits per row (id, group_n, kept) with kept = min-id survivor,
   * mirroring [[exactDedup]]'s survivor rule.
   *
   * Scale shape: one projection computes the fingerprint (the sort is
   * per-row over that row's tokens — corpus-linear, no shuffle), then
   * ONE window shuffle keyed by the 64-bit fingerprint hash (8-byte
   * shuffle keys, collision-safe via the fingerprint tiebreak in the
   * key) — exactly [[exactDedup]]'s shape. No joins, no driver state.
   */
  def bagDupGroups(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val fp = concat_ws(" ",
      sort_array(array_remove(split(lower(trim(col(textCol))), "\\s+"), "")))
    val w = Window.partitionBy(xxhash64(col("__fp")), col("__fp"))
    // null rows OUT, explicitly: concat_ws folds a null token array to ''
    // (null texts would silently group with empty/whitespace-only ones,
    // and a replaying engine whose fold keeps NULL would disagree)
    df.where(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol).as("id"), fp.as("__fp"))
      .withColumn("group_n", count(lit(1)).over(w))
      .withColumn("kept", col("id") === min(col("id")).over(w))
      .select(col("id"), col("group_n"), col("kept"))
  }

  /**
   * P72 — soft dedup: instead of dropping duplicates, DOWNWEIGHT them.
   * Every row in an exact-duplicate group of size n gets weight 1/n (so a
   * document's total training influence is constant no matter how many
   * times it was crawled), plus a deterministic independent keep decision
   * with probability 1/n (u ≤ 1/n with u the portable-MD5 uniform of the
   * id — [[graft.operators.Sampling.hashValue]]) so the expected kept
   * count per group is exactly 1 while which copies survive stays a pure
   * function of the data. The "soft" alternative to [[exactDedup]] used
   * when duplication frequency itself is signal (boilerplate vs. popular
   * content). Returns (id, n_dups, weight, kept).
   *
   * Scale shape: one window shuffle keyed by the 64-bit text hash (8-byte
   * keys, hash-collision safe via the text tiebreak in the key, same as
   * [[exactDedup]]); the keep decision is a stateless projection. No
   * joins, no driver-side state.
   */
  def softDedupWeights(df: DataFrame, idCol: String, textCol: String,
      salt: String = ""): DataFrame = {
    val w = Window.partitionBy(xxhash64(col(textCol)), col(textCol))
    val u = Sampling.uniform01(col(idCol), salt)
    df.select(col(idCol), col(textCol))
      .withColumn("n_dups", count(lit(1)).over(w))
      .select(col(idCol).as("id"), col("n_dups"),
        (lit(1.0) / col("n_dups")).as("weight"),
        (u <= lit(1.0) / col("n_dups")).as("kept"))
  }

  /**
   * P31 — duplicate clustering: connected components over a pair list
   * ((i, j) edges from any of the pair producers here), by bounded
   * min-label propagation. Returns (id, cluster_id) for every node that
   * appears in a pair; cluster_id = the component's minimum id once
   * converged.
   *
   * Labels move ONE HOP per iteration, so `iters` must be ≥ the component
   * diameter: near-dup components are dense (every member collides with a
   * hub in some band), so the default converges for star/clique-shaped
   * groups; a long CHAIN of borderline pairs needs more iterations — raise
   * `iters`, or use [[duplicateClustersConverged]], which iterates to the
   * fixed point and REFUSES to return non-converged labels. When the bound
   * BINDS (iters < diameter), the partial result is still exactly
   * determined: label(id) = min id within `iters` hops — a pure function
   * of the graph, invariant to partitioning and run order (spec-pinned),
   * so an under-provisioned bound splits components deterministically
   * rather than returning run-dependent labels. Choosing the bound at
   * scale: component diameter grows with the CHAIN LENGTH of borderline
   * pairs, not with corpus size — denser corpora add hub collisions
   * (diameter-reducing), so 3–5 covers LSH/SimHash output; audit with
   * the converged variant offline when the graph shape is unknown. Each iteration
   * here is one equi-join + one min-aggregation (all map-side combinable);
   * the plan depth grows linearly with `iters` — for genuinely deep graphs
   * the converged variant materializes per round instead of building one
   * enormous plan.
   */
  def duplicateClusters(pairs: DataFrame, iCol: String = "i",
      jCol: String = "j", iters: Int = 3): DataFrame = {
    require(iters >= 1, s"duplicateClusters: iters must be >= 1, got $iters")
    // both orientations in ONE pass: the union-of-swapped form referenced
    // the (often expensive — LSH, shingling) pair subtree twice, and the
    // clone multiplied through the label chain's per-round references
    // (guide §7.2, duplicated subtrees); the explode emits the identical
    // row multiset from a single reference
    val sym = pairs.select(explode(array(
        struct(col(iCol).as("id"), col(jCol).as("nb")),
        struct(col(jCol).as("id"), col(iCol).as("nb")))).as("__e"))
      .select(col("__e.id").as("id"), col("__e.nb").as("nb"))
    // edge (id ← nb) restated as "the label AT nb flows TO id": joining
    // labels on their own id lets one reference serve the whole round
    val flow = sym.select(col("nb").as("id"), col("id").as("__tgt"))
    var labels = sym.select(col("id")).distinct().withColumn("cluster_id", col("id"))
    for (_ <- 1 to iters) {
      // ONE reference to labels per round (the r12 lineage rule — the old
      // nbMin-join + left-join form referenced labels twice, unrolling to
      // 2^iters clones of the pair subtree: 240 parquet scans in mm10's
      // plan). Each label row contributes its cluster_id to ITSELF and to
      // every out-neighbor; min-aggregation makes the k-fold repetition of
      // the identity contribution (one per matched edge) harmless, and the
      // left join keeps isolated label rows (null __tgt → self only). The
      // recurrence is unchanged: label'(id) = min(own, min over neighbors).
      labels = labels.join(flow, Seq("id"), "left")
        .select(explode(array(
            struct(col("id").as("node"), col("cluster_id")),
            struct(coalesce(col("__tgt"), col("id")).as("node"),
              col("cluster_id")))).as("__c"))
        .groupBy(col("__c.node").as("id"))
        .agg(min(col("__c.cluster_id")).as("cluster_id"))
    }
    labels
  }

  /**
   * P31 fixed-point variant: min-label propagation iterated EAGERLY until
   * no label changes, so a chain-shaped component can never silently come
   * back split (the bounded [[duplicateClusters]]'s documented failure
   * mode). Each round materializes its label frame (Graft.materialize) —
   * the plan stays one-join deep regardless of graph diameter and the
   * per-round changed-label test is a cheap scan of the materialized
   * frame. Throws after `maxIters` non-converged rounds rather than
   * returning wrong labels. Deliberately NOT used inside `queries()`
   * builders (d8 keeps the bounded, fully-lazy form): its round count is
   * data-driven, so the plan a gate sees would vary with the corpus.
   */
  def duplicateClustersConverged(pairs: DataFrame, iCol: String = "i",
      jCol: String = "j", maxIters: Int = 50): DataFrame = {
    require(maxIters >= 1, s"duplicateClustersConverged: maxIters must be >= 1, got $maxIters")
    // the edge list is scanned every round — materialize it once so the
    // upstream pair-producer pipeline (LSH, shingles, …) runs exactly once
    val sym = Graft.materialize(
      pairs.select(col(iCol).as("id"), col(jCol).as("nb"))
        .union(pairs.select(col(jCol).as("id"), col(iCol).as("nb"))))
    var labels = Graft.materialize(sym.select(col("id")).distinct()
      .withColumn("cluster_id", col("id")))
    var iter = 0
    var changed = true
    while (changed && iter < maxIters) {
      iter += 1
      val nbMin = sym
        .join(labels.select(col("id").as("nb"), col("cluster_id").as("__nbc")), Seq("nb"))
        .groupBy("id").agg(min("__nbc").as("__m"))
      val next = Graft.materialize(labels.join(nbMin, Seq("id"), "left")
        .select(col("id"),
          least(col("cluster_id"), coalesce(col("__m"), col("cluster_id")))
            .as("cluster_id"),
          coalesce(col("__m") < col("cluster_id"), lit(false)).as("__changed")))
      // only "did ANY label move" matters — take(1) over the materialized
      // blocks short-circuits at the first changed row in every round but
      // the final (empty) one, where it costs the same scan count() did
      changed = !next.where(col("__changed")).isEmpty
      // the superseded rounds' blocks are reclaimed by the ContextCleaner
      // once the returned frame (whose lineage holds them) is dropped
      labels = next.drop("__changed")
    }
    if (changed) throw new IllegalStateException(
      s"duplicateClustersConverged: not converged after $maxIters iterations " +
        "(labels still changing) — raise maxIters")
    labels
  }

  /**
   * P43 — duplicate-cluster retention: given a scored corpus and a
   * duplicate pair list (from any pair producer here — exact, Jaccard,
   * LSH, SimHash), keep exactly ONE document per duplicate cluster — the
   * best-scoring member, ties broken to the lowest id — and pass every
   * unpaired document through. This is the retention step production
   * dedup pipelines run after near-dup detection: don't just drop
   * duplicates, keep the highest-quality representative of each group
   * (FineWeb/Gopher-style "keep best of cluster").
   *
   * Returns every input document as (id, cluster_id, score, kept) —
   * cluster_id is the component min-id for clustered docs and the doc's
   * own id for singletons, so downstream filters are one `where(kept)`.
   *
   * Scale shape: label propagation touches only docs that appear in a
   * pair (tiny vs the corpus); the cluster map joins back by id
   * (broadcastable when small, plain equi-join otherwise); the argmax is
   * ONE window shuffle keyed by cluster_id — cluster sizes are bounded by
   * the dup-group sizes, so no skewed giant partition. Callers with
   * float scores should pre-round them (the t6 rank discipline) so the
   * argmax is engine-portable.
   */
  def keepBestPerCluster(docs: DataFrame, idCol: String, scoreCol: String,
      pairs: DataFrame, iCol: String = "i", jCol: String = "j",
      iters: Int = 3): DataFrame = {
    // the cluster map holds only docs that appear in a pair — smaller than
    // the corpus by construction, but NOT broadcast-safe at scale (dup
    // rates of a few percent on a 100-TB corpus dwarf any driver). Its
    // post-aggregation size estimate is unknown, so without the hint the
    // planner falls back to sort-merge; shuffle-hash keeps the equi-join
    // shuffle but skips both sides' sorts (AQE still upgrades to broadcast
    // when the map turns out tiny at runtime).
    val clusters = duplicateClusters(pairs, iCol, jCol, iters).hint("shuffle_hash")
    val scored = docs.select(col(idCol).as("id"), col(scoreCol).as("score"))
      .join(clusters, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster_id"), col("id")).as("cluster_id"),
        col("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(col("score").desc, col("id").asc)
    scored.withColumn("kept", row_number().over(w) === 1)
  }

  // ---- token / n-gram sets ------------------------------------------------

  /** Distinct lowercase whitespace tokens per document, as one array cell:
    * (id, toks). A pure projection off the source scan — no explode, no
    * shuffle — for consumers that want whole sets (candidate verification). */
  def docTokenArrays(df: DataFrame, idCol: String, textCol: String,
      fanOut: Boolean = true): DataFrame =
    // tokenization + the downstream hash ladders are the heavy map side —
    // fan a below-parallelism input out first (no-op at scale).
    // fanOut = false for SAMPLE-SIZED inputs whose downstream work is a
    // candidate join, not a hash ladder: the exchange cost is never repaid
    // there (measured r11-opt: d15 1.4 → 1.85 s, d18 1.55 → 1.97 s)
    (if (fanOut) graft.Graft.parallelizeMap(df) else df)
      .select(col(idCol).as("id"),
        array_remove(array_distinct(split(lower(trim(col(textCol))), "\\s+")), "")
          .as("toks"))

  /** Distinct lowercase whitespace tokens per document: (id, token).
    * Defined by exploding [[docTokenArrays]] so the tokenization rule
    * exists exactly once — the exploded join path and the whole-set
    * verification path can never silently diverge. */
  def docTokens(df: DataFrame, idCol: String, textCol: String,
      fanOut: Boolean = true): DataFrame =
    docTokenArrays(df, idCol, textCol, fanOut)
      .select(col("id"), explode(col("toks")).as("token"))

  /** Distinct character n-gram shingles per document: (id, token). */
  def docShingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val t = lower(trim(col(textCol)))
    df.select(col(idCol).as("id"),
        explode(array_distinct(transform(
          sequence(lit(1), greatest(length(t) - (n - 1), lit(1))),
          i => t.substr(i, lit(n))))).as("token"))
      .where(length(col("token")) === n)
  }

  /** Shared candidate machinery for set-overlap pair scorers: token
    * equi-join candidates (i < j) with intersection and both set sizes.
    * Sizes come from the SAME filtered relation as intersections — mixing
    * spaces would silently deflate every score under maxDocFreq. Returns
    * (i, j, inter, si, sj); [[jaccardPairs]] and [[containmentPairs]]
    * differ only in the score they derive from it. */
  private def overlapCandidates(tokens: DataFrame,
      maxDocFreq: Option[Long]): DataFrame = {
    val filtered = maxDocFreq match {
      case Some(cap) =>
        val freq = tokens.groupBy("token").agg(count(lit(1)).as("__df"))
          .where(col("__df") <= cap)
        tokens.join(freq.select("token"), Seq("token"))
      case None => tokens
    }
    val sizes = filtered.groupBy("id").agg(count(lit(1)).as("size"))
    val a = filtered.select(col("id").as("i"), col("token"))
    val b = filtered.select(col("id").as("j"), col("token"))
    a.join(b, Seq("token"))
      .where(col("i") < col("j"))
      .groupBy(col("i"), col("j"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("id").as("i"), col("size").as("si")), Seq("i"))
      .join(sizes.select(col("id").as("j"), col("size").as("sj")), Seq("j"))
  }

  /**
   * Exact Jaccard over element sets, given an exploded (id, token) relation.
   * Pair generation joins on token — at scale, cap ubiquitous tokens with
   * `maxDocFreq` (a token in half the corpus generates |corpus|²/4 pairs and
   * proves nothing about similarity).
   */
  def jaccardPairs(tokens: DataFrame, threshold: Double,
      maxDocFreq: Option[Long] = None): DataFrame =
    overlapCandidates(tokens, maxDocFreq)
      .withColumn("jaccard",
        col("inter").cast("double") / (col("si") + col("sj") - col("inter")))
      .where(col("jaccard") >= threshold)
      .select(col("i"), col("j"), col("jaccard"))

  /** Token-set Jaccard near-dup pairs (exact, join-on-token). */
  def tokenJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, maxDocFreq: Option[Long] = None): DataFrame =
    jaccardPairs(docTokens(df, idCol, textCol), threshold, maxDocFreq)

  /**
   * P74 — containment pairs: |A∩B| / min(|A|, |B|) ≥ threshold over token
   * SETS. Containment catches ASYMMETRIC duplication — a short document
   * quoted wholesale inside a long one scores J = |A|/|B| ≈ 0 on Jaccard
   * (the union is dominated by the long side) but containment 1.0; it is
   * the right detector for quote inclusion, boilerplate wrappers, and
   * expanded re-posts. Same candidate generation and scale shape as
   * [[jaccardPairs]] (token equi-join, sizes from the same filtered
   * relation, optional stop-token cap), only the denominator differs.
   * Returns (i, j, containment) with i < j.
   */
  def containmentPairs(tokens: DataFrame, threshold: Double,
      maxDocFreq: Option[Long] = None): DataFrame =
    overlapCandidates(tokens, maxDocFreq)
      .withColumn("containment",
        col("inter").cast("double") / least(col("si"), col("sj")))
      .where(col("containment") >= threshold)
      .select(col("i"), col("j"), col("containment"))

  /** Token-set containment pairs over raw text (exact, join-on-token). */
  def tokenContainmentPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, maxDocFreq: Option[Long] = None): DataFrame =
    // fanOut = false: the cost here is the candidate equi-join, not the
    // token split — the input fanout never repaid its exchange (measured)
    containmentPairs(docTokens(df, idCol, textCol, fanOut = false),
      threshold, maxDocFreq)

  /** Lowercase whitespace token MULTISET per document: (id, token, tf).
    * The weighted-Jaccard input — same token rule as [[docTokenArrays]]
    * but counts kept, distinct NOT applied. */
  def docTokenCounts(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
        explode(array_remove(split(lower(trim(col(textCol))), "\\s+"), ""))
          .as("token"))
      .groupBy("id", "token").agg(count(lit(1)).as("tf"))

  /**
   * P372 — weighted (multiset / Ruzicka) Jaccard near-dup pairs:
   * Σ_t min(tf_i, tf_j) / Σ_t max(tf_i, tf_j) over token COUNTS — the
   * repetition-aware member of the family. Set Jaccard (P40) reads
   * "same vocabulary" as "same document": two texts using identical
   * words at wildly different frequencies score 1.0 there but honestly
   * here, which is what separates a template stuffed with one repeated
   * phrase from its source. The max-sum never materializes: per token
   * max+min = tf_i+tf_j, so Σmax = N_i + N_j − Σmin with N the doc's
   * total token count — the intersection join computes Σmin and two
   * size joins finish the score.
   *
   * Same scale shape as [[jaccardPairs]]: token equi-join candidates
   * (cap ubiquitous tokens with `maxDocFreq` — doc frequency, counted
   * over the (id, token) relation exactly as there), sizes from the
   * SAME filtered relation. Returns (i, j, w_jaccard) with i < j.
   */
  def weightedJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, maxDocFreq: Option[Long] = None): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"weightedJaccardPairs: threshold must be in (0, 1], got $threshold")
    val tc = docTokenCounts(df, idCol, textCol)
    val filtered = maxDocFreq match {
      case Some(cap) =>
        val freq = tc.groupBy("token").agg(count(lit(1)).as("__df"))
          .where(col("__df") <= cap)
        tc.join(freq.select("token"), Seq("token"))
      case None => tc
    }
    val sizes = filtered.groupBy("id").agg(sum(col("tf")).as("size"))
    val a = filtered.select(col("id").as("i"), col("token"),
      col("tf").as("__tfi"))
    val b = filtered.select(col("id").as("j"), col("token"),
      col("tf").as("__tfj"))
    a.join(b, Seq("token"))
      .where(col("i") < col("j"))
      .groupBy(col("i"), col("j"))
      .agg(sum(least(col("__tfi"), col("__tfj"))).as("__minsum"))
      .join(sizes.select(col("id").as("i"), col("size").as("si")), Seq("i"))
      .join(sizes.select(col("id").as("j"), col("size").as("sj")), Seq("j"))
      .withColumn("w_jaccard", col("__minsum").cast("double") /
        (col("si") + col("sj") - col("__minsum")))
      .where(col("w_jaccard") >= threshold)
      .select(col("i"), col("j"), col("w_jaccard"))
  }

  /**
   * P373 — blocking-quality audit (the record-linkage evaluation
   * triple): for each candidate blocking scheme, the reduction ratio
   * (1 − candidate-pairs/all-pairs — how much work the block key
   * saves), pairs completeness (share of GROUND-TRUTH duplicate pairs
   * whose members share a block — recall) and pairs quality
   * (truth share of candidate pairs — precision). The decision table
   * in front of every blocked dedup run: P251's banding sweep measures
   * LSH parameters, this measures ARBITRARY cheap keys against known
   * dup labels — without it a blocking key is chosen on folklore.
   *
   * Everything derives from GROUP SIZES — candidate pairs = ΣC(b,2)
   * per block, found truth = ΣC(m,2) per (truth, block) cell — so NO
   * pair is ever materialized: the audit costs one keyed agg per
   * scheme over the projected frame, not O(n²). C(n,2) products stay
   * in BIGINT (safe to ~3·10⁹-row groups — beyond any sane block).
   * One row per scheme; ratios divide exact BIGINTs, rounded at 6.
   */
  def blockingAudit(docs: DataFrame, idCol: String, truthCol: String,
      schemes: Seq[(String, Column)]): DataFrame = {
    require(schemes.nonEmpty, "blockingAudit: no schemes")
    require(schemes.map(_._1).distinct.size == schemes.size,
      "blockingAudit: duplicate scheme names")
    val base = docs
      .where(col(idCol).isNotNull && col(truthCol).isNotNull)
      .select(col(truthCol).as("__g") +:
        schemes.zipWithIndex.map { case ((_, c), i) => c.as(s"__k$i") }: _*)
    // n(n−1)»1, all in LONG — a `/ 2` would detour through double and
    // lose exactness past 2^53 pairs
    def c2(c: Column) = shiftright(c * (c - 1), 1)
    val totals = base.agg(count(lit(1)).as("__n"))
      .select(col("__n"), c2(col("__n")).as("__ap"))
    val truePairs = base.groupBy(col("__g"))
      .agg(count(lit(1)).as("__c"))
      .agg(coalesce(sum(c2(col("__c"))), lit(0L)).as("__tp"))
    val rows = schemes.zipWithIndex.map { case ((name, _), i) =>
      // a NULL block key blocks with NOTHING (the record-linkage
      // convention) — grouping nulls together would otherwise count
      // C(nullCount, 2) phantom candidate pairs that merely share
      // missing-ness; null-keyed truth pairs honestly stay unfound
      val keyed = base.where(col(s"__k$i").isNotNull)
      val cand = keyed.groupBy(col(s"__k$i"))
        .agg(count(lit(1)).as("__c"))
        .agg(coalesce(sum(c2(col("__c"))), lit(0L)).as("__cp"))
      val found = keyed.groupBy(col("__g"), col(s"__k$i"))
        .agg(count(lit(1)).as("__c"))
        .agg(coalesce(sum(c2(col("__c"))), lit(0L)).as("__fp"))
      cand.crossJoin(found).crossJoin(broadcast(totals))
        .crossJoin(broadcast(truePairs)) // all four are 1-row frames
        .select(lit(name).as("scheme"), col("__n").as("n_docs"),
          col("__ap").as("all_pairs"), col("__tp").as("true_pairs"),
          col("__cp").as("cand_pairs"), col("__fp").as("found_true_pairs"),
          when(col("__ap") > 0, round(lit(1.0) -
            col("__cp").cast("double") / col("__ap").cast("double"), 6))
            .as("reduction_ratio"),
          when(col("__tp") > 0, round(col("__fp").cast("double") /
            col("__tp").cast("double"), 6)).as("completeness"),
          when(col("__cp") > 0, round(col("__fp").cast("double") /
            col("__cp").cast("double"), 6)).as("quality"))
    }
    rows.reduce(_ unionAll _)
  }

  /**
   * P62 — prefix-filtered set-similarity join (the ppjoin-family
   * optimization): candidates come from only the PREFIX of each doc's
   * token set — its first |x| − ⌈t·|x|⌉ + 1 tokens in global
   * rarest-first order — instead of every token, then the exact Jaccard
   * verifies candidates only. Output is IDENTICAL to [[jaccardPairs]];
   * the gate query's oracle is the plain all-token computation, so
   * passing proves the optimization is an identity (the sk1 pattern).
   *
   * Completeness: under one global token order, two sets with
   * |x∩y| ≥ α share a token within their (|·|−α+1)-prefixes; J ≥ t
   * gives α = ⌈t·max(|x|,|y|)⌉ ≥ ⌈t·|x|⌉, so these prefixes are long
   * enough — no qualifying pair can be missed. The global order is the
   * (document frequency, token) tuple — rarest first, ties by text, no
   * global rank materialization — applied per doc by ONE id-keyed
   * window. Rare tokens head every prefix, so the candidate join runs
   * on exactly the tokens least likely to collide: at 100 TB this is
   * the difference between joining stopwords and joining near-unique
   * terms, and unlike `maxDocFreq` capping it prunes WITHOUT changing
   * the similarity space.
   */
  def prefixJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"prefixJaccardPairs: threshold must be in (0, 1], got $threshold")
    val toks = docTokens(df, idCol, textCol)
    val freq = toks.groupBy("token").agg(count(lit(1)).as("__df"))
    val sizes = toks.groupBy("id").agg(count(lit(1)).as("size"))
    val w = Window.partitionBy(col("id"))
      .orderBy(col("__df").asc, col("token").asc)
    val prefix = toks.join(freq, Seq("token")).join(sizes, Seq("id"))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= col("size") - ceil(lit(threshold) * col("size")) + 1)
      .select(col("id"), col("token"))
    val cand = prefix.select(col("id").as("i"), col("token"))
      .join(prefix.select(col("id").as("j"), col("token")), Seq("token"))
      .where(col("i") < col("j"))
      .select("i", "j").distinct()
    val ti = toks.select(col("id").as("i"), col("token"))
    val tj = toks.select(col("id").as("j"), col("token"))
    cand.join(ti, Seq("i")).join(tj, Seq("j", "token"))
      .groupBy("i", "j").agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("id").as("i"), col("size").as("si")), Seq("i"))
      .join(sizes.select(col("id").as("j"), col("size").as("sj")), Seq("j"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("si") + col("sj") - col("inter")))
      .where(col("jaccard") >= threshold)
      .select(col("i"), col("j"), col("jaccard"))
  }

  /** Character n-gram Jaccard near-dup pairs. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String, n: Int,
      threshold: Double, maxDocFreq: Option[Long] = None): DataFrame =
    jaccardPairs(docShingles(df, idCol, textCol, n), threshold, maxDocFreq)

  // ---- MinHash + LSH ------------------------------------------------------

  private val HashPrime = (1L << 31) - 1 // Mersenne 2^31-1

  /** Seeded universal-hash coefficients, bounded so a·h+b stays within a
    * signed 64-bit long under Spark's ANSI overflow checks: h < 2^31,
    * a < 2^30, b < 2^30 → a·h+b < 2^62. */
  private[graft] def hashCoeffs(numHashes: Int, seed: Long): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(numHashes)(
      ((rnd.nextLong() & ((1L << 30) - 1)) | 1L, rnd.nextLong() & ((1L << 30) - 1)))
  }

  /**
   * MinHash signatures: one row per doc, `sig` = array of `numHashes`
   * minima of (a·h(token)+b) mod p. One explode + one groupBy —
   * the groupBy shuffles (id, k longs), not the documents.
   */
  def minhashSignatures(tokens: DataFrame, numHashes: Int = 32,
      seed: Long = 42L): DataFrame = {
    val h = pmod(xxhash64(col("token")), lit(HashPrime))
    val minExprs = hashCoeffs(numHashes, seed).zipWithIndex.map { case ((a, b), i) =>
      min(pmod(col("__h") * lit(a) + lit(b), lit(HashPrime))).as(s"__m$i")
    }
    val agg = tokens.withColumn("__h", h)
      .groupBy("id")
      .agg(minExprs.head, minExprs.tail: _*)
    agg.select(col("id"),
      array((0 until numHashes).map(i => col(s"__m$i")): _*).as("sig"))
  }

  /** LSH banding: (id, band, bucket) where bucket hashes `rowsPerBand`
    * consecutive signature slots. Docs sharing any band-bucket are
    * candidates. */
  def lshBuckets(signatures: DataFrame, rowsPerBand: Int, numHashes: Int): DataFrame = {
    require(rowsPerBand >= 1 && numHashes % rowsPerBand == 0,
      s"lshBuckets: numHashes ($numHashes) must be a positive multiple of " +
        s"rowsPerBand ($rowsPerBand) — a remainder would silently drop " +
        "signature slots and rowsPerBand > numHashes would yield zero bands")
    val bands = numHashes / rowsPerBand
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(concat_ws("_",
          (0 until rowsPerBand).map(r => col("sig")(b * rowsPerBand + r)): _*)).as("bucket"))
    }
    signatures.select(col("id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** Candidate pairs from shared LSH buckets (distinct i<j).
    *
    * The global distinct is deliberate, MEASURED against the alternative:
    * an owning-band rewrite (emit each pair only from its minimum
    * colliding band, dedup as a per-row predicate over carried bucket
    * ladders, no distinct exchange) was tried in r12 and REGRESSED the
    * whole family — d16 10.3 → 15.1 s, d5 3.6 → 6.0 s, pipe2 15.7 →
    * 17.9 s at sf0.1 — because carrying the 11-slot ladder array on every
    * exploded bucket row widens the collision join's shuffle ~5× and the
    * per-collision-row HOF predicate costs more than hashing two longs
    * into the distinct's agg. Collision rows are narrow (i, j); the
    * distinct exchange is the cheaper dedup. */
  def lshCandidates(buckets: DataFrame): DataFrame =
    buckets.as("a").join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("i"), col("b.id").as("j"))
      .distinct()

  /**
   * P205 — minhash estimator error audit: over EVERY pair of a sampled
   * corpus, the signature-agreement Jaccard estimate (matching slots /
   * numHashes) beside the exact token Jaccard and the absolute error —
   * the "how tight is k hashes on THIS corpus" calibration that decides
   * the d5/d16 banding parameters from data instead of the textbook
   * bound (this synthetic corpus's 0.61 mean pairwise similarity is
   * exactly where the bound is least informative). Emits
   * (i, j, est_j, exact_j, abs_err) for all i < j.
   *
   * Signatures here use the PORTABLE hash ([[Sampling.hashValue]] mod
   * the Mersenne prime) — unlike the xxhash64 production path — so the
   * oracle replays every slot; same [[hashCoeffs]] ladder. CALLER
   * CONTRACT: all-pairs over the SAMPLE (k-sized) — the audit measures
   * the estimator, production candidate generation stays banded.
   */
  def minhashErrorAudit(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 16, seed: Long = 42L): DataFrame = {
    require(numHashes >= 1 && numHashes <= 64,
      s"minhashErrorAudit: numHashes must be in 1..64, got $numHashes")
    // fanOut = false: the caller contract is a SAMPLE-sized corpus (the
    // audit is all-pairs), so the input fanout exchange never pays
    val tokens = docTokens(df, idCol, textCol, fanOut = false)
    val h = pmod(Sampling.hashValue(col("token"), "mh:"), lit(HashPrime))
    val sigExprs = hashCoeffs(numHashes, seed).zipWithIndex.map {
      case ((a, b), i) =>
        min(pmod(col("__h") * lit(a) + lit(b), lit(HashPrime))).as(s"__m$i")
    }
    val sigs = tokens.withColumn("__h", h)
      .groupBy("id").agg(sigExprs.head, sigExprs.tail: _*)
    val sizes = tokens.groupBy("id").agg(count(lit(1)).as("sz"))
    // explicitly renamed projections — .as-aliased self-joins of derived
    // frames mis-resolve (the winnowOverlapPairs lesson)
    val sa = sigs.select(col("id").as("i") +:
      (0 until numHashes).map(k => col(s"__m$k").as(s"__a$k")): _*)
    val sb = sigs.select(col("id").as("j") +:
      (0 until numHashes).map(k => col(s"__m$k").as(s"__b$k")): _*)
    val matches = (0 until numHashes)
      .map(k => when(col(s"__a$k") === col(s"__b$k"), 1L).otherwise(0L))
      .reduce(_ + _)
    val est = sa.join(broadcast(sb), col("i") < col("j")) // sample-sized side
      .select(col("i"), col("j"),
        round(matches.cast("double") / lit(numHashes.toDouble), 6)
          .as("est_j"))
    val ta = tokens.select(col("id").as("i"), col("token"))
    val tb = tokens.select(col("id").as("j"), col("token"))
    val inter = ta.join(tb, Seq("token"))
      .where(col("i") < col("j"))
      .groupBy("i", "j").agg(count(lit(1)).as("__x"))
    est
      .join(inter.hint("shuffle_hash"), Seq("i", "j"), "left")
      .join(sizes.select(col("id").as("i"), col("sz").as("__si"))
        .hint("shuffle_hash"), Seq("i"))
      .join(sizes.select(col("id").as("j"), col("sz").as("__sj"))
        .hint("shuffle_hash"), Seq("j"))
      .withColumn("exact_j",
        round(coalesce(col("__x"), lit(0L)).cast("double") /
          (col("__si") + col("__sj") - coalesce(col("__x"), lit(0L)))
            .cast("double"), 6))
      .withColumn("abs_err", round(abs(col("est_j") - col("exact_j")), 6))
      .select("i", "j", "est_j", "exact_j", "abs_err")
  }

  /**
   * MinHash near-dup pipeline: signatures → bands → candidates → exact
   * Jaccard verification of candidates only. Verification joins the token
   * relation twice but ONLY for candidate pairs — the all-pairs explosion
   * never happens.
   */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, numHashes: Int = 32, rowsPerBand: Int = 4,
      seed: Long = 42L): DataFrame = {
    // Fully lazy, no cache: candidate pairs are DISTINCT (i, j) — each pair
    // is verified exactly once however many bands it collides in.
    // Verification joins each candidate pair to the two doc-level TOKEN
    // ARRAYS and computes |A∩B| with one array_intersect per pair: on a
    // dense-similarity corpus banding prunes little (d16 measured 3.9M
    // candidates = 55% of all pairs at sf0.1), and the old exploded-token
    // double join fanned every pair out by tokens-per-doc (~183M rows
    // through a shuffle + a pair-keyed count agg — 28 s of the 24 s
    // query). The array form shuffles one array per PAIR instead of one
    // row per (pair, token): guide §2.3, shuffle keys+payload once. The
    // arrays are the same array_distinct token sets docTokens explodes,
    // so |array_intersect| ≡ the join-count and size(toks) ≡ the old
    // per-id count — bit-identical jaccard.
    val arrays = docTokenArrays(df, idCol, textCol)
    val tokens = arrays.select(col("id"), explode(col("toks")).as("token"))
    val cands = lshCandidates(
      lshBuckets(minhashSignatures(tokens, numHashes, seed), rowsPerBand, numHashes))
    cands
      .join(arrays.select(col("id").as("i"), col("toks").as("__ta"))
        .hint("shuffle_hash"), Seq("i"))
      .join(arrays.select(col("id").as("j"), col("toks").as("__tb"))
        .hint("shuffle_hash"), Seq("j"))
      .withColumn("inter",
        size(array_intersect(col("__ta"), col("__tb"))).cast("long"))
      .withColumn("si", size(col("__ta")).cast("long"))
      .withColumn("sj", size(col("__tb")).cast("long"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("si") + col("sj") - col("inter")))
      .where(col("jaccard") >= threshold)
      .select(col("i"), col("j"), col("jaccard"))
  }

  /**
   * P85 — cross-corpus near-dup detection: MinHash-LSH candidates BETWEEN
   * a new batch and an existing reference corpus, exact-Jaccard-verified
   * — the "dedup this crawl against the training set we already have"
   * pass an incremental pipeline runs on every ingest, where
   * re-deduplicating the full union (minhashNearDups over new ∪ ref)
   * would re-shuffle the whole reference corpus for every small batch.
   * Returns (new_id, ref_id, jaccard ≥ threshold); ids may collide
   * across corpora — the pair is (new, ref) positional, never i<j.
   *
   * Scale shape: signatures/bands per corpus use the SAME hash family
   * and banding (shared helpers — the sketch one-definition rule), so
   * candidates are an equi-join on (band, bucket) with the big reference
   * side partitioned once; verification streams the two thin token
   * relations through hash joins for candidate pairs only, exactly like
   * [[minhashNearDups]]. Exact copies share every band (identical
   * signatures), so recall on true duplicates is 1 regardless of
   * banding; borderline pairs keep the standard S-curve recall.
   */
  def crossCorpusNearDups(newDf: DataFrame, refDf: DataFrame, idCol: String,
      textCol: String, threshold: Double, numHashes: Int = 32,
      rowsPerBand: Int = 4, seed: Long = 42L): DataFrame = {
    val newArr = docTokenArrays(newDf, idCol, textCol)
    val refArr = docTokenArrays(refDf, idCol, textCol)
    val newToks = newArr.select(col("id"), explode(col("toks")).as("token"))
    val refToks = refArr.select(col("id"), explode(col("toks")).as("token"))
    def buckets(t: DataFrame) =
      lshBuckets(minhashSignatures(t, numHashes, seed), rowsPerBand, numHashes)
    val cands = buckets(newToks).as("a")
      // post-shuffle derived sides carry no stats — pin shuffle-hash so
      // the bucket join can never fall back to sort-merge (the d11 rule)
      .join(buckets(refToks).as("b").hint("shuffle_hash"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket"))
      .select(col("a.id").as("new_id"), col("b.id").as("ref_id"))
      .distinct()
    // Verification = one array_intersect per candidate pair against the
    // doc-level token arrays (the minhashNearDups rationale: the dense
    // corpus makes candidates ≈ all pairs, and the exploded-token double
    // join fanned 3.9M pairs × ~47 tokens ≈ 183M rows through a shuffle;
    // one array per pair shuffles ~50× fewer rows and drops the
    // pair-keyed count agg and both size joins).
    cands
      .join(newArr.select(col("id").as("new_id"), col("toks").as("__ta"))
        .hint("shuffle_hash"), Seq("new_id"))
      .join(refArr.select(col("id").as("ref_id"), col("toks").as("__tb"))
        .hint("shuffle_hash"), Seq("ref_id"))
      .withColumn("inter",
        size(array_intersect(col("__ta"), col("__tb"))).cast("long"))
      .withColumn("si", size(col("__ta")).cast("long"))
      .withColumn("sj", size(col("__tb")).cast("long"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("si") + col("sj") - col("inter")))
      .where(col("jaccard") >= threshold)
      .select(col("new_id"), col("ref_id"), col("jaccard"))
  }

  // ---- SimHash ------------------------------------------------------------

  /** SimHash per doc: bit j set when Σ±1 over token-hash bit j is positive.
    * One explode + one `bits`-column aggregate. The token hash is pluggable:
    * the default xxhash64 is Spark-internal (fast, 64-bit); pass
    * [[portableTokenHash]] (+ bits = 56) when the fingerprints must be
    * reproducible by another engine (oracle-checked pipelines). */
  def simhash(tokens: DataFrame, idCol: String = "id",
      hash: Column = xxhash64(col("token")), bits: Int = 64): DataFrame = {
    val bitSums = (0 until bits).map { j =>
      sum(when(shiftright(col("__h"), j).bitwiseAND(lit(1L)) === 1L, 1L)
        .otherwise(-1L)).as(s"__b$j")
    }
    val agg = tokens.withColumn("__h", hash).groupBy(idCol).agg(bitSums.head, bitSums.tail: _*)
    val fp = (0 until bits).map(j =>
      when(col(s"__b$j") > 0, lit(1L << j)).otherwise(lit(0L))).reduce(_ + _)
    agg.select(col(idCol).as("id"), fp.as("simhash"))
  }

  /** Engine-portable token hash: the first 56 bits of standard MD5, so any
    * engine with an md5() can reproduce the fingerprints bit-for-bit
    * (cryptographic diffusion; 56 bits keeps the hex→int conversion inside
    * a signed 64-bit long on both sides). */
  def portableTokenHash: Column =
    conv(substring(md5(col("token")), 1, 14), 16, 10).cast("long")

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /**
   * SimHash near-dups: band the fingerprint into `bands` chunks; pairs
   * sharing any chunk verify full hamming ≤ maxDistance. With bands >
   * maxDistance, pigeonhole guarantees 100% recall — banding is lossless
   * here, unlike MinHash.
   */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
      maxDistance: Int = 3, bands: Int = 4,
      hash: Column = xxhash64(col("token")), bits: Int = 64): DataFrame = {
    // the self-join's two sides are the same subplan — ReuseExchange
    // computes the banded shuffle once, no cache needed
    val fps = simhash(docTokens(df, idCol, textCol), hash = hash, bits = bits)
    val width = bits / bands
    val banded = fps.select(col("id"), col("simhash"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("simhash"), b * width)
            .bitwiseAND(lit((1L << width) - 1)).as("chunk"))): _*)).as("bb"))
      .select(col("id"), col("simhash"), col("bb.band").as("band"), col("bb.chunk").as("chunk"))
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.chunk") === col("b.chunk") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("i"), col("b.id").as("j"),
        hamming(col("a.simhash"), col("b.simhash")).as("distance"))
      .distinct()
      .where(col("distance") <= maxDistance)
  }

  // ---- embedding cosine ---------------------------------------------------

  import org.apache.spark.sql.GraftBridge.{column => exprCol, expression => colExpr}

  /** Dot product of two double arrays (index-order accumulation) — a native
    * codegen'd kernel ([[graft.expressions.VecDot]]): the `zip_with` +
    * `aggregate` HOF formulation it replaces was CodegenFallback (interpreted,
    * boxed per element) in every similarity hot path. */
  def dotProduct(a: Column, b: Column): Column =
    exprCol(graft.expressions.VecDot(colExpr(a), colExpr(b)))

  /** L2-normalize a numeric array into array<double>. Zero vectors
    * normalize to zero (not NaN), so their cosines are 0, never poisoning
    * threshold comparisons. Native kernel ([[graft.expressions.VecL2Norm]]). */
  def l2Normalize(v: Column): Column =
    exprCol(graft.expressions.VecL2Norm(colExpr(v)))

  /** Brute-force cosine near-dup pairs (verification / small-corpus path;
    * the scale path is [[embeddingNearDupsLsh]]). */
  def embeddingNearDupsBrute(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val n = df.select(col(idCol).as("id"), l2Normalize(col(vecCol)).as("v"))
    n.as("a").join(n.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("i"), col("b.id").as("j"),
        dotProduct(col("a.v"), col("b.v")).as("cosine"))
      .where(col("cosine") >= threshold)
  }

  /** Seeded random hyperplanes for cosine LSH: `bits` planes × `dim`. */
  def randomHyperplanes(bits: Int, dim: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(bits, dim)(rnd.nextGaussian())
  }

  /**
   * Random-hyperplane LSH for cosine: sign-bit signature, banded buckets,
   * candidates verified with the exact dot product. P(bit match) =
   * 1 - θ/π, so near-identical vectors collide in every band.
   */
  def embeddingNearDupsLsh(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, bits: Int = 16, bands: Int = 4, seed: Long = 42L): DataFrame = {
    // hyperplane dimension comes from the first NON-NULL vector; null or
    // off-dimension rows are excluded up front — before this filter they
    // were dropped implicitly via null dot products (or crashed dim probing)
    val nonNull = df.where(col(vecCol).isNotNull)
    val dim = nonNull.select(size(col(vecCol))).head(1) match {
      case Array(r) => r.getInt(0)
      case _ => // empty corpus → empty result, same schema
        val spark = df.sparkSession
        import spark.implicits._
        return Seq.empty[(Long, Long, Double)].toDF("i", "j", "cosine")
    }
    val planes = randomHyperplanes(bits, dim, seed)
    // self-join sides are the same subplan → ReuseExchange, no cache
    val n = nonNull.where(size(col(vecCol)) === dim)
      .select(col(idCol).as("id"), l2Normalize(col(vecCol)).as("v"))
    val sigBits = planes.zipWithIndex.map { case (p, i) =>
      val planeCol = array(p.toIndexedSeq.map(lit): _*)
      when(dotProduct(col("v"), planeCol) >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
    val width = bits / bands
    val banded = n.withColumn("sig", sigBits)
      .select(col("id"), col("v"), explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("sig"), b * width)
            .bitwiseAND(lit((1L << width) - 1)).as("chunk"))): _*)).as("bb"))
      .select(col("id"), col("v"), col("bb.band").as("band"), col("bb.chunk").as("chunk"))
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.chunk") === col("b.chunk") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("i"), col("b.id").as("j"),
        dotProduct(col("a.v"), col("b.v")).as("cosine"))
      .distinct()
      .where(col("cosine") >= threshold)
  }

  /**
   * P56 — semantic dedup (the SemDeDup recipe): drop every row that has
   * ANY smaller-id neighbor within `threshold` cosine, kept or not.
   * Deliberately DOMINANCE — one candidate pass, no iteration. It is
   * more aggressive than greedy keep-first (which compares only against
   * survivors, so a row whose only near neighbor was itself dropped
   * stays) and cheaper than transitive closure (no fixed-point rounds);
   * all three policies coincide when near-dup neighborhoods are cliques,
   * the overwhelmingly common case of exact and scaled copies. For
   * component semantics compose [[duplicateClusters]] + the d11
   * retention instead.
   *
   * Candidates come from [[embeddingNearDupsLsh]] (banded hyperplane
   * buckets — never all pairs), so at 100 TB the cost is the LSH
   * pipeline plus one left-anti join of the corpus against the distinct
   * dominated-id set, which is at most one id per dropped row. Returns
   * the surviving rows with their original columns.
   *
   * Carve-out, inherited from the LSH candidate stage: rows with a NULL
   * vector or a dimension different from the corpus's first non-null
   * vector never enter candidate generation, so they always SURVIVE —
   * indistinguishable here from "no near neighbor". A mixed-dimension
   * corpus must be split (or validated) by the caller first; this
   * operator will not dedup across the dimension boundary.
   */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, bits: Int = 16, bands: Int = 4,
      seed: Long = 42L): DataFrame = {
    val dominated = embeddingNearDupsLsh(df, idCol, vecCol, threshold,
      bits, bands, seed)
      .select(col("j").as(idCol)) // (i, j) pairs carry i < j: j falls
      .distinct()
    df.join(dominated, Seq(idCol), "left_anti")
  }

  /**
   * P37 — exact anti-join against a reference corpus with a bloom-filter
   * prefilter: keep the rows of `df` whose `keyCol` does NOT appear in
   * `ref(refKeyCol)` (incremental dedup — "drop everything already in the
   * training set").
   *
   * A bloom filter over the reference keys (built distributed, broadcast
   * once) splits `df` in a scan-speed projection: bloom-NEGATIVE rows are
   * *provably* absent from the reference (no false negatives) and go
   * straight to the output without ever shuffling; only the ~fpp tail of
   * bloom-positive rows pays the exact anti-join that removes false
   * positives. The result is EXACTLY the plain anti-join (the oracle
   * replays it as NOT IN), but at 100 TB the shuffle carries fpp·|df| +
   * |true matches| rows instead of |df| — the two extra scans of `df` are
   * the cheap side of that trade. Keys compare as strings on both sides so
   * the bloom's hashing and the join agree on equality; null/blank keys
   * can never equal a reference key (SQL null semantics) and ride the
   * definitely-absent branch.
   *
   * Sizing: ~1.2 bytes/key at fpp=0.03 — a 10^8-key reference broadcasts
   * ~120 MB, fine for executor memory; far beyond that, raise fpp (the
   * exact join keeps correctness) or pre-partition both sides instead.
   */
  def bloomAntiJoin(df: DataFrame, keyCol: String, ref: DataFrame,
      refKeyCol: String, expectedItems: Long = 1000000L,
      fpp: Double = 0.03): DataFrame = {
    require(expectedItems > 0, s"bloomAntiJoin: expectedItems must be > 0")
    require(fpp > 0 && fpp < 1, s"bloomAntiJoin: fpp must be in (0,1), got $fpp")
    val refKeys = ref.select(col(refKeyCol).cast("string").as("__k"))
      .where(col("__k").isNotNull)
    val bloom = refKeys.stat.bloomFilter("__k", expectedItems, fpp)
    val bc = df.sparkSession.sparkContext.broadcast(bloom)
    val mightContain = udf((s: String) => s != null && bc.value.mightContainString(s))
    val key = col(keyCol).cast("string")
    val definitelyAbsent = df.where(!mightContain(key))
    val candidates = df.where(mightContain(key))
      .join(refKeys, key === col("__k"), "left_anti")
    definitelyAbsent.union(candidates)
  }

  /**
   * P39 — benchmark decontamination: for every document, count the
   * DISTINCT token n-grams it shares with a benchmark/eval corpus and
   * flag any document with at least one hit (the standard "n-gram
   * overlap" decontamination step every serious pretraining pipeline runs
   * so eval questions don't leak into the training set).
   *
   * Shape: the benchmark side collapses to its distinct n-gram set —
   * benchmarks are eval suites, tiny next to a training corpus — and is
   * broadcast, so the corpus side never shuffles for the probe: explode
   * distinct n-grams per document, broadcast-hash semi-probe, then ONE
   * keyed count aggregation (map-side combinable) and a left join back to
   * the id spine for the zero rows. At 100 TB the only data-sized shuffle
   * is the (id)-keyed count of MATCHED n-grams — a vanishingly small
   * subset when the corpus is clean. Set `broadcastBench = false` for a
   * pathologically large reference (AQE then picks the join side).
   *
   * Tokenization and n-gram construction reuse [[TextAnalysis.tokens]] /
   * [[TextAnalysis.ngramArray]] — one rule shared with the repetition
   * signals, so the families can never silently diverge.
   */
  def decontaminate(docs: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, benchTextCol: String, n: Int,
      broadcastBench: Boolean = true): DataFrame = {
    val benchGrams = benchmark.select(
        explode(TextAnalysis.ngramArray(
          TextAnalysis.tokens(col(benchTextCol)), n)).as("__g"))
      .distinct()
    val probeSide = if (broadcastBench) broadcast(benchGrams) else benchGrams
    val docGrams = docs.select(col(idCol).as("id"),
      explode(array_distinct(TextAnalysis.ngramArray(
        TextAnalysis.tokens(col(textCol)), n))).as("__g"))
    val hits = docGrams.join(probeSide, Seq("__g"))
      .groupBy("id").agg(count(lit(1)).as("n_matched"))
    docs.select(col(idCol).as("id"))
      .join(hits, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_matched"), lit(0L)).as("n_matched"),
        when(coalesce(col("n_matched"), lit(0L)) > 0, "Y").otherwise("N")
          .as("contaminated"))
  }

  /**
   * P52 — graded variant of [[decontaminate]]: instead of P39's
   * any-hit Y/N, score each document by the FRACTION of its distinct
   * n-grams found in the probe corpus and flag at `flagThreshold` — the
   * dial between "touched an eval question" and "IS an eval question"
   * (partial-overlap docs can stay; verbatim inclusions go).
   *
   * Scale differences from P39, deliberate: both sides collapse to
   * DISTINCT 56-bit portable hashes of their n-grams before the join, so
   * the shuffle carries 8-byte keys — never gram strings — and the probe
   * side is NOT force-broadcast (a 100-TB probe union can exceed any
   * broadcast budget; AQE broadcasts it when it fits). Hash collisions
   * mark a gram contaminated identically in any engine — the hash is the
   * join key on both sides, so the operator stays deterministic.
   * Documents with fewer than n tokens score 0. Tokenization and n-gram
   * construction are the same [[TextAnalysis.tokens]] /
   * [[TextAnalysis.ngramArray]] rules as P39 and the repetition signals.
   */
  def ngramContamination(docs: DataFrame, idCol: String, textCol: String,
      probes: DataFrame, probeTextCol: String, n: Int = 3,
      flagThreshold: Double = 0.5): DataFrame = {
    require(n >= 1 && n <= 4, s"ngramContamination: n must be in [1,4], got $n")
    require(flagThreshold >= 0.0 && flagThreshold <= 1.0,
      s"ngramContamination: flagThreshold must be in [0,1], got $flagThreshold")
    def grams(c: Column) =
      array_distinct(TextAnalysis.ngramArray(TextAnalysis.tokens(c), n))
    // explode_outer keeps gram-less docs as one null-gram row, so they
    // survive to the output with n_ngrams = 0 (count skips the null)
    val docGrams = docs.select(col(idCol).as("doc_id"),
      explode_outer(grams(col(textCol))).as("g"))
      .select(col("doc_id"), Sampling.hashValue(col("g"), "dc:").as("gh"),
        col("g").isNotNull.as("present"))
    val probeGrams = probes
      .select(explode(grams(col(probeTextCol))).as("g"))
      .select(Sampling.hashValue(col("g"), "dc:").as("gh"))
      .distinct()
      .withColumn("hit", lit(1))
    docGrams
      .join(probeGrams, Seq("gh"), "left")
      .groupBy("doc_id")
      .agg(
        count(when(col("present"), lit(1))).as("n_ngrams"),
        count(when(col("present"), col("hit"))).as("n_contaminated"))
      .withColumn("contamination",
        when(col("n_ngrams") === 0L, lit(0.0))
          .otherwise(col("n_contaminated").cast("double") / col("n_ngrams")))
      .withColumn("flagged", col("contamination") >= lit(flagThreshold))
  }

  /**
   * P119 — MOSS-style overlap pairs from winnow fingerprints: document
   * pairs sharing ≥ `minShared` [[TextAnalysis.winnowFingerprints]]
   * values, scored overlap = shared / min(|fpᵢ|, |fpⱼ|) — the
   * containment-flavored plagiarism/boilerplate detector that catches
   * partial-copy inclusion (a prefix excerpt scores ~1 against its
   * source) where whole-document Jaccard dilutes away.
   *
   * Shape: fingerprints explode once; fingerprints occurring in more
   * than `maxFpFreq` documents are dropped from MATCHING (the q-gram
   * stop-gram cap — corpus-boilerplate shingles otherwise make the
   * self-join quadratic) but still count toward each document's size, so
   * boilerplate can't manufacture overlap evidence. Equi self-join on
   * the fingerprint value, pair agg, two size joins — all shuffle_hash
   * (post-agg no-stats rule). Exact integer counts; one division,
   * rounded at 6.
   */
  def winnowOverlapPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int, window: Int, minShared: Long,
      maxFpFreq: Long = 1000L): DataFrame = {
    require(minShared >= 1L,
      s"winnowOverlapPairs: minShared must be >= 1, got $minShared")
    require(maxFpFreq >= 1L,
      s"winnowOverlapPairs: maxFpFreq must be >= 1, got $maxFpFreq")
    val fps = docs.select(col(idCol).as("id"),
      explode(TextAnalysis.winnowFingerprints(col(textCol), k, window))
        .as("fp"))
    val sizes = fps.groupBy("id").agg(count(lit(1)).as("sz"))
    val rare = fps.groupBy("fp").agg(count(lit(1)).as("__n"))
      .where(col("__n") <= maxFpFreq).select("fp")
    val kept = fps.join(rare.hint("shuffle_hash"), Seq("fp"), "left_semi")
    // explicit renamed projections: a .as-alias self-join downstream of
    // the semi join resolves both `id` refs to one side (reversed pairs)
    val lhs = kept.select(col("id").as("__ia"), col("fp"))
    val rhs = kept.select(col("id").as("__jb"), col("fp"))
    lhs.join(rhs.hint("shuffle_hash"), Seq("fp"))
      .where(col("__ia") < col("__jb"))
      .groupBy(col("__ia").as("i"), col("__jb").as("j"))
      .agg(count(lit(1)).as("shared"))
      .where(col("shared") >= minShared)
      .join(sizes.select(col("id").as("i"), col("sz").as("si"))
        .hint("shuffle_hash"), Seq("i"))
      .join(sizes.select(col("id").as("j"), col("sz").as("sj"))
        .hint("shuffle_hash"), Seq("j"))
      .withColumn("overlap",
        round(col("shared").cast("double") /
          least(col("si"), col("sj")).cast("double"), 6))
      // using-joins float their key to the front — pin the column order
      .select("i", "j", "shared", "si", "sj", "overlap")
  }

  /**
   * P236 — duplicate-cluster quality audit against a ground-truth key:
   * per cluster, member count, DISTINCT truth-key count and a purity
   * flag — "did the dedup clustering merge things it shouldn't have"
   * (n_bases > 1 means distinct sources landed in one cluster:
   * either a real cross-source duplication finding or an LSH/banding
   * false merge — this is the query that tells the difference during
   * pipeline bring-up, because the truth key exists in synthetic/
   * labeled corpora exactly for this audit). Emits (cluster_id,
   * n_members, n_bases, pure) per cluster.
   *
   * Shapes: one shuffle-hash join of the cluster map onto the truth
   * frame (both keyed by id), one keyed agg with a distinct count.
   * Exact integers throughout.
   */
  def clusterPurity(clusters: DataFrame, idCol: String, clusterCol: String,
      truth: DataFrame, truthIdCol: String, truthCol: String): DataFrame = {
    val c = clusters.select(col(idCol).as("__id"),
      col(clusterCol).as("cluster_id"))
    val t = truth.where(col(truthIdCol).isNotNull)
      .select(col(truthIdCol).as("__id"), col(truthCol).as("__base"))
    c.join(t.hint("shuffle_hash"), Seq("__id"))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        countDistinct(col("__base")).as("n_bases"))
      .withColumn("pure", col("n_bases") === 1)
  }

  /**
   * P228 — edit-distance near-duplicate pairs: block on the lowercased
   * text PREFIX (typo variants, version-suffixed re-uploads and OCR
   * re-scans share their opening), then verify candidates with exact
   * Levenshtein ≤ `maxDist` — the character-level complement to the
   * token-set dedup family: Jaccard misses a doc whose every token got
   * one character mangled, Levenshtein is exactly that metric. Emits
   * (i, j, dist) with i < j. DOCUMENTED blocking limitation (the
   * d13/SNM family caveat): an edit inside the first `prefixLen`
   * characters escapes the block — run a second pass blocked on a
   * suffix or simhash band when that matters.
   *
   * Shapes — three rules that keep this off the quadratic cliff
   * (block pairs grow QUADRATICALLY in dup-group size: a template-heavy
   * corpus with groups of g rows has g²/2 row pairs per block, so 10×
   * data = 100× pairs; the r10 unmitigated form ran 450 s at sf0.1):
   * (1) collapse to DISTINCT texts before pairing — Levenshtein runs
   * once per distinct-text pair, and id pairs fan back out through two
   * equi-joins on the text (row pairs sharing a text never touch the
   * DP at all, they are emitted as dist-0 pairs by a same-text
   * self-join); (2) the free `abs(length(a)−length(b)) <= maxDist`
   * prefilter kills most candidates before any DP (a length gap is a
   * Levenshtein lower bound); (3) the THRESHOLDED
   * `levenshtein(l, r, maxDist)` — Spark's banded DP early-exits once
   * the bound is exceeded (O(L·maxDist) instead of O(L²); returns −1
   * past the bound, filtered out). All joins are renamed-projection
   * self-join sides (the winnowOverlapPairs alias-resolution lesson)
   * with shuffle-hash pins. Both engines implement classical
   * character-level Levenshtein; the distance is an exact integer.
   */
  def editDistanceDupPairs(docs: DataFrame, idCol: String, textCol: String,
      prefixLen: Int, maxDist: Int): DataFrame = {
    require(prefixLen >= 4,
      s"editDistanceDupPairs: prefixLen must be >= 4, got $prefixLen")
    require(maxDist >= 0,
      s"editDistanceDupPairs: maxDist must be >= 0, got $maxDist")
    val base = docs
      .where(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol).as("__id"),
        col(textCol).cast("string").as("__text"),
        substring(lower(col(textCol).cast("string")), 1, prefixLen)
          .as("__blk"))
    // equal texts share the prefix block by construction, so the two
    // legs below partition the (i < j, same-block) pair space exactly:
    // same-text pairs (dist 0, no DP) + distinct-text pairs (DP once
    // per TEXT pair, ids fanned back out).
    val texts = base.select(col("__blk"), col("__text")).distinct()
    val ta = texts.select(col("__blk"), col("__text").as("__ta"))
    val tb = texts.select(col("__blk"), col("__text").as("__tb"))
    val textPairs = ta.join(tb.hint("shuffle_hash"), Seq("__blk"))
      .where(col("__ta") < col("__tb"))
      .where(abs(length(col("__ta")) - length(col("__tb"))) <= maxDist)
      .withColumn("dist", levenshtein(col("__ta"), col("__tb"), maxDist))
      .where(col("dist") >= 0)
      .select(col("__ta"), col("__tb"), col("dist"))
    val ids = base.select(col("__text"), col("__id"))
    val crossPairs = textPairs
      .join(ids.select(col("__text").as("__ta"), col("__id").as("__ia"))
        .hint("shuffle_hash"), Seq("__ta"))
      .join(ids.select(col("__text").as("__tb"), col("__id").as("__ib"))
        .hint("shuffle_hash"), Seq("__tb"))
      .where(col("__ia") =!= col("__ib")) // an id carrying BOTH texts must not self-pair
      .select(least(col("__ia"), col("__ib")).as("i"),
        greatest(col("__ia"), col("__ib")).as("j"), col("dist"))
    val sa = ids.select(col("__text"), col("__id").as("i"))
    val sb = ids.select(col("__text"), col("__id").as("j"))
    val samePairs = sa.join(sb.hint("shuffle_hash"), Seq("__text"))
      .where(col("i") < col("j"))
      .select(col("i"), col("j"), lit(0).as("dist"))
    crossPairs.unionByName(samePairs)
  }

  /**
   * P247 — MinHash banding sweep: for each rows-per-band setting over
   * ONE shared portable signature frame, the candidate-pair count and
   * its precision/recall against exact Jaccard ≥ threshold — the
   * (b, r) tuning table that prevents the d16 class of failure
   * (banding shipped blind, recall silently short) computed ON a
   * sample instead of reasoned from the textbook curve: this corpus's
   * 0.61 mean pairwise similarity makes the standard miss-bound charts
   * wildly optimistic, and only the measured table shows it. Emits per
   * setting (rows_per_band, bands, n_candidates, n_true, n_hit,
   * precision, recall).
   *
   * SAMPLE-SIZED INPUT REQUIRED (the d18 contract): the exact-truth
   * side is all-pairs by definition — that is the point of a tuning
   * audit, and why it runs on the hash-sample, never the corpus.
   * Cross-engine: signatures are the d18 portable slots (md5 token
   * hash through the affine ladder); band keys are plain slot-value
   * concatenations (no engine hash); counts exact, ratios rounded
   * at 6.
   */
  def bandingSweep(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 16, rowsPerBandLadder: Seq[Int] = Seq(2, 4, 8),
      thresholdPct: Int = 90, seed: Long = 42L): DataFrame = {
    require(numHashes >= 2 && numHashes <= 64,
      s"bandingSweep: numHashes must be in 2..64, got $numHashes")
    require(rowsPerBandLadder.nonEmpty &&
      rowsPerBandLadder.forall(r => r >= 1 && numHashes % r == 0),
      s"bandingSweep: every rows-per-band must divide $numHashes")
    require(rowsPerBandLadder.distinct.size == rowsPerBandLadder.size,
      s"bandingSweep: duplicate settings in $rowsPerBandLadder")
    require(thresholdPct >= 1 && thresholdPct <= 100,
      s"bandingSweep: thresholdPct must be in 1..100, got $thresholdPct")
    // The sweep's shared frames are all SAMPLE-sized (the caller contract
    // below) but referenced many times: tokens 4x (signatures, sizes, both
    // intersection sides), the signature frame once per ladder member, the
    // truth set twice per member — the lazy form unrolled to 144 parquet
    // scans (measured r12), so each is materialized once.
    val tokens = Graft.materialize(docTokens(df, idCol, textCol, fanOut = false))
    val h = pmod(Sampling.hashValue(col("token"), "mh:"), lit(HashPrime))
    val sigExprs = hashCoeffs(numHashes, seed).zipWithIndex.map {
      case ((a, b), i) =>
        min(pmod(col("__h") * lit(a) + lit(b), lit(HashPrime))).as(s"__m$i")
    }
    val sigs = Graft.materialize(tokens.withColumn("__h", h)
      .groupBy("id").agg(sigExprs.head, sigExprs.tail: _*))
    val sizes = tokens.groupBy("id").agg(count(lit(1)).as("sz"))
    val inter = tokens.select(col("id").as("i"), col("token"))
      .join(tokens.select(col("id").as("j"), col("token")), Seq("token"))
      .where(col("i") < col("j"))
      .groupBy("i", "j").agg(count(lit(1)).as("__x"))
    val thr = thresholdPct / 100.0
    val truth = Graft.materialize(inter
      .join(sizes.select(col("id").as("i"), col("sz").as("__si"))
        .hint("shuffle_hash"), Seq("i"))
      .join(sizes.select(col("id").as("j"), col("sz").as("__sj"))
        .hint("shuffle_hash"), Seq("j"))
      .where(round(col("__x").cast("double") /
        (col("__si") + col("__sj") - col("__x")).cast("double"), 6) >= thr)
      .select(col("i"), col("j")))
    rowsPerBandLadder.sorted.map { r =>
      val bands = numHashes / r
      val keyed = sigs.select(col("id") +:
        (0 until bands).map { b =>
          concat_ws("_", (0 until r).map(k => col(s"__m${b * r + k}")): _*)
            .as(s"__k$b")
        }: _*)
      val exploded = keyed.select(col("id"), explode(array(
        (0 until bands).map(b =>
          struct(lit(b).as("band"), col(s"__k$b").as("key"))): _*))
        .as("__bk"))
        .select(col("id"), col("__bk.band").as("band"),
          col("__bk.key").as("key"))
      // materialized: the candidate set feeds both the count and the
      // truth semi-join — the lazy form ran the band self-join twice
      val cand = Graft.materialize(
        exploded.select(col("id").as("i"), col("band"), col("key"))
          .join(exploded.select(col("id").as("j"), col("band"), col("key"))
            .hint("shuffle_hash"), Seq("band", "key"))
          .where(col("i") < col("j"))
          .select(col("i"), col("j")).distinct())
      val nc = cand.agg(count(lit(1)).as("n_candidates"))
      val nt = truth.agg(count(lit(1)).as("n_true"))
      val nh = cand.join(truth.hint("shuffle_hash"), Seq("i", "j"),
        "left_semi").agg(count(lit(1)).as("n_hit"))
      nc.join(nt).join(nh) // three 1-row frames
        .select(lit(r).as("rows_per_band"), lit(bands).as("bands"),
          col("n_candidates"), col("n_true"), col("n_hit"),
          round(col("n_hit").cast("double") /
            greatest(col("n_candidates"), lit(1L)).cast("double"), 6)
            .as("precision"),
          round(col("n_hit").cast("double") /
            greatest(col("n_true"), lit(1L)).cast("double"), 6)
            .as("recall"))
    }.reduce(_.unionByName(_))
  }

  /**
   * P367 — dedup growth curve: exact-duplicate rate over NESTED
   * portable-hash subsets of the corpus ([[Sampling.hashBucket]] < k
   * for k = 1..buckets) — the measured "duplication grows with scale"
   * read behind capacity planning: a random sample scatters each dup
   * group's copies across subsets, so the small subset sees mostly
   * singletons and the dup rate RISES toward the full-corpus rate as
   * the sample grows — a savings estimate from a sample UNDERSTATES
   * full-scale savings. The subset key must be a HASH of the id, not
   * id arithmetic: a modular key that correlates with the dup-group
   * construction keeps whole groups together and flattens the curve
   * (measured — id%4 on this corpus reads a constant 0.8 at every
   * subset). One row per subset: (subset_pct, n_docs, n_distinct,
   * dup_rate). Distinctness is on the raw text, mirroring
   * [[exactDedup]]'s grouping key; at 100 TB swap the text for its
   * fingerprint — same curve, bounded shuffle width.
   *
   * Shapes: one map-side-combinable count-distinct agg per subset (the
   * subsets nest, but each agg scans its own filtered slice — k scans
   * of a k-step curve; no windows, no joins).
   */
  def dedupGrowthCurve(docs: DataFrame, idCol: String, textCol: String,
      buckets: Int = 4): DataFrame = {
    require(buckets >= 2 && buckets <= 100,
      s"dedupGrowthCurve: buckets must sit in 2..100, got $buckets")
    val base = docs.where(col(idCol).isNotNull && col(textCol).isNotNull)
    (1 to buckets).map { k =>
      base.where(Sampling.hashBucket(col(idCol), buckets) < k)
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col(textCol)).as("n_distinct"))
        .select(lit(k * 100 / buckets).as("subset_pct"), col("n_docs"),
          col("n_distinct"),
          round(lit(1.0) - col("n_distinct").cast("double") /
            col("n_docs").cast("double"), 6).as("dup_rate"))
    }.reduce(_.unionByName(_))
  }
}
