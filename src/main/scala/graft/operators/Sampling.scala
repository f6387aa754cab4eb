package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Deterministic hash-based sampling and splitting.
 *
 * Training pipelines need samples and train/val/test splits that are (a)
 * stable across re-runs and engines — a row's split must never change when
 * the job is re-executed, scaled, or reimplemented — and (b) consistent
 * across tables: hashing a shared key puts a user's every row in the same
 * split, where `df.sample()` (RNG per partition, order-dependent) does
 * neither. Buckets come from the first 56 bits of standard MD5 of the key
 * (the same engine-portable construction the simhash dedup uses —
 * [[Dedup.portableTokenHash]]), so any engine with an md5() reproduces the
 * assignment bit-for-bit and a DuckDB oracle can replay it.
 *
 * Pure projections/filters — no shuffle, no RNG, codegen'd.
 */
object Sampling {

  /** Engine-portable 56-bit hash of (salt ++ key): the first 14 hex chars
    * of standard MD5 as a long. Nulls hash as the empty string, keeping
    * the function total. The primitive under buckets, samples, splits,
    * and per-key caps. */
  def hashValue(key: Column, salt: String = ""): Column =
    conv(substring(md5(concat(lit(salt), coalesce(key.cast("string"), lit("")))),
      1, 14), 16, 10).cast("long")

  /** Portable uniform in (0, 1]: ([[hashValue]] + 1) / 2^56. The SINGLE
    * definition behind every keep-draw and A-ES key — the sa8/sa9/d14
    * oracles replay the +1 offset and 2^56 divisor bit-for-bit, so the
    * construction must never fork per call site (the Sketches
    * shared-cells rule: one definition → batch and every caller cannot
    * drift). */
  def uniform01(key: Column, salt: String = ""): Column =
    (hashValue(key, salt) + lit(1L)).cast("double") / lit(math.pow(2.0, 56))

  /** Efraimidis–Spirakis selection key −ln(u)/w from [[uniform01]],
    * rounded at 9 decimals (the t6 rank discipline); non-positive or null
    * weights raise `opName`-prefixed, never silently skew the sample. */
  private[operators] def aesKey(id: Column, weight: Column, salt: String,
      opName: String): Column =
    when(weight.isNull || weight <= 0,
      raise_error(concat(lit(s"$opName: non-positive weight for id "),
        id.cast("string"))))
      .otherwise(round(-log(uniform01(id, salt)) / weight, 9))

  /** Engine-portable deterministic bucket in [0, buckets): [[hashValue]]
    * mod buckets. `salt` decorrelates independent samples over the same
    * keys. */
  def hashBucket(key: Column, buckets: Int, salt: String = ""): Column = {
    require(buckets >= 1, s"hashBucket: buckets must be >= 1, got $buckets")
    pmod(hashValue(key, salt), lit(buckets.toLong))
  }

  /** Deterministic `fraction` sample: keeps rows whose bucket falls below
    * fraction·buckets. Same key (+salt) → same verdict, forever. */
  def hashSample(df: DataFrame, keyCol: String, fraction: Double,
      salt: String = "", buckets: Int = 10000): DataFrame = {
    require(fraction >= 0.0 && fraction <= 1.0,
      s"hashSample: fraction must be in [0, 1], got $fraction")
    df.where(hashBucket(col(keyCol), buckets, salt) <
      lit(math.round(fraction * buckets)))
  }

  /** Train/val/test (or any) split assignment: appends `splitCol` naming
    * the split whose cumulative weight range the key's bucket falls into.
    * Weights must be positive and sum to ~1 (bucket rounding decides the
    * exact boundary rows, identically on every engine). */
  def hashSplit(df: DataFrame, keyCol: String, splits: Seq[(String, Double)],
      salt: String = "", buckets: Int = 10000,
      splitCol: String = "split"): DataFrame = {
    require(splits.nonEmpty && splits.forall(_._2 > 0),
      "hashSplit: need at least one split, all weights positive")
    val total = splits.map(_._2).sum
    require(math.abs(total - 1.0) < 1e-9,
      s"hashSplit: weights must sum to 1, got $total")
    val bounds = splits.scanLeft(0.0)(_ + _._2).tail
      .map(c => math.round(c * buckets))
    val b = hashBucket(col(keyCol), buckets, salt)
    // chained whens over cumulative bucket bounds; the LAST split is the
    // unconditional fallback, so every bucket lands somewhere even if
    // rounding left a gap at the top
    val out = splits.zip(bounds).init.foldRight(lit(splits.last._1): Column) {
      case (((name, _), bound), rest) => when(b < lit(bound), lit(name)).otherwise(rest)
    }
    df.withColumn(splitCol, out)
  }

  /**
   * P66 — leakage-safe split: [[hashSplit]] keyed by DUPLICATE CLUSTER, so
   * near-duplicate documents always land in the SAME split. Splitting on
   * raw ids leaks training data into eval whenever a near-dup pair
   * straddles the boundary — the contamination a dedup pass exists to
   * prevent; hashing the cluster's min-label instead makes the split
   * decision identical for every member. `pairs` is any pair-producer
   * output here (exact, Jaccard, MinHash-LSH, SimHash); unpaired docs key
   * on their own id (their cluster is themselves). Appends `split_key`
   * (the cluster min-id, the doc's own id for singletons) and `splitCol`.
   *
   * Scale shape: [[Dedup.duplicateClusters]] touches only paired docs
   * (tiny vs the corpus); the cluster map joins back by id with the
   * shuffle-hash hint (the keepBestPerCluster adjudication: post-agg side
   * has no stats, sort-merge is wasted sorts, broadcast would be wrong at
   * scale — AQE still upgrades when the map is tiny); the split itself is
   * a stateless projection. `idCol` values must be orderable and share a
   * type with the pair columns (the min-label is compared and coalesced
   * against them).
   *
   * LEAKAGE CAVEAT when the iteration bound BINDS: `iters` must be ≥ the
   * largest pair-graph component's diameter, or members of one long CHAIN
   * of borderline near-dups get different partial labels (min id within
   * `iters` hops — the [[Dedup.duplicateClusters]] contract) and CAN land
   * in different splits — exactly the contamination this operator exists
   * to prevent, silently. LSH output is dense (star/clique-shaped), so
   * the default covers it; for adversarial or unknown pair graphs set
   * `converged = true`, which routes through
   * [[Dedup.duplicateClustersConverged]] and REFUSES (throws past
   * `iters`) rather than returning leak-prone partial labels.
   */
  def clusterSafeSplit(docs: DataFrame, idCol: String, pairs: DataFrame,
      splits: Seq[(String, Double)], iCol: String = "i", jCol: String = "j",
      iters: Int = 3, salt: String = "", buckets: Int = 10000,
      splitCol: String = "split", converged: Boolean = false): DataFrame = {
    require(!docs.columns.contains("split_key"),
      "clusterSafeSplit: input already has a split_key column — rename it first")
    // the converged path gets at least the standalone tool's default
    // budget: reusing a small `iters` (meant for the bounded path) as
    // maxIters would make the escape hatch throw on ordinary graphs that
    // WOULD converge a few rounds later
    val labeled =
      if (converged) Dedup.duplicateClustersConverged(pairs, iCol, jCol,
        maxIters = math.max(iters, 50))
      else Dedup.duplicateClusters(pairs, iCol, jCol, iters)
    val clusters = labeled
      .select(col("id").as(idCol), col("cluster_id").as("__cl"))
      .hint("shuffle_hash")
    val keyed = docs.join(clusters, Seq(idCol), "left")
      .withColumn("split_key", coalesce(col("__cl"), col(idCol)))
      .drop("__cl")
    hashSplit(keyed, "split_key", splits, salt, buckets, splitCol)
  }

  /**
   * P67 — deterministic weighted sample without replacement
   * (Efraimidis–Spirakis A-ES): each row draws key = −ln(u)/w with u a
   * hash-derived uniform in (0, 1], and the k SMALLEST keys win — the
   * classic one-pass weighted reservoir, made fully deterministic by
   * sourcing u from the portable 56-bit MD5 of the id instead of an RNG
   * (same data → same sample, on every engine, forever). This is the
   * quality-weighted selection step of corpus mixing: w doubles a row's
   * odds exactly as A-ES prescribes, while [[hashSample]] stays the
   * uniform case. Returns the winners as (id, weight, skey, rank),
   * rank 1..k by (skey asc, id asc).
   *
   * Scale shape: a stateless projection (hash, ln, divide) followed by
   * TakeOrderedAndProject — no shuffle beyond the top-k collect; nothing
   * data-sized on the driver. Portability: u = (h+1)/2^56 where both
   * engines round the long→double conversion identically; keys round at
   * 9 decimals with an id tie-break (the t6 rank discipline) so the
   * selection boundary is engine-portable. Non-positive or null weights
   * raise (a silent drop would skew the sample), mirroring the sa6
   * negative-count rule.
   */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
      k: Int, salt: String = ""): DataFrame = {
    require(k >= 1, s"weightedSample: k must be >= 1, got $k")
    val skey = aesKey(col(idCol), col(weightCol), salt, "weightedSample")
    df.select(col(idCol).as("id"), col(weightCol).as("weight"),
        skey.as("skey"))
      .orderBy(col("skey").asc, col("id").asc)
      .limit(k)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("skey").asc, col("id").asc)))
  }

  /**
   * P69 — deterministic per-key weighted reservoir: the k smallest
   * Efraimidis–Spirakis keys WITHIN each stratum win, i.e. an independent
   * [[weightedSample]] per key in one pass. The stratified flavor of
   * corpus mixing: "n docs per source, odds proportional to quality
   * weight", fully deterministic via the same hash-derived uniforms (same
   * data → same reservoir on every engine). Returns
   * (key, id, weight, skey, rank 1..≤k per key).
   *
   * Scale shape: a stateless key projection plus ONE window shuffle keyed
   * by `keyCol` — no per-key top-k collects, nothing data-sized on the
   * driver; a skewed hot key costs one partition's sort (the sa2 rule).
   * Same portability discipline as [[weightedSample]]: u = (h+1)/2^56,
   * keys rounded at 9 decimals, id tie-break; non-positive or null
   * weights raise rather than silently skew the sample.
   */
  def weightedSamplePerKey(df: DataFrame, keyCol: String, idCol: String,
      weightCol: String, k: Int, salt: String = ""): DataFrame = {
    require(k >= 1, s"weightedSamplePerKey: k must be >= 1, got $k")
    val skey = aesKey(col(idCol), col(weightCol), salt, "weightedSamplePerKey")
    // the window runs over the RENAMED projection below — partition on
    // "key", not keyCol (which may no longer exist)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("key"))
      .orderBy(col("skey").asc, col("id").asc)
    df.select(col(keyCol).as("key"), col(idCol).as("id"),
        col(weightCol).as("weight"), skey.as("skey"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /**
   * P75 — temperature-flattened domain sampling (the multilingual /
   * multi-source rebalancing rule, XLM-R style): domain d with share
   * p_d = n_d/N is accepted at rate p_d^(1/T−1) normalized so the
   * smallest (for T > 1) domain keeps everything — the kept corpus
   * approaches the tempered distribution p^(1/T)/Z without replication.
   * T = 1 keeps all rows; T → ∞ flattens toward uniform. Per-row keeps
   * are the deterministic [[uniform01]] draw against the 9-decimal
   * rounded rate (the sa8 ln precedent: libm pow differs across engines
   * only below the rounding floor). Returns
   * (id, domain, n_domain, rate, kept).
   *
   * Scale shape: one tiny groupBy for domain counts (collected — one row
   * per domain, k-sized by construction, the bm25 scalar-literal rule),
   * then a stateless broadcast-joined projection; no unpartitioned
   * windows, nothing corpus-sized on the driver.
   */
  def temperatureSample(df: DataFrame, domainCol: String, idCol: String,
      temperature: Double, salt: String = ""): DataFrame = {
    require(temperature > 0.0,
      s"temperatureSample: temperature must be > 0, got $temperature")
    val spark = df.sparkSession
    val stats = df.groupBy(col(domainCol)).agg(count(lit(1)).as("n_domain"))
      .collect().map(r => (r.get(0), r.getLong(1)))
    require(stats.nonEmpty, "temperatureSample: input is empty")
    val n = stats.map(_._2).sum.toDouble
    val terms = stats.map { case (d, nd) =>
      (d, nd, math.pow(nd / n, 1.0 / temperature - 1.0))
    }
    val maxTerm = terms.map(_._3).max
    val rateRows = terms.map { case (d, nd, t) =>
      (d, nd, BigDecimal(t / maxTerm).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    import scala.jdk.CollectionConverters._
    val rates = spark.createDataFrame(rateRows.map(r =>
        org.apache.spark.sql.Row(r._1, r._2, r._3)).toSeq.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("__domain",
          df.schema(domainCol).dataType),
        org.apache.spark.sql.types.StructField("n_domain",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("rate",
          org.apache.spark.sql.types.DoubleType, nullable = false))))
    df.select(col(idCol).as("id"), col(domainCol).as("domain"))
      .join(broadcast(rates), col("domain") <=> col("__domain"))
      .select(col("id"), col("domain"), col("n_domain"), col("rate"),
        (uniform01(col("id"), salt) <= col("rate")).as("kept"))
  }

  /**
   * P34 — deterministic per-key cap (class balancing): keep at most
   * `maxPerKey` rows per key, selected by portable hash order over
   * `idCol` (ties broken by id). Unlike LIMIT-per-group over input order,
   * the retained subset is a function of the DATA alone — stable across
   * re-runs, partitionings, and engines — and is itself a uniform sample
   * of the group (hash order is key-uniform). One window shuffle keyed by
   * `keyCol`; a skewed hot key costs one partition's sort, the standard
   * cap-then-continue mitigation at scale.
   *
   * Contract: `idCol` must be unique within each key — duplicate ids get
   * identical sort keys, and which of their payload rows survives a cap
   * boundary would then depend on partitioning, voiding the determinism
   * guarantee above.
   */
  def cappedPerKey(df: DataFrame, keyCol: String, idCol: String,
      maxPerKey: Int, salt: String = ""): DataFrame = {
    require(maxPerKey >= 1, s"cappedPerKey: maxPerKey must be >= 1, got $maxPerKey")
    require(!df.columns.contains("__rn"),
      "cappedPerKey: input already has a __rn column — rename it first " +
        "(the operator would silently replace and drop it)")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(keyCol))
      .orderBy(hashValue(col(idCol), salt).asc, col(idCol).asc)
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= maxPerKey)
      .drop("__rn")
  }

  /**
   * P98 — deterministic negative sampling over an interaction table: for
   * every distinct (user, item) positive, `k` pseudo-random candidate
   * items drawn from the CONTIGUOUS id range [itemMin, itemMax] by the
   * portable hash (draw j's candidate = hash(user|item|j) mod range),
   * then candidates the user actually interacted with are anti-joined
   * away — the contrastive-pair construction behind recommendation /
   * embedding training, reproducible row-for-row across engines and
   * re-runs (an RNG-based sampler is neither). Returns (user, item, j,
   * neg_item); a draw that collides with ANY of the user's positives is
   * dropped, not redrawn (callers wanting exactly k use a larger k and
   * cap — redraw loops are unbounded and data-dependent).
   *
   * Shape: distinct + a k-way generator (narrow), then ONE anti-join
   * keyed on (user, candidate) — the d9 bloom-antijoin family at scale.
   * Non-contiguous id spaces need a dense-index join first (an extra
   * keyed join, same shape).
   */
  def negativeSample(df: DataFrame, userCol: String, itemCol: String,
      k: Int, itemMin: Long, itemMax: Long, salt: String = "neg"): DataFrame = {
    require(k >= 1, s"negativeSample: k must be >= 1, got $k")
    require(itemMax >= itemMin,
      s"negativeSample: empty item range [$itemMin, $itemMax]")
    val n = itemMax - itemMin + 1
    // NOT materialized: the candidate generator and the positives
    // anti-join read it in one query, so exchange reuse runs the distinct
    // once (lazy measured equal: sa12 at sf0.1, local[4], median 5.68 s vs
    // 5.67 s materialized)
    val pos = df.select(col(userCol).as("user"), col(itemCol).as("item"))
      .where(col("user").isNotNull && col("item").isNotNull)
      .distinct()
    val key = concat_ws("|", col("user").cast("string"),
      col("item").cast("string"), col("j").cast("string"))
    val cands = pos
      .select(col("user"), col("item"),
        explode(sequence(lit(0), lit(k - 1))).as("j"))
      .withColumn("neg_item", pmod(hashValue(key, salt), lit(n)) + lit(itemMin))
    cands.join(
        pos.select(col("user"), col("item").as("neg_item")),
        Seq("user", "neg_item"), "left_anti")
      .select("user", "item", "j", "neg_item")
  }

  /**
   * P92 — exactly-balanced stratified K-fold assignment: every row gains
   * `fold` ∈ [0, k), with each stratum's rows dealt round-robin in
   * portable hash order — so within every stratum the fold sizes differ
   * by at most one (the cross-validation contract [[hashBucket]] alone
   * only meets in expectation; a plain `id % k` would additionally
   * correlate with any id-structured collection order). Same determinism
   * guarantees as every [[hashValue]] consumer: re-runs, engines and
   * partitionings agree on every row's fold, and `salt` decorrelates
   * independent foldings of the same corpus.
   *
   * One shuffle keyed by the stratum (a single window); a skewed giant
   * stratum costs one partition's sort — the [[cappedPerKey]] story.
   * Contract: `idCol` unique per stratum, else ties make the deal order
   * partition-dependent.
   */
  def kFold(df: DataFrame, strataCol: String, idCol: String, k: Int,
      salt: String = ""): DataFrame = {
    require(k >= 2, s"kFold: k must be >= 2, got $k")
    require(!df.columns.contains("fold"),
      "kFold: input already has a fold column — rename it first")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(strataCol))
      .orderBy(hashValue(col(idCol), salt).asc, col(idCol).asc)
    df.withColumn("fold",
      ((row_number().over(w) - lit(1)) % lit(k)).cast("int"))
  }

  /**
   * P36 — stratified proportional sample: keep EXACTLY round(fraction·n_s)
   * rows from each stratum s of size n_s, chosen by portable hash order
   * over `idCol` (ties broken by id). [[hashSample]] is only proportional
   * in expectation — a small or unlucky stratum can be over/under-sampled;
   * this variant guarantees the per-stratum allocation, the property
   * class-balanced eval sets and capped-domain corpus mixes need, while
   * keeping every [[hashValue]] determinism guarantee (re-runs, engines,
   * partitionings all agree row-for-row).
   *
   * One shuffle keyed by the stratum: row_number and the stratum size are
   * two window functions over the SAME partitioning, so Spark plans a
   * single exchange+sort. A skewed giant stratum costs one partition's
   * sort — same mitigation story as [[cappedPerKey]].
   *
   * Contracts: `idCol` unique per stratum (as in [[cappedPerKey]]); pass a
   * binary-exact `fraction` (k/2^m, e.g. 0.25) when the rounding boundary
   * must be engine-portable — round(fraction·n) in double is exact there.
   */
  def stratifiedSample(df: DataFrame, strataCol: String, idCol: String,
      fraction: Double, salt: String = ""): DataFrame = {
    require(fraction >= 0.0 && fraction <= 1.0,
      s"stratifiedSample: fraction must be in [0, 1], got $fraction")
    for (c <- Seq("__rn", "__n"); if df.columns.contains(c))
      throw new IllegalArgumentException(
        s"stratifiedSample: input already has a $c column — rename it first")
    val byStratum = org.apache.spark.sql.expressions.Window.partitionBy(col(strataCol))
    val w = byStratum.orderBy(hashValue(col(idCol), salt).asc, col(idCol).asc)
    df.withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(byStratum))
      .where(col("__rn") <= round(lit(fraction) * col("__n")))
      .drop("__rn", "__n")
  }

  /**
   * P41 — corpus mixing to a target domain distribution: given per-domain
   * target weights (the Pile/LLaMA-style data-mix recipe), keep the
   * LARGEST corpus whose domain proportions match the weights exactly and
   * whose per-domain draws are limited by availability — the total is set
   * by the binding domain (N = floor(min over d of n_d / w_d)), each
   * domain keeps its floor(N·w_d) first rows in portable hash order.
   * Deterministic end to end: re-runs, engines, and partitionings agree
   * on every kept row.
   *
   * Shape at scale: one map-side-combinable count per domain (domains are
   * few — the collect is the o3 scalar-subquery pattern, bytes not data),
   * quotas broadcast back as literals, then ONE window shuffle keyed by
   * domain for the ranked cap. A skewed giant domain costs one
   * partition's sort, the same story as [[cappedPerKey]].
   *
   * Contracts: `idCol` unique per domain; weights positive, summing to ~1;
   * pass binary-exact weights (k/2^m) when the quota boundary must be
   * engine-portable (N·w_d in double is then exact, so floor agrees with
   * any engine's integer arithmetic). Domains not in `weights` are
   * dropped; a weight whose domain is absent from the data pins N to 0 —
   * the mix is unachievable and the result is empty, never silently
   * disproportionate.
   */
  def mixCorpus(df: DataFrame, domainCol: String, idCol: String,
      weights: Map[String, Double], salt: String = ""): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ > 0),
      "mixCorpus: need at least one domain, all weights positive")
    val total = weights.values.sum
    require(math.abs(total - 1.0) < 1e-9,
      s"mixCorpus: weights must sum to 1, got $total")
    require(!df.columns.contains("__rn"),
      "mixCorpus: input already has a __rn column — rename it first")
    require(df.schema(domainCol).dataType ==
        org.apache.spark.sql.types.StringType,
      s"mixCorpus: $domainCol must be STRING (weights key on domain names)")
    val counts = df.where(col(domainCol).isin(weights.keys.toSeq: _*))
      .groupBy(domainCol).agg(count(lit(1)).as("__n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = weights.map { case (d, w) =>
      math.floor(counts.getOrElse(d, 0L) / w) }.min.toLong
    val quotas = weights.map { case (d, w) => d -> math.floor(n * w).toLong }
    val quotaCol = quotas.foldLeft(lit(0L)) { case (acc, (d, q)) =>
      when(col(domainCol) === d, lit(q)).otherwise(acc)
    }
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(domainCol))
      .orderBy(hashValue(col(idCol), salt).asc, col(idCol).asc)
    df.where(col(domainCol).isin(weights.keys.toSeq: _*))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= quotaCol)
      .drop("__rn")
  }

  /**
   * P53 — fractional epoch replication, the upsampling half of corpus
   * mixing ([[mixCorpus]] is the downsampling half): each row whose
   * domain has weight w appears floor(w) times, plus once more iff the
   * portable hash of its key falls under frac(w)·2^56 — so a domain with
   * w = 2.25 contributes every row twice and a deterministic quarter of
   * its rows a third time, the "epochs per source" dial of an LLM
   * data-mix recipe. Appends `epochCol` (0-based replica index).
   *
   * Zero shuffles at any scale: the weight map compiles to a CASE chain
   * over the domain column (no join — recipes are a handful of literals)
   * and replication is a per-row explode. Every decision is a pure
   * function of (key, salt), so task retries, re-runs, and other engines
   * regenerate the identical corpus — no RNG state anywhere. Thresholds
   * truncate toward zero (any engine's floor-to-integer agrees); domains
   * absent from `weights` get w = 0 and drop out, never silently pass
   * through at w = 1.
   */
  def epochReplicate(df: DataFrame, keyCol: String, domainCol: String,
      weights: Map[String, Double], salt: String = "mix:",
      epochCol: String = "epoch"): DataFrame = {
    require(weights.nonEmpty, "epochReplicate: need at least one domain")
    require(weights.values.forall(w => w >= 0.0 && w <= 1000.0),
      "epochReplicate: weights must be in [0, 1000]")
    require(!df.columns.contains(epochCol),
      s"epochReplicate: input already has a $epochCol column")
    val twoTo56 = 72057594037927936.0 // 2^56, the hashValue range
    val sorted = weights.toSeq.sortBy(_._1)
    def chain(f: Double => Long): Column =
      sorted.foldLeft(lit(0L)) { case (acc, (d, w)) =>
        when(col(domainCol) === d, lit(f(w))).otherwise(acc)
      }
    val base = chain(w => math.floor(w).toLong)
    val thr = chain(w => ((w - math.floor(w)) * twoTo56).toLong)
    val n = base + when(hashValue(col(keyCol), salt) < thr, 1L).otherwise(0L)
    df.select(col("*"),
      explode(when(n > 0L, sequence(lit(0L), n - 1L))
        .otherwise(array().cast("array<bigint>"))).as(epochCol))
  }

  /**
   * P54 — token-budget subsampling: per-domain budgets measured in TOKENS
   * (the unit a training run actually buys), filled greedily in portable
   * hash order — keep each row while the running token total stays within
   * its domain's budget, then stop. The cut is a strict prefix: the first
   * row that would overflow is dropped and nothing after it is
   * reconsidered, so the kept set is a pure function of (data, budgets,
   * salt) — no backfill heuristics that would make the boundary
   * order-sensitive. Appends `cum_tokens` (the running total that
   * justified keeping the row).
   *
   * One window shuffle keyed by domain; the running sum is exact integer
   * arithmetic, so every engine agrees on the boundary row. A skewed
   * giant domain costs one partition's sort — the [[cappedPerKey]] story;
   * at 100 TB, budgets >> single-partition capacity would instead bucket
   * the hash order (range-partition the hash, allocate per bucket), which
   * composes from [[hashBucket]] + this per bucket. Domains without a
   * budget are dropped, never passed through uncapped.
   */
  def tokenBudget(df: DataFrame, domainCol: String, idCol: String,
      tokenCol: String, budgets: Map[String, Long],
      salt: String = ""): DataFrame = {
    require(budgets.nonEmpty, "tokenBudget: need at least one domain budget")
    require(budgets.values.forall(_ >= 0L),
      "tokenBudget: budgets must be non-negative")
    require(!df.columns.contains("cum_tokens"),
      "tokenBudget: input already has a cum_tokens column — rename it first")
    // absent domains get budget −1: cum_tokens ≥ 0 can never pass
    val sorted = budgets.toSeq.sortBy(_._1)
    val b = sorted.foldLeft(lit(-1L)) { case (acc, (d, q)) =>
      when(col(domainCol) === d, lit(q)).otherwise(acc)
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(domainCol))
      .orderBy(hashValue(col(idCol), salt).asc, col(idCol).asc)
    // the strict-prefix contract needs a monotone running sum — a negative
    // count (corrupt upstream, signed delta passed by mistake) would let
    // rows re-enter after the cut, so it fails loudly instead
    val tok = when(col(tokenCol) < 0,
      raise_error(concat(lit("tokenBudget: negative token count at "),
        col(idCol).cast("string"))).cast("long"))
      .otherwise(col(tokenCol).cast("long"))
    df.withColumn("cum_tokens", sum(tok).over(w))
      .where(col("cum_tokens") <= b)
  }

  /**
   * P129 — systematic sampling in portable hash order: keep every
   * `k`-th row of the (hashValue, id)-ordered sequence — the
   * exact-fraction complement to [[hashSplit]]'s per-row draws (a hash
   * split's kept count is binomial; systematic keeps EXACTLY ⌈n/k⌉
   * rows, which budget-constrained eval-set carving needs). The hash
   * order makes the stride unbiased w.r.t. any natural ordering of the
   * data. Adds `sample_rank` (1-based position among kept rows).
   *
   * The global rank is computed DISTRIBUTED (r10): the 56-bit hash
   * domain splits into 64 contiguous range buckets (`hv div 2^50`), the
   * row_number runs per bucket, and the exact global position is the
   * bucket's exclusive prefix count (a 64-row offsets frame, the only
   * unpartitioned window left — metadata-sized at any input scale) plus
   * the local rank. Identical output to the single-window form for any
   * input, so the oracle replays the same (hash, id) order unchanged.
   */
  def systematicSample(df: DataFrame, idCol: String, k: Int,
      salt: String = "sys:"): DataFrame = {
    require(k >= 1, s"systematicSample: k must be >= 1, got $k")
    // 2^56 / 64 buckets = 2^50 per range; integer `div` — double division
    // would misbucket values past the 2^53 exact-integer range
    val bucketed = df
      .withColumn("__hv", hashValue(col(idCol), salt))
      .withColumn("__bk", expr(s"__hv div ${1L << 50}L"))
    val local = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__bk"))
      .orderBy(col("__hv").asc, col(idCol).asc)
    val offW = org.apache.spark.sql.expressions.Window
      .orderBy(col("__bk").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val offsets = bucketed.groupBy(col("__bk"))
      .agg(count(lit(1)).as("__bn"))
      .withColumn("__off", coalesce(sum(col("__bn")).over(offW), lit(0L)))
      .select("__bk", "__off")
    bucketed
      .join(broadcast(offsets), Seq("__bk"))
      .withColumn("__rn",
        (col("__off") + row_number().over(local).cast("long")))
      .where(pmod(col("__rn"), lit(k.toLong)) === 1L % k)
      .withColumn("sample_rank", expr(s"((__rn - 1) div $k) + 1"))
      .drop("__rn", "__hv", "__bk", "__off")
  }

  /**
   * P349 — allocation-variance comparison: the PAYOFF table behind
   * [[neymanAllocation]] — Var(ȳ_st) = Σ_h W_h²·S_h²/n_h under the
   * three textbook allocations of one budget (proportional n_h ∝ N_h,
   * Neyman n_h ∝ N_h·S_h, equal n_h = n/H), so "use Neyman" becomes a
   * measured percentage on THIS corpus instead of a citation (Neyman
   * only pays when stratum SDs actually differ — the table shows by
   * how much). Theoretical FRACTIONAL n_h (no rounding replay needed —
   * the variance formula, not a sample draw); fpc omitted and
   * documented. Emits one row per scheme: (scheme, var_mean, se_mean);
   * zero-SD strata contribute no variance under any allocation.
   *
   * Shapes: ONE keyed decimal-moment agg (the [[neymanAllocation]]
   * pass), a 1-row totals broadcast, three stratum-count-sized folds.
   * Cross-engine: SDs through the sa15 moment discipline (6-rounded);
   * per-stratum variance terms rounded at 3 and DECIMAL-summed — the
   * terms inherit the DATA's variance scale (~1e7 here), where a
   * 9-decimal round sits below double ulp and the engines legitimately
   * disagree (the o25 lesson; 3 decimals is still 10+ significant
   * digits at that magnitude); SE is one IEEE sqrt rounded at 6.
   */
  def allocationVarianceCompare(df: DataFrame, stratumCol: String,
      valueCol: String, budget: Long): DataFrame = {
    require(budget >= 1,
      s"allocationVarianceCompare: budget must be >= 1, got $budget")
    val dec = col(valueCol).cast("decimal(18,6)")
    val dec19 = col(valueCol).cast("decimal(19,6)")
    val m = df.where(col(stratumCol).isNotNull && col(valueCol).isNotNull)
      .groupBy(col(stratumCol))
      .agg(count(lit(1)).as("n_stratum"),
        sum(dec).cast("double").as("__s"),
        sum(dec19 * dec19).cast("double").as("__q"))
    val nd = col("n_stratum").cast("double")
    val variance = greatest(
      col("__q") / nd - (col("__s") / nd) * (col("__s") / nd), lit(0.0))
    val weighted = m
      .withColumn("sd", round(sqrt(variance), 6))
      .withColumn("__w", round(nd * col("sd"), 6).cast("decimal(28,6)"))
    val tot = weighted.agg(sum(col("n_stratum")).as("__n"),
      count(lit(1)).as("__h"), sum(col("__w")).as("__tw"))
    val terms = weighted.join(broadcast(tot)) // 1-row scalar side
      .withColumn("__wh", nd / col("__n").cast("double"))
      .withColumn("__np", lit(budget.toDouble) * nd / col("__n").cast("double"))
      .withColumn("__nn",
        when(col("__tw").cast("double") > 0,
          lit(budget.toDouble) * col("__w").cast("double") /
            col("__tw").cast("double")))
      .withColumn("__ne",
        lit(budget.toDouble) / col("__h").cast("double"))
    def fold(scheme: String, nh: Column): DataFrame =
      terms.agg(
        coalesce(sum(when(col("sd") > 0,
          round(col("__wh") * col("__wh") * (col("sd") * col("sd")) / nh, 3))
          .otherwise(lit(0.0)).cast("decimal(28,3)")),
          lit(BigDecimal(0)).cast("decimal(28,3)")).as("__v"))
        .select(lit(scheme).as("scheme"),
          col("__v").cast("double").as("var_mean"),
          round(sqrt(col("__v").cast("double")), 6).as("se_mean"))
    fold("equal", col("__ne"))
      .unionByName(fold("neyman", col("__nn")))
      .unionByName(fold("proportional", col("__np")))
  }

  /**
   * P151 — Neyman optimal stratified-sample allocation: given a total
   * `budget`, allocate n_h ∝ N_h·σ_h (stratum size × population sd) —
   * the variance-minimizing split of a fixed labeling/eval budget
   * across strata, the answer to "how many QA samples from each
   * source?". Fractional quotas resolve by largest-remainder with
   * stratum-name tie-break, so Σ alloc == budget EXACTLY. Strata with
   * zero spread (σ = 0, incl. singletons) get weight 0 — a constant
   * stratum needs one probe, which the remainder rule may still give
   * it; degenerate ALL-zero weights fall back to N_h weighting.
   *
   * Shapes: one keyed decimal moment agg (strata-sized frame), a 1-row
   * total broadcast back, one remainder-rank window over the strata
   * frame. Cross-engine: σ rounds at 6, the weight N·σ rounds at 6 and
   * DECIMAL-sums into the total, quota/floor/remainder are a fixed
   * double sequence on identical operands.
   */
  def neymanAllocation(df: DataFrame, stratumCol: String, valueCol: String,
      budget: Long): DataFrame = {
    require(budget >= 0, s"neymanAllocation: budget must be >= 0, got $budget")
    val dec = col(valueCol).cast("decimal(18,6)")
    val dec19 = col(valueCol).cast("decimal(19,6)")
    val m = df.where(col(stratumCol).isNotNull && col(valueCol).isNotNull)
      .groupBy(col(stratumCol))
      .agg(count(lit(1)).as("n_stratum"),
        sum(dec).cast("double").as("__s"),
        sum(dec19 * dec19).cast("double").as("__q"))
    val nd = col("n_stratum").cast("double")
    val variance = greatest(
      col("__q") / nd - (col("__s") / nd) * (col("__s") / nd), lit(0.0))
    val weighted = m
      .withColumn("sd", round(sqrt(variance), 6))
      .withColumn("__w", round(nd * col("sd"), 6).cast("decimal(28,6)"))
    val tot = weighted.agg(sum(col("__w")).as("__tw"),
      sum(col("n_stratum")).as("__tn"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("__rem").desc, col(stratumCol).asc)
    val quotas = weighted.join(broadcast(tot)) // 1-row scalar side
      .withColumn("__quota",
        when(col("__tw") > 0,
          lit(budget.toDouble) * col("__w").cast("double") /
            col("__tw").cast("double"))
          .otherwise(lit(budget.toDouble) * nd / col("__tn").cast("double")))
      .withColumn("__base", floor(col("__quota")).cast("long"))
      .withColumn("__rem", round(col("__quota") - col("__base"), 6))
    val spare = lit(budget) - sum(col("__base"))
      .over(org.apache.spark.sql.expressions.Window
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing))
    quotas
      .withColumn("__rank", row_number().over(w))
      .withColumn("alloc",
        (col("__base") + when(col("__rank") <= spare, 1L).otherwise(0L))
          .cast("long"))
      .select(col(stratumCol), col("n_stratum"), col("sd"),
        round(col("__quota"), 6).as("quota"), col("alloc"))
  }

  /**
   * P185 — rolling-origin evaluation splits (forecasting CV): for each
   * fold cutoff c, train = rows before c, test = rows in [c, c+horizon)
   * — the time-respecting cross-validation that random K-fold (P92)
   * CANNOT provide for temporal data (it would train on the future).
   * Emits per (fold, split): row count + the fold's cutoff — the audit
   * table a backtest harness feeds from. Rows outside both windows
   * drop for that fold.
   *
   * One broadcast fold-literal frame × the events (the adjudicated
   * k-row class) + one keyed count agg. Exact timestamp comparisons.
   */
  def rollingOriginSplits(df: DataFrame, tsCol: String,
      cutoffs: Seq[String], horizonDays: Int): DataFrame = {
    require(cutoffs.nonEmpty, "rollingOriginSplits: at least one cutoff")
    require(horizonDays >= 1,
      s"rollingOriginSplits: horizonDays must be >= 1, got $horizonDays")
    val spark = df.sparkSession
    val folds = spark.createDataFrame(
        cutoffs.sorted.zipWithIndex.map { case (c, i) => (i + 1, c) })
      .toDF("fold", "__c")
      .select(col("fold"), to_timestamp(col("__c")).as("cutoff"))
    val hMicros = horizonDays.toLong * 86400000000L
    df.where(col(tsCol).isNotNull)
      .crossJoin(broadcast(folds))
      .withColumn("split",
        when(col(tsCol) < col("cutoff"), lit("train"))
          .when(col(tsCol) < expr(
            s"timestamp_micros(unix_micros(cutoff) + ${hMicros}L)"),
            lit("test")))
      .where(col("split").isNotNull)
      .groupBy(col("fold"), col("cutoff"), col("split"))
      .agg(count(lit(1)).as("n_rows"))
  }

  /**
   * P182 — importance reweighting to a target class mix: per class,
   * weight = target_share / current_share (rows of an over-represented
   * class count for less) plus the effective sample size
   * ESS = (Σ n_c·w_c)² / Σ n_c·w_c² repeated on every row — the honesty
   * metric (ESS ≪ n means the reweighted corpus behaves like far fewer
   * examples, and MORE data of the starved class beats bigger weights).
   * The domain-mix tool pretraining runs instead of physically
   * resampling. Classes absent from `targets` carry null weight
   * (documented: decide drop-vs-keep explicitly downstream).
   *
   * Shapes: one keyed count, a broadcast target literal frame + 1-row
   * total, windows over the class-sized frame. Weights round at 9 and
   * the ESS terms are fixed double products DECIMAL-summed.
   */
  def importanceReweight(df: DataFrame, classCol: String,
      targets: Seq[(String, Double)]): DataFrame = {
    require(targets.nonEmpty, "importanceReweight: targets must be non-empty")
    require(targets.forall(_._2 > 0),
      "importanceReweight: target shares must be positive")
    val spark = df.sparkSession
    val t = spark.createDataFrame(targets).toDF(classCol, "target_share")
    val counts = df.where(col(classCol).isNotNull)
      .groupBy(col(classCol)).agg(count(lit(1)).as("n"))
    val all = org.apache.spark.sql.expressions.Window
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val shared = counts
      .join(broadcast(t), Seq(classCol), "left")
      .withColumn("__ntot", sum(col("n")).over(all))
      .withColumn("current_share",
        round(col("n").cast("double") / col("__ntot").cast("double"), 9))
      .withColumn("weight",
        round(col("target_share") / col("current_share"), 9))
    shared
      .withColumn("__sw",
        (col("n").cast("double") * col("weight")).cast("decimal(28,9)"))
      .withColumn("__sw2",
        (col("n").cast("double") * col("weight") * col("weight"))
          .cast("decimal(28,9)"))
      .withColumn("ess", round(
        sum(col("__sw")).over(all).cast("double") *
          sum(col("__sw")).over(all).cast("double") /
          sum(col("__sw2")).over(all).cast("double"), 2))
      .drop("__ntot", "__sw", "__sw2")
  }

  /**
   * P176 — split-leakage audit: given a duplicate-pair list and a split
   * assignment, the per-(split, split) matrix of where pairs landed —
   * `crossing = true` rows are train/eval CONTAMINATION (the model sees
   * the eval answer's twin at training time, and the eval number is a
   * lie). A plain hash split WILL leak (it splits dup groups
   * binomially); P66's cluster-keyed split is the fix, and this audit
   * is the proof either way — run it on every split before training.
   *
   * Shapes: two shuffle_hash assignment joins + one tiny matrix agg.
   * Exact counts; split_a/split_b are ordered lexically so each
   * unordered pair lands in ONE cell.
   */
  def splitLeakageAudit(pairs: DataFrame, assign: DataFrame,
      pairICol: String, pairJCol: String, idCol: String,
      splitCol: String): DataFrame = {
    val a = assign.select(col(idCol).as(pairICol), col(splitCol).as("__si"))
    val b = assign.select(col(idCol).as(pairJCol), col(splitCol).as("__sj"))
    pairs
      .join(a.hint("shuffle_hash"), Seq(pairICol))
      .join(b.hint("shuffle_hash"), Seq(pairJCol))
      .groupBy(least(col("__si"), col("__sj")).as("split_a"),
        greatest(col("__si"), col("__sj")).as("split_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("crossing", col("split_a") =!= col("split_b"))
  }

  /**
   * P156 — temporal train/test split with an embargo gap: rows before
   * (cutoff − embargo) train, rows at/after `cutoff` test, rows inside
   * the gap are labeled `embargo` — the leakage-safe backtest split
   * (a feature computed over a trailing window on a train row near the
   * boundary would otherwise SEE test-period data; the embargo is the
   * trailing-window length). Pure projection, no shuffle; exact
   * microsecond comparisons.
   */
  def temporalSplit(df: DataFrame, tsCol: String, cutoff: String,
      embargoMicros: Long): DataFrame = {
    require(embargoMicros >= 0,
      s"temporalSplit: embargoMicros must be >= 0, got $embargoMicros")
    val cut = expr(s"timestamp'$cutoff'")
    val trainEnd = expr(
      s"timestamp_micros(unix_micros(timestamp'$cutoff') - ${embargoMicros}L)")
    df.where(col(tsCol).isNotNull)
      .withColumn("split",
        when(col(tsCol) < trainEnd, lit("train"))
          .when(col(tsCol) >= cut, lit("test"))
          .otherwise(lit("embargo")))
  }

  /**
   * P145 — class-balanced downsampling: every class keeps exactly
   * min-class-count rows, chosen in portable hash order — the
   * imbalance fix for classifier training data (a 99:1 class mix
   * otherwise teaches the prior, not the signal). Same key (+salt) →
   * same verdict forever, and the kept set is engine-replayable: rank
   * within class by (MD5 hash, id) and keep rank ≤ min count. Null
   * classes drop (no stratum to balance against).
   *
   * Shapes: one tiny per-class count agg reduced to a broadcast scalar
   * (the P125 idiom), one per-class window (partitioned — scales with
   * executors, never a global order), one filter. Appends
   * `sample_rank` (1-based within class).
   */
  def balancedDownsample(df: DataFrame, classCol: String, idCol: String,
      salt: String = "bal:"): DataFrame = {
    val d = df.where(col(classCol).isNotNull)
    val minN = d.groupBy(col(classCol)).agg(count(lit(1)).as("__n"))
      .agg(min(col("__n")).as("__minn"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(classCol))
      .orderBy(hashValue(col(idCol), salt).asc, col(idCol).asc)
    d.withColumn("sample_rank", row_number().over(w).cast("long"))
      .join(broadcast(minN)) // 1-row scalar side
      .where(col("sample_rank") <= col("__minn"))
      .drop("__minn")
  }

  /**
   * P220 — GPT-style sequence packing audit: shard the corpus by key
   * hash, concatenate each shard's documents in portable (hash, id)
   * order, and cut the token stream into fixed-`capacity` bins — the
   * "concat-and-chunk" layout every LLM pretraining loader builds.
   * Each document is assigned to the bin where it STARTS; emits per
   * (shard, bin): n_docs, tokens (token mass starting there),
   * n_straddle (documents crossing the bin boundary — the
   * attention-contamination metric packing studies track), and
   * fill_rate = tokens/capacity (> 1 exactly when mass started here
   * spills into the next bin). The per-shard design IS the 100 TB
   * shape: each shard packs independently, so the prefix-sum window is
   * partitioned, never global (the tokenBudget per-shard fallback made
   * the default — exactness of the greedy prefix survives because
   * packing is defined per shard).
   *
   * Shapes: one partitioned window (exclusive running sum in exact
   * BIGINTs), one (shard, bin) agg — map-side combinable. Negative
   * token counts raise loudly (the tokenBudget guard); fill_rate is
   * one double division of exact BIGINTs, rounded at 6.
   */
  def sequencePack(df: DataFrame, idCol: String, tokenCol: String,
      shards: Int, capacity: Long, salt: String = ""): DataFrame = {
    require(shards >= 1, s"sequencePack: shards must be >= 1, got $shards")
    require(capacity >= 1,
      s"sequencePack: capacity must be >= 1, got $capacity")
    val tok = when(col(tokenCol) < 0,
      raise_error(concat(lit("sequencePack: negative token count at "),
        col(idCol).cast("string"))).cast("long"))
      .otherwise(col(tokenCol).cast("long"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard"))
      .orderBy(hashValue(col(idCol), salt).asc, col(idCol).asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        -1)
    df.where(col(idCol).isNotNull)
      .withColumn("shard", hashBucket(col(idCol), shards, salt))
      .withColumn("__tok", tok)
      .withColumn("__start", coalesce(sum(col("__tok")).over(w), lit(0L)))
      // integer division — Column./ is DOUBLE division (the Graft.events
      // rule); div keeps exact longs at any token mass
      .withColumn("bin", expr(s"__start div ${capacity}L"))
      .groupBy(col("shard"), col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__tok")).as("tokens"),
        sum(when(col("__start") % capacity + col("__tok") > capacity, 1L)
          .otherwise(0L)).as("n_straddle"),
        round(sum(col("__tok")).cast("double") / lit(capacity.toDouble), 6)
          .as("fill_rate"))
  }

  /**
   * P249 — sampling convergence curve: the same statistic (mean ± 95%
   * CI) measured on nested hash samples at dyadic fractions — "is 1/64
   * of the data enough for this estimate, or do the error bars still
   * move" answered empirically, which is how a 100 TB pipeline decides
   * its profiling sample size. Fractions are powers of two so every
   * keep-threshold is an EXACT integer bound on the 56-bit hash (no
   * double thresholds) and each rung's sample nests inside the next
   * (same draw, tightening bound — the curve is apples-to-apples by
   * construction). Emits per rung (fraction, n, mean_v, sd, ci_half).
   *
   * Shapes: one hash projection, the rung ladder broadcast k-row, one
   * fused conditional moment agg per rung. Cross-engine: exact decimal
   * moments (the o23 chain), a fixed closing double sequence with two
   * IEEE sqrts, rounded at 6.
   */
  def sampleConvergence(df: DataFrame, idCol: String, valueCol: String,
      fracExps: Seq[Int] = Seq(6, 4, 2, 0),
      salt: String = "curve:"): DataFrame = {
    require(fracExps.nonEmpty && fracExps.forall(e => e >= 0 && e <= 40),
      s"sampleConvergence: exponents must be in 0..40, got $fracExps")
    require(fracExps.distinct.size == fracExps.size,
      s"sampleConvergence: duplicate exponents in $fracExps")
    val spark = df.sparkSession
    import spark.implicits._
    val ladder = fracExps.sorted.reverse
      .map(e => (1.0 / (1L << e), 1L << (56 - e))).toDF("fraction", "__thr")
    val base = df.where(col(idCol).isNotNull && col(valueCol).isNotNull)
      .select(hashValue(col(idCol), salt).as("__hv"),
        col(valueCol).cast("double").as("__v"))
    val d18 = col("__v").cast("decimal(18,6)")
    val d19 = col("__v").cast("decimal(19,6)")
    val g = base.crossJoin(broadcast(ladder)) // k-row rung ladder
      .where(col("__hv") < col("__thr"))
      .groupBy(col("fraction"))
      .agg(count(lit(1)).as("n"), sum(d18).cast("double").as("__s"),
        sum(d19 * d19).cast("double").as("__q"))
    val nd = col("n").cast("double")
    val variance = greatest(
      (col("__q") - col("__s") * col("__s") / nd) / (nd - lit(1.0)),
      lit(0.0))
    g.select(col("fraction"), col("n"),
      round(col("__s") / nd, 6).as("mean_v"),
      when(col("n") > 1, round(sqrt(variance), 6)).as("sd"),
      when(col("n") > 1,
        round(lit(1.96) * sqrt(variance) / sqrt(nd), 6)).as("ci_half"))
  }

  /**
   * P276 — training-mixture rebalance plan: given per-unit token
   * counts and a TARGET per-source share table (driver literals — the
   * "what the loader should sample" spec), the per-source sampling
   * weight target/actual and projected token budget — the plan a
   * weighted loader (P53's fractional epochs, P251's pipeline)
   * executes. A source absent from the target table gets a null
   * weight (flagged, not silently zeroed). Emits per source (source,
   * n_units, n_tokens, share, target_share, weight, projected_tokens),
   * ordered by source.
   *
   * Shape: ONE source-keyed agg + a 1-row totals broadcast; the target
   * table is a literal CASE chain, not a join. Cross-engine: counts
   * exact BIGINTs; shares round at 6; the weight divides the target
   * literal by the 6-rounded share (both engines share every operand);
   * projected tokens floor()-then-cast (CAST alone ROUNDS in DuckDB).
   */
  def mixtureRebalance(df: DataFrame, srcCol: String, tokenCol: String,
      targets: Seq[(String, Double)]): DataFrame = {
    require(targets.nonEmpty, "mixtureRebalance: empty target table")
    require(targets.map(_._1).distinct.size == targets.size,
      "mixtureRebalance: duplicate sources in target table")
    require(targets.forall(_._2 > 0),
      "mixtureRebalance: target shares must be positive")
    val per = df.where(col(srcCol).isNotNull && col(tokenCol).isNotNull)
      .groupBy(col(srcCol).as("source"))
      .agg(count(lit(1)).as("n_units"),
        sum(col(tokenCol).cast("long")).as("n_tokens"))
    val totals = per.agg(sum(col("n_tokens")).as("__tot"))
    val target = targets.tail.foldLeft(
      when(col("source") === targets.head._1, lit(targets.head._2))) {
        case (acc, (s, t)) => acc.when(col("source") === s, lit(t))
      }
    val totd = col("__tot").cast("double")
    per.crossJoin(broadcast(totals)) // 1-row scalar side
      .withColumn("share",
        when(col("__tot") > 0,
          round(col("n_tokens").cast("double") / totd, 6)))
      .withColumn("target_share", target)
      .withColumn("weight",
        when(col("target_share").isNotNull && col("share") > 0,
          round(col("target_share") / col("share"), 6)))
      .withColumn("projected_tokens",
        when(col("target_share").isNotNull && col("__tot") > 0,
          floor(col("target_share") * totd).cast("long")))
      .drop("__tot")
      .orderBy(col("source"))
  }

  /**
   * P323 — Horvitz–Thompson estimator under size-proportional
   * inclusion: πᵢ = min(1, sizeᵢ/k), include iff the portable hash
   * says so, estimate the population total as Σ yᵢ/πᵢ over the sample
   * — THE unequal-probability estimator (sample heavy users at 100%,
   * light users at size/k, still get an unbiased total). The audit
   * emits the true total beside it. Emits ONE row: n, n_sampled,
   * true_total, ht_estimate, rel_err.
   *
   * Shape: two scalar aggs (full-frame total + sample estimate).
   * Cross-engine: inclusion is the INTEGER comparison
   * hv·k < size·2^56 (no double thresholds — the pv7 rule; the
   * min(1,·) cap is automatic since hv < 2^56), which bounds
   * k ≤ 64 and size ≤ 127 (guarded by a riding raise_error — a
   * silent filter would skew the estimate); estimate terms round at 9
   * through DECIMAL(28,9); outputs round at 6.
   */
  def horvitzThompson(df: DataFrame, idCol: String, sizeCol: String,
      valueCol: String, k: Int): DataFrame = {
    require(k >= 2 && k <= 64,
      s"horvitzThompson: k must be in [2, 64], got $k")
    val base = df.where(col(idCol).isNotNull && col(sizeCol).isNotNull &&
        col(valueCol).isNotNull)
      .select(col(idCol).as("__id"), col(sizeCol).cast("long").as("__sz"),
        col(valueCol).cast("decimal(18,6)").as("__v"))
    val tot = base.agg(count(lit(1)).as("n"),
      sum(col("__v")).cast("double").as("__tt"),
      // guard rides an output column (the o74 pruning rule)
      sum(when(col("__sz") <= 0 || col("__sz") > 127,
        raise_error(concat(
          lit("horvitzThompson: size out of [1, 127] for id "),
          col("__id").cast("string"))).cast("long"))
        .otherwise(lit(0L))).as("__guard"))
    val pi = least(lit(1.0), col("__sz").cast("double") / lit(k.toDouble))
    val est = base
      .where(hashValue(col("__id"), "ht:") * lit(k.toLong) <
        col("__sz") * lit(1L << 56))
      .agg(count(lit(1)).as("n_sampled"),
        sum(round(col("__v").cast("double") / pi, 9).cast("decimal(28,9)"))
          .cast("double").as("__ht"))
    tot.crossJoin(broadcast(est)) // 1-row scalar side
      .select((col("n") + col("__guard")).as("n"), col("n_sampled"),
        col("__tt").as("true_total"),
        round(col("__ht"), 6).as("ht_estimate"),
        when(col("__tt") =!= 0.0,
          round((col("__ht") - col("__tt")) / col("__tt"), 6))
          .as("rel_err"))
  }
}
