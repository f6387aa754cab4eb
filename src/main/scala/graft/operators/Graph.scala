package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Graft

/**
 * Bounded-iteration graph analytics over edge lists — the link-analysis
 * pass a training pipeline runs to weight documents by reference
 * authority (page/citation graphs) or to rank entities in a derived
 * co-occurrence graph before sampling.
 *
 * Everything is keyed joins + aggregations on the vertex id — the shape
 * that scales to any edge count — with a FIXED iteration bound chosen by
 * the caller (the d8 bounded-CC discipline: an unbounded fixpoint loop
 * has no place inside a lazily-planned query).
 *
 * Engine portability: iteration state is FIXED-POINT (units of 10⁻¹²,
 * held in BIGINT). Floating state would need a rounding firewall between
 * rounds, and `round(double, 12)` is NOT portable — Spark rounds the
 * double's shortest decimal string while DuckDB/libc round the exact
 * binary value, and full-precision iterative values hit the disagreement
 * region constantly (measured: 1-ulp splits within 2k vertices). Integer
 * div/mul/sum are exact everywhere; the ≤10⁻¹² per-op truncation loss is
 * far below any ranking use.
 */
object Graph {

  /** Fixed-point scale: 1.0 ≡ 10¹² (12 decimal digits of rank). */
  val Scale: Long = 1000000000000L

  /**
   * P88 — PageRank with `iters` power iterations and damping d =
   * `dampingPct`/100:
   *
   *   pr₀(v)    = Scale div N
   *   prₖ₊₁(v) = ((100−d%)·Scale div 100) div N
   *              + (d% · Σ_{u→v} (prₖ(u) div outdeg(u))) div 100
   *
   * over the DISTINCT edge set, vertices = edge SOURCES. Returns
   * (v, pr_fp, pr): the exact fixed-point rank and its double reading
   * (one exact long→double conversion + one division — deterministic).
   * Callers pass graphs where every vertex has outdeg ≥ 1 (e.g.
   * symmetrized co-occurrence graphs) — under that contract sources =
   * all vertices; a contract-violating dst-only vertex is dropped
   * (r10 kept it at teleport-only mass while leaking its inflow — the
   * standard dangling-node caveat either way: redistribute upstream
   * if the graph has them).
   *
   * Scale shape: one distinct + one degree agg up front, then per
   * iteration a shuffle_hash join of the rank frame with the edge list
   * (both post-shuffle sides are stats-free — without the hint the
   * planner falls back to sort-merge, the d11 lesson; broadcast would be
   * wrong at web-graph vertex counts), a map-side-combinable BIGINT sum
   * per destination, and a left join back onto the vertex frame. No
   * windows, no collects — N itself is one distributed count reduced to
   * a scalar. Overflow headroom: Σ contributions ≤ Scale = 10¹², times
   * dampingPct ≤ 10¹⁴ ≪ 2⁶² (the ANSI-mode rule).
   */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      dampingPct: Int = 85, iters: Int = 3): DataFrame = {
    require(iters >= 1, s"pageRank: iters must be >= 1, got $iters")
    require(dampingPct >= 1 && dampingPct <= 99,
      s"pageRank: dampingPct must be in [1,99], got $dampingPct")
    // expensive to derive: the eager count for N below already runs this
    // subtree, and every iteration re-references it through withDeg —
    // materialized, the upstream edge build runs once
    val e = Graft.materialize(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
        .where(col("src").isNotNull && col("dst").isNotNull)
        .distinct())
    val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    // The caller contract (above) is outdeg ≥ 1 everywhere, so the vertex
    // set IS deg's key set — the r10 form rebuilt it as a distinct over
    // BOTH endpoint columns (a second full-width shuffle of the edge
    // list, re-executed at every loop reference); reading it off the
    // degree agg removes that shuffle from all iters+1 references.
    val verts = deg.select(col("src").as("v"))
    val n = verts.count()
    require(n > 0, "pageRank: empty graph")
    val teleport = ((100L - dampingPct) * Scale / 100L) / n
    // NOT materialized (measured r12: materializing the edge-sized degree
    // join cost more than it saved — the shuffle_hash join already leaves
    // it src-partitioned and exchange reuse serves the per-iter references)
    val withDeg = e.join(deg.hint("shuffle_hash"), Seq("src"))
    var pr = verts.withColumn("pr_fp", lit(Scale / n))
    for (_ <- 1 to iters) {
      val sums = pr
        .join(withDeg.hint("shuffle_hash"), col("v") === col("src"))
        .select(col("dst").as("v"),
          expr("pr_fp div outdeg").as("__c"))
        .groupBy("v")
        .agg(sum(col("__c")).as("__s"))
      pr = verts.join(sums.hint("shuffle_hash"), Seq("v"), "left")
        .withColumn("pr_fp",
          lit(teleport) +
            expr(s"(${dampingPct}L * coalesce(__s, 0L)) div 100"))
        .drop("__s")
    }
    pr.withColumn("pr", col("pr_fp").cast("double") / lit(Scale.toDouble))
  }

  /**
   * P117 — per-node triangle counts over an undirected edge list, via
   * degree-ordered adjacency intersection ("compact-forward"): orient
   * every canonical edge from its lower-(degree, id) endpoint to the
   * higher, collect each node's oriented out-list N+, and for every
   * oriented edge a → b intersect N+(a) with N+(b) — each common c closes
   * one triangle, counted exactly once at its lowest-order edge. No wedge
   * is ever emitted, and degree ordering bounds every out-list by O(√m)
   * instead of the raw max degree, which is what keeps hub nodes from
   * exploding the intersection at web-graph scale. Returns (node,
   * tri_cnt) for every node in ≥ 1 triangle — the clique-density
   * diagnostic for dup-cluster graphs and co-occurrence networks.
   *
   * Shape: canonical distinct + one degree agg; the total order over
   * nodes is the LEXICOGRAPHIC struct(deg, node) comparison directly —
   * no dense rank, so there is NO global window anywhere in the plan
   * (the r9 version ranked all nodes through one partition; struct
   * ordering gives the identical total order shuffle-free). The out-list
   * agg and both list joins are equi-keyed, with shuffle_hash hints
   * (post-agg no-stats rule); no join carries a residual condition. The
   * oracle proves the orientation is an identity: it counts the same
   * triangles by plain id-order three-way join.
   */
  def triangleCounts(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    // materialized: und feeds both the degree agg and the oriented edge
    // build, and its upstream edge derivation (a basket self-join in gr2)
    // is expensive; the lazy form measured no faster on gr2
    val und = Graft.materialize(canonicalUndirected(edges, srcCol, dstCol))
    triangleCountsOf(und, nodeDegrees(und))
  }

  /** The ONE canonical undirected-edge build (least/greatest + junk
    * filter + distinct) shared by every undirected operator here — P188's
    * cc is only correct if numerator and denominator read the SAME graph,
    * so the canonicalization rule must exist exactly once. */
  private def canonicalUndirected(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame =
    edges
      .select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .where(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
      .distinct()

  /** Both orientations of a canonical (u, v) edge frame in ONE pass:
    * the r10 `und ∪ swap(und)` union referenced the (often expensive)
    * edge subtree twice, and the clone multiplied through every
    * downstream self-reference (guide §7.2, duplicated subtrees); the
    * explode emits the identical row multiset from a single reference. */
  private def bothDirections(und: DataFrame, aName: String,
      bName: String): DataFrame =
    und.select(explode(array(
        struct(col("u").as(aName), col("v").as(bName)),
        struct(col("v").as(aName), col("u").as(bName)))).as("__e"))
      .select(col("__e." + aName).as(aName), col("__e." + bName).as(bName))

  /** Degrees of [[canonicalUndirected]] output: (node, deg). */
  private def nodeDegrees(und: DataFrame): DataFrame =
    und.select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("deg"))

  private def triangleCountsOf(und: DataFrame, deg: DataFrame): DataFrame = {
    // field names must match on both struct sides or the comparison /
    // conditional would see two distinct StructTypes
    val su = struct(col("du").as("d"), col("u").as("n"))
    val sv = struct(col("dv").as("d"), col("v").as("n"))
    // the oriented edge frame feeds both the adjacency agg and the
    // intersection join — materialized, its degree joins run once
    val e = Graft.materialize(und
      .join(deg.select(col("node").as("u"), col("deg").as("du"))
        .hint("shuffle_hash"), Seq("u"))
      .join(deg.select(col("node").as("v"), col("deg").as("dv"))
        .hint("shuffle_hash"), Seq("v"))
      .select(when(su < sv, col("u")).otherwise(col("v")).as("a"),
        when(su < sv, col("v")).otherwise(col("u")).as("b")))
    val adj = e.groupBy("a").agg(collect_list(col("b")).as("na"))
    // for an oriented edge a → b, every c in N+(a) ∩ N+(b) has
    // order(a) < order(b) < order(c): each triangle closes exactly once,
    // at its lowest-order edge. adj streams and e builds, so the rows
    // leaving the first join carry each list on consecutive rows and the
    // shuffle on b compresses the repeats (with the sides swapped it
    // wrote 8× the bytes on the perfbench co-purchase graph)
    val tri = adj.join(e.hint("shuffle_hash"), Seq("a"))
      .join(adj.select(col("a").as("b"), col("na").as("nb"))
        .hint("shuffle_hash"), Seq("b"))
      .select(col("a"), col("b"),
        explode(array_intersect(col("na"), col("nb"))).as("c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("tri_cnt"))
  }

  /**
   * P188 — local clustering coefficient per node:
   * cc = 2·tri / (deg·(deg−1)) over the canonical undirected graph —
   * "how clique-like is this node's neighborhood" (cc → 1: the
   * neighbors all know each other — a dup cluster or a tight topic
   * community; cc → 0 at equal degree: a hub bridging strangers). The
   * node-level cohesion read beside [[triangleCounts]]'s raw counts
   * and [[kCore]]'s global peel. Emits (node, deg, tri_cnt, cc) for
   * every node with deg ≥ 2 (one edge defines no angle); nodes in no
   * triangle carry cc = 0, not null — a star center's 0 is a finding.
   *
   * Shape: [[triangleCounts]] (degree-ordered adjacency intersection,
   * no global window) + the same degree agg, one left equi-join; cc is
   * one double division of exact BIGINTs, rounded at 6. deg·(deg−1)
   * stays far below 2⁶² for any degree a sane graph admits.
   */
  def clusteringCoefficient(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    // materialized for the same reason as in [[triangleCounts]]; here the
    // lazy form would also re-derive the edges for the final degree frame
    val und = Graft.materialize(canonicalUndirected(edges, srcCol, dstCol))
    val deg = nodeDegrees(und)
    deg.where(col("deg") >= 2)
      .join(triangleCountsOf(und, deg).hint("shuffle_hash"),
        Seq("node"), "left")
      .withColumn("tri_cnt", coalesce(col("tri_cnt"), lit(0L)))
      .withColumn("cc",
        round(lit(2.0) * col("tri_cnt").cast("double") /
          (col("deg") * (col("deg") - 1)).cast("double"), 6))
  }

  /**
   * P124 — Adamic–Adar link prediction: for every NON-adjacent node
   * pair sharing ≥ `minCommon` neighbors, score = Σ_z 1/ln(deg(z)) over
   * the common neighbors z — rare shared neighbors are strong evidence,
   * hubs are weak — returning the top-`k` candidate links. The related-
   * entity suggester over co-occurrence graphs, and (in a dedup
   * pipeline) the "these two clusters are probably one" reviewer queue.
   *
   * Shape: wedges enumerate per CENTER z, with centers capped at
   * `maxDegree` (a hub's C(deg,2) pair fan-out is the quadratic
   * killer, and its 1/ln(deg) weight is asymptotically worthless —
   * the LSH band-size discipline applied to graphs); the existing-edge
   * anti-join and all joins are shuffle_hash equi-joins; top-k is
   * TakeOrderedAndProject on the ROUNDED score with (u, v) tie-break
   * (the t6 ranking rule). Each 1/ln term rounds at 9 and DECIMAL-sums
   * (the libm firewall).
   */
  def adamicAdar(edges: DataFrame, srcCol: String, dstCol: String,
      maxDegree: Int, minCommon: Long, k: Int): DataFrame = {
    require(maxDegree >= 2, s"adamicAdar: maxDegree must be >= 2, got $maxDegree")
    require(minCommon >= 1L, s"adamicAdar: minCommon must be >= 1, got $minCommon")
    require(k >= 1, s"adamicAdar: k must be >= 1, got $k")
    val und = canonicalUndirected(edges, srcCol, dstCol)
    val deg = nodeDegrees(und)
    val adj = bothDirections(und, "z", "nb")
    val centers = deg.where(col("deg") >= 2 && col("deg") <= maxDegree)
      .select(col("node").as("z"),
        round(lit(1.0) / log(col("deg").cast("double")), 9)
          .cast("decimal(28,9)").as("__w"))
    val eligible = adj.join(centers.hint("shuffle_hash"), Seq("z"))
    // explicit renamed projections (the winnowOverlapPairs lesson: a
    // .as-alias self-join downstream of joins can mis-resolve)
    val lhs = eligible.select(col("z"), col("nb").as("__u"), col("__w"))
    val rhs = eligible.select(col("z"), col("nb").as("__v"))
    val cand = lhs.join(rhs.hint("shuffle_hash"), Seq("z"))
      .where(col("__u") < col("__v"))
    val scored = cand
      .join(und.select(col("u").as("__u"), col("v").as("__v"))
        .hint("shuffle_hash"), Seq("__u", "__v"), "left_anti")
      .groupBy(col("__u").as("u"), col("__v").as("v"))
      .agg(count(lit(1)).as("n_common"),
        round(sum(col("__w")).cast("double"), 6).as("score"))
      .where(col("n_common") >= minCommon)
    scored
      .orderBy(col("score").desc, col("u").asc, col("v").asc)
      .limit(k)
  }

  /**
   * P140 — neighbor-set Jaccard link prediction: for non-adjacent pairs
   * sharing ≥ `minCommon` neighbors, score = |Γ(u)∩Γ(v)| /
   * (deg(u) + deg(v) − |common|) — the normalized companion to
   * [[adamicAdar]] (same candidate generation, set-overlap weighting
   * instead of rarity weighting; Jaccard favors proportional overlap,
   * A-A favors rare witnesses — run both, compare queues). Top-`k` by
   * rounded score with (u, v) tie-break.
   *
   * Shapes: identical wedge enumeration with centers capped at
   * `maxDegree` (common counts therefore exclude hub witnesses —
   * documented estimator bias shared with A-A, and the reason the
   * quadratic fan-out is bounded); endpoint degrees are TRUE degrees
   * joined back per pair (shuffle_hash, post-agg no-stats). Score is
   * ONE double division of exact BIGINTs, rounded at 9 — no libm at
   * all, so no rounding firewall is even needed.
   */
  def neighborJaccard(edges: DataFrame, srcCol: String, dstCol: String,
      maxDegree: Int, minCommon: Long, k: Int): DataFrame = {
    require(maxDegree >= 2,
      s"neighborJaccard: maxDegree must be >= 2, got $maxDegree")
    require(minCommon >= 1L,
      s"neighborJaccard: minCommon must be >= 1, got $minCommon")
    require(k >= 1, s"neighborJaccard: k must be >= 1, got $k")
    val und = canonicalUndirected(edges, srcCol, dstCol)
    val deg = nodeDegrees(und)
    val adj = bothDirections(und, "z", "nb")
    val centers = deg.where(col("deg") >= 2 && col("deg") <= maxDegree)
      .select(col("node").as("z"))
    val eligible = adj.join(centers.hint("shuffle_hash"), Seq("z"))
    // explicit renamed projections (the winnowOverlapPairs lesson)
    val lhs = eligible.select(col("z"), col("nb").as("__u"))
    val rhs = eligible.select(col("z"), col("nb").as("__v"))
    val counted = lhs.join(rhs.hint("shuffle_hash"), Seq("z"))
      .where(col("__u") < col("__v"))
      .join(und.select(col("u").as("__u"), col("v").as("__v"))
        .hint("shuffle_hash"), Seq("__u", "__v"), "left_anti")
      .groupBy(col("__u").as("u"), col("__v").as("v"))
      .agg(count(lit(1)).as("n_common"))
      .where(col("n_common") >= minCommon)
    counted
      .join(deg.select(col("node").as("u"), col("deg").as("deg_u"))
        .hint("shuffle_hash"), Seq("u"))
      .join(deg.select(col("node").as("v"), col("deg").as("deg_v"))
        .hint("shuffle_hash"), Seq("v"))
      .withColumn("score", round(col("n_common").cast("double") /
        (col("deg_u") + col("deg_v") - col("n_common")).cast("double"), 9))
      .select("u", "v", "n_common", "deg_u", "deg_v", "score")
      .orderBy(col("score").desc, col("u").asc, col("v").asc)
      .limit(k)
  }

  /**
   * P144 — bounded k-core peeling: `iters` rounds of "drop every node
   * with degree < k, recompute degrees on the surviving subgraph" — the
   * density filter that separates a graph's cohesive core from its
   * tendrils (community seeding, spam-ring detection, and the node
   * screen before expensive per-node graph features). Returns the nodes
   * alive after round `iters` with their CURRENT degree — a
   * deterministic PARTIAL peel when the bound binds (the d8 bounded-CC
   * discipline: the bound is a latency contract, and round counts
   * needed in practice are small because each round strictly shrinks
   * the graph); `in_core` marks nodes whose degree already satisfies k,
   * so `iters` has converged exactly when every row has it true.
   *
   * Shapes: the peel state is the CANONICAL edge set (u < v), and each
   * round references it exactly ONCE — endpoints explode, a
   * node-partitioned count window attaches each endpoint's degree, and
   * a per-edge min-degree agg keeps the edges whose BOTH endpoints
   * reach k. That is the identical keep rule the r10 form expressed as
   * a degree agg + two left-semi joins over the DOUBLED directed frame,
   * but with one self-reference per round instead of three: the r10
   * plan cloned the `alive` subtree 3^iters times (~1000 parquet scans
   * at iters = 3, measured r11-opt) and shuffled twice the rows. Plan
   * growth is now LINEAR in `iters` (Graft.materialize past ~10 rounds
   * at scale remains the escape hatch).
   */
  def kCorePeel(edges: DataFrame, srcCol: String, dstCol: String,
      k: Int, iters: Int): DataFrame = {
    require(k >= 2, s"kCorePeel: k must be >= 2, got $k")
    require(iters >= 1 && iters <= 20,
      s"kCorePeel: iters must be in [1, 20], got $iters")
    val und = canonicalUndirected(edges, srcCol, dstCol)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("__n"))
    var alive = und
    for (_ <- 1 to iters) {
      alive = alive
        .select(col("u"), col("v"),
          explode(array(col("u"), col("v"))).as("__n"))
        .withColumn("__d", count(lit(1)).over(w))
        .groupBy(col("u"), col("v")).agg(min(col("__d")).as("__dm"))
        .where(col("__dm") >= k)
        .select(col("u"), col("v"))
    }
    alive.select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      .withColumn("in_core", col("deg") >= k)
  }

  /**
   * P159 — degree assortativity (Newman 2002): the Pearson correlation
   * of endpoint degrees over the directed edge list (each undirected
   * edge contributes both orientations, the standard convention) — one
   * number separating hub-to-hub networks (r > 0, social graphs) from
   * hub-to-leaf ones (r < 0, co-purchase/infrastructure), which
   * predicts how a partition-by-vertex layout will balance. One row:
   * (n_edges directed, r); degenerate degree variance → null.
   *
   * Shapes: canonical distinct, one degree agg, two shuffle_hash
   * degree join-backs, ONE fused moment aggregate (the o11 casts —
   * integer degrees make every decimal product exact); r is a fixed
   * double sequence rounded at 6.
   */
  def degreeAssortativity(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val und = canonicalUndirected(edges, srcCol, dstCol)
    val deg = nodeDegrees(und)
    val dir = bothDirections(und, "a", "b")
    val pairs = dir
      .join(deg.select(col("node").as("a"), col("deg").as("__x"))
        .hint("shuffle_hash"), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("__y"))
        .hint("shuffle_hash"), Seq("b"))
    val dx = col("__x").cast("decimal(18,0)")
    val dy = col("__y").cast("decimal(18,0)")
    val m = pairs.agg(count(lit(1)).as("n_edges"),
      sum(dx).cast("double").as("__sx"), sum(dy).cast("double").as("__sy"),
      sum(dx * dy).cast("double").as("__sxy"),
      sum(dx * dx).cast("double").as("__sxx"),
      sum(dy * dy).cast("double").as("__syy"))
    val nd = col("n_edges").cast("double")
    val num = nd * col("__sxy") - col("__sx") * col("__sy")
    val denx = nd * col("__sxx") - col("__sx") * col("__sx")
    val deny = nd * col("__syy") - col("__sy") * col("__sy")
    m.withColumn("r",
        when(denx > 0 && deny > 0, round(num / sqrt(denx * deny), 6)))
      .select("n_edges", "r")
  }

  /**
   * P339 — average-nearest-neighbor-degree curve knn(k) (Pastor-
   * Satorras et al. 2001): for each degree class k, the mean degree of
   * the neighbors of degree-k endpoints — the CURVE behind
   * [[degreeAssortativity]]'s single coefficient (a flat knn(k) with
   * r ≈ 0 and a U-shaped one read identically through r; the curve
   * shows WHERE the mixing changes, which is what a degree-aware
   * partitioning or sampling plan actually needs). Emits per degree
   * class (deg, n_ends, knn) over the directed-both-ways convention
   * (each undirected edge contributes both endpoint orders, matching
   * the assortativity moments).
   *
   * Shapes: canonical distinct + one degree agg + the same two
   * shuffle_hash degree join-backs as [[degreeAssortativity]], then ONE
   * keyed agg by degree class — degree-class cardinality is ≤ max
   * degree, so the final agg is ladder-sized at any corpus scale.
   * Cross-engine: integer degree sums through DECIMAL (exact), one
   * double division rounded at 6.
   */
  def neighborDegreeCurve(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val und = canonicalUndirected(edges, srcCol, dstCol)
    val deg = nodeDegrees(und)
    val dir = bothDirections(und, "a", "b")
    dir
      .join(deg.select(col("node").as("a"), col("deg").as("__x"))
        .hint("shuffle_hash"), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("__y"))
        .hint("shuffle_hash"), Seq("b"))
      .groupBy(col("__x").as("deg"))
      .agg(count(lit(1)).as("n_ends"),
        round(sum(col("__y").cast("decimal(18,0)")).cast("double") /
          count(lit(1)).cast("double"), 6).as("knn"))
  }

  /**
   * P209 — HITS hubs & authorities over a BIPARTITE edge list
   * (left → right), `iters` unrolled rounds with L1 normalization:
   * auth(r) = Σ hub(l) over incident edges, hub(l) = Σ auth(r), each
   * side renormalized to sum 1 per round — the two-role ranking a
   * one-sided PageRank (P88) flattens: on a buyer→product graph, hubs
   * are the broad bulk buyers and authorities the products broad
   * buyers converge on (≠ raw popularity: an authority's edges come
   * from HIGH-hub buyers). Emits ("hub"|"auth", id, score) rows;
   * isolated ids never enter (edges define the graph).
   *
   * Shapes: one distinct edge build, per round two shuffle_hash
   * joins + keyed sums + a 1-row L1 total broadcast back — no windows,
   * no collect. Cross-engine: scores are 9-rounded doubles whose sums
   * go through DECIMAL(28,9) (the q19 rounded-decimal-state rule — raw
   * iterative doubles are the gr1 portability trap).
   */
  def hits(edges: DataFrame, leftCol: String, rightCol: String,
      iters: Int = 2): DataFrame = {
    require(iters >= 1 && iters <= 16,
      s"hits: iters must be in 1..16, got $iters")
    // The L1 normalization must reference its input twice (the total agg
    // + the scalar join-back — a global sum has no single-reference
    // window form that stays distributed), so each lazy round DOUBLED the
    // unrolled plan: 368 parquet scans at iters = 2, and every clone
    // re-ran the upstream edge build. Materializing the edge list once and
    // each round's agg-sized raw score frame (≤ one row per node) keeps
    // the plan linear in iters (GraphPlanSpec) and runs the edge build
    // once — the standard materialize-per-superstep shape.
    val e = Graft.materialize(
      edges.select(col(leftCol).as("l"), col(rightCol).as("r"))
        .where(col("l").isNotNull && col("r").isNotNull)
        .distinct())
    def normalized(scores: DataFrame, idCol: String): DataFrame = {
      val tot = scores.agg(
        sum(col("__s").cast("decimal(28,9)")).cast("double").as("__tot"))
      scores.crossJoin(broadcast(tot)) // 1-row scalar side
        .select(col(idCol),
          round(col("__s") / col("__tot"), 9).as("score"))
    }
    val nl = e.select(col("l")).distinct()
      .crossJoin(broadcast(e.agg(countDistinct(col("l")).as("__nl"))))
    var hub = nl.select(col("l"),
      round(lit(1.0) / col("__nl").cast("double"), 9).as("score"))
    var auth: DataFrame = null
    for (_ <- 1 to iters) {
      auth = normalized(Graft.materialize(
        e.join(hub.hint("shuffle_hash"), Seq("l"))
          .groupBy(col("r"))
          .agg(sum(col("score").cast("decimal(28,9)")).cast("double")
            .as("__s"))), "r")
      hub = normalized(Graft.materialize(
        e.join(auth.hint("shuffle_hash"), Seq("r"))
          .groupBy(col("l"))
          .agg(sum(col("score").cast("decimal(28,9)")).cast("double")
            .as("__s"))), "l")
    }
    hub.select(lit("hub").as("kind"), col("l").as("id"), col("score"))
      .union(auth.select(lit("auth").as("kind"), col("r").as("id"),
        col("score")))
  }

  /**
   * P221 — degree-distribution power-law fit: for each cutoff in
   * `dmins`, the continuous Hill/MLE exponent
   * α = 1 + n_tail / Σ ln(dᵢ/dmin) over nodes with degree ≥ dmin —
   * "is this graph scale-free, and how heavy is the hub tail" (α ≈ 2–3
   * for real co-occurrence graphs; the cutoff ladder shows the fit's
   * stability, the standard diagnostic before trusting any power-law
   * claim). Emits (dmin, n_tail, max_deg, alpha); a cutoff where every
   * tail degree equals dmin (Σln = 0) nulls alpha, an empty tail drops
   * the row.
   *
   * Shapes: the canonical undirected build + one degree agg; the
   * cutoff ladder is a broadcast k-row frame over the AGG-SIZED degree
   * frame (nodes, not edges) — one map-side-combinable moment agg per
   * cutoff. Cross-engine: ln of an exact-BIGINT ratio double, rounded
   * at 9 and DECIMAL(28,9)-summed (the libm firewall); α is one double
   * division, rounded at 6.
   */
  def degreePowerLaw(edges: DataFrame, srcCol: String, dstCol: String,
      dmins: Seq[Int]): DataFrame = {
    require(dmins.nonEmpty && dmins.forall(_ >= 1),
      s"degreePowerLaw: dmins must be non-empty and >= 1, got $dmins")
    require(dmins.distinct.size == dmins.size,
      s"degreePowerLaw: duplicate cutoffs in $dmins")
    val spark = edges.sparkSession
    import spark.implicits._
    val ladder = dmins.sorted.toDF("dmin")
    val deg = nodeDegrees(canonicalUndirected(edges, srcCol, dstCol))
    deg.crossJoin(broadcast(ladder)) // k-row cutoff ladder
      .where(col("deg") >= col("dmin"))
      .withColumn("__lnr",
        round(log(col("deg").cast("double") / col("dmin").cast("double")), 9)
          .cast("decimal(28,9)"))
      .groupBy(col("dmin"))
      .agg(count(lit(1)).as("n_tail"), max(col("deg")).as("max_deg"),
        sum(col("__lnr")).as("__sln"))
      .withColumn("alpha", when(col("__sln") > 0,
        round(lit(1.0) + col("n_tail").cast("double") /
          col("__sln").cast("double"), 6)))
      .drop("__sln")
  }

  /**
   * P318 — modularity Q of a GIVEN node labeling over the undirected
   * graph: Q = Σ_c (m_c/m − (D_c/2m)²) with m_c the within-community
   * edge count and D_c the community degree mass — "is this partition
   * better than chance" (Q ≈ 0: the labels don't structure the graph;
   * Q ≳ 0.3: real communities). The evaluation half of community
   * detection, scoring ANY labeling (P33's connected components, a
   * metadata attribute, an external clusterer). Nodes missing a label
   * contribute no within-edges and no degree mass (document coverage
   * before reading Q); a node with several labels takes its MINIMUM
   * (deterministic, never a fan-out join). Emits ONE row
   * (n_communities, m_edges, q); an edgeless graph nulls Q.
   *
   * Shape: the shared canonical-undirected + degree builds, two
   * shuffle_hash label joins, two community-keyed aggs, one closing
   * agg. Cross-engine: all counts exact; per-community terms are fixed
   * double sequences rounded at 9 through DECIMAL(28,9); Q rounds at 6.
   */
  def modularity(edges: DataFrame, srcCol: String, dstCol: String,
      labels: DataFrame, nodeCol: String, labelCol: String): DataFrame = {
    val und = canonicalUndirected(edges, srcCol, dstCol)
    val deg = nodeDegrees(und)
    val lab = labels.where(col(nodeCol).isNotNull && col(labelCol).isNotNull)
      .groupBy(col(nodeCol).as("__n")).agg(min(col(labelCol)).as("__c"))
    val mAgg = und.agg(count(lit(1)).as("__m"))
    val within = und
      .join(lab.select(col("__n").as("u"), col("__c").as("__cu"))
        .hint("shuffle_hash"), Seq("u"))
      .join(lab.select(col("__n").as("v"), col("__c").as("__cv"))
        .hint("shuffle_hash"), Seq("v"))
      .where(col("__cu") === col("__cv"))
      .groupBy(col("__cu").as("__c")).agg(count(lit(1)).as("__mc"))
    val dsum = deg
      .join(lab.select(col("__n").as("node"), col("__c"))
        .hint("shuffle_hash"), Seq("node"))
      .groupBy(col("__c")).agg(sum(col("deg")).as("__dc"))
    val md = col("__m").cast("double")
    val dcd = col("__dc").cast("double")
    val term = coalesce(col("__mc"), lit(0L)).cast("double") / md -
      (dcd / (lit(2.0) * md)) * (dcd / (lit(2.0) * md))
    dsum.join(within.hint("shuffle_hash"), Seq("__c"), "left")
      .crossJoin(broadcast(mAgg)) // 1-row scalar side
      .agg(count(lit(1)).as("n_communities"), max(col("__m")).as("m_edges"),
        sum(when(col("__m") > 0, round(term, 9).cast("decimal(28,9)"))
          .otherwise(lit(BigDecimal(0)).cast("decimal(28,9)")))
          .cast("double").as("__q"))
      .select(col("n_communities"), col("m_edges"),
        when(col("m_edges") > 0, round(col("__q"), 6)).as("q"))
  }

  /**
   * P329 — k-hop reach from the top-degree landmark: breadth-first
   * frontier counts at hops 0..`hops` from the highest-degree node
   * (tie: smallest id) — "how much of the graph is within k hops of
   * the biggest hub", the small-world/connectivity probe and the
   * blast-radius read of a hub outage. Emits per hop: (hop, n_new) —
   * nodes FIRST reached at that hop.
   *
   * Shape: the shared undirected build, a TakeOrdered 1-row seed, then
   * `hops` keyed frontier joins, each closed by a distinct + one
   * anti-join per PRIOR frontier (all equi-joins — the gr5 bounded-
   * iteration class; nothing global). Anti-joining the prior frontier
   * frames individually instead of one accumulated `visited` union
   * keeps each frame referencing only the hop chain before it — the
   * r10 accumulator referenced itself 3× per hop and cloned the seed/
   * edge subtrees 3^hops times (132 scans in the physical plan at
   * hops = 3, measured r11-opt). Cross-engine: pure set semantics
   * (anti vs each prior frontier ≡ anti vs their union — frontiers
   * are disjoint by construction), exact counts.
   */
  def kHopReach(edges: DataFrame, srcCol: String, dstCol: String,
      hops: Int): DataFrame = {
    require(hops >= 1 && hops <= 6,
      s"kHopReach: hops must be in 1..6, got $hops")
    // Every frontier is referenced by the NEXT frontier's expansion, by
    // every LATER frontier's anti-join, and by its own closing count — the
    // lazy chain held 132 parquet scans at hops = 3 and grows ~3^hops, so
    // each node-sized frontier is materialized. The edge list feeds two
    // separate materializations (dirE, seed), so it is materialized too
    // (lazy, gr12 read 7.2–8.9 s vs 5.6–6.2 s at sf0.1, local[4]).
    val und = Graft.materialize(canonicalUndirected(edges, srcCol, dstCol))
    // the cut does not keep this partitioning (Graft.materialize), so each
    // hop still plans an exchange on a; dropping the repartition measured
    // no faster on gr12 (sf0.01, local[4], 7 alternating pairs: median
    // 3.97 s without, 3.59 s with), so it stays
    val dirE = Graft.materialize(bothDirections(und, "a", "b")
      .repartition(col("a")))
    val seed = Graft.materialize(nodeDegrees(und)
      .orderBy(col("deg").desc, col("node").asc).limit(1)
      .select(col("node")))
    var fronts = Vector[DataFrame](seed)
    for (_ <- 1 to hops) {
      val reached = fronts.last
        .join(dirE.hint("shuffle_hash"), col("node") === col("a"))
        .select(col("b").as("node")).distinct()
      val next = Graft.materialize(fronts.foldLeft(reached)((acc, f) =>
        acc.join(f.hint("shuffle_hash"), Seq("node"), "left_anti")))
      fronts = fronts :+ next
    }
    // DENSIFY the hop spine: a saturated graph empties late frontiers,
    // and a missing row reads as "not computed", not "zero new" (the
    // dq11 spine rule)
    val spark = edges.sparkSession
    import spark.implicits._
    val spine = (0 to hops).toDF("hop")
    val counts = fronts.zipWithIndex
      .map { case (f, h) => f.agg(count(lit(1)).as("__n"))
        .select(lit(h).as("hop"), col("__n")) }
      .reduce(_ unionByName _)
    spine.join(counts.hint("shuffle_hash"), Seq("hop"), "left")
      .select(col("hop"), coalesce(col("__n"), lit(0L)).as("n_new"))
      .orderBy(col("hop"))
  }

  /**
   * P319 — rich-club coefficient ladder: for each degree bar k,
   * φ(k) = 2·E_k / (N_k(N_k−1)) over the subgraph induced by nodes
   * with deg > k — "do the hubs preferentially link to EACH OTHER"
   * (φ rising with k = an elite core; flat = hubs spread their edges).
   * Emits per k: k, n_k, e_k, phi; bars with < 2 surviving nodes null
   * φ (the density of a point is undefined).
   *
   * Shape: the shared undirected + degree builds, one edge-degree
   * join, one broadcast k-ladder crossJoin, two k-keyed conditional
   * aggs. Cross-engine: counts exact; φ goes through an exact
   * DECIMAL(19,0)² pair-count product and one double division,
   * rounded at 6.
   */
  def richClub(edges: DataFrame, srcCol: String, dstCol: String,
      ks: Seq[Int]): DataFrame = {
    require(ks.nonEmpty, "richClub: need at least one degree bar")
    require(ks.distinct.size == ks.size,
      s"richClub: duplicate bars in ${ks.mkString(",")}")
    require(ks.forall(_ >= 0), "richClub: bars must be >= 0")
    val und = canonicalUndirected(edges, srcCol, dstCol)
    val deg = nodeDegrees(und)
    val spark = edges.sparkSession
    import spark.implicits._
    val kf = ks.sorted.toDF("k")
    val e2 = und
      .join(deg.select(col("node").as("u"), col("deg").as("__du"))
        .hint("shuffle_hash"), Seq("u"))
      .join(deg.select(col("node").as("v"), col("deg").as("__dv"))
        .hint("shuffle_hash"), Seq("v"))
    val ek = e2.crossJoin(broadcast(kf)) // k-row ladder side
      .groupBy(col("k"))
      .agg(sum(when(col("__du") > col("k") && col("__dv") > col("k"), 1L)
        .otherwise(0L)).as("e_k"))
    val nk = deg.crossJoin(broadcast(kf)) // k-row ladder side
      .groupBy(col("k"))
      .agg(sum(when(col("deg") > col("k"), 1L).otherwise(0L)).as("n_k"))
    def d19(c: org.apache.spark.sql.Column) = c.cast("decimal(19,0)")
    nk.join(ek.hint("shuffle_hash"), Seq("k"))
      .select(col("k"), col("n_k"), col("e_k"),
        when(col("n_k") > 1,
          round(lit(2.0) * col("e_k").cast("double") /
            (d19(col("n_k")) * d19(col("n_k") - 1L)).cast("double"), 6))
          .as("phi"))
      .orderBy(col("k"))
  }
}
