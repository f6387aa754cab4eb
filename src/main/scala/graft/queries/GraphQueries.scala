package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Graft.table

/**
 * Graph analytics over derived edge lists (operators/Graph.scala).
 *
 * The oracle replays each power iteration as an unrolled CTE chain with
 * the identical arithmetic (DECIMAL-summed contributions, 12-decimal
 * rounds between rounds), so hash-equality proves the iterative joins
 * compute the textbook recurrence exactly.
 */
object GraphQueries {

  /** The part co-purchase edge list every gr* query analyzes: parts
    * linked when they share an order (ONE definition, with the oracles'
    * shared `und` CTE shape, so the graph queries cannot drift). Built by
    * [[graft.operators.Association.groupedPairs]] — one scan + one
    * shuffle, the identical row multiset of the old l_orderkey self-join;
    * fan-out stays quadratic in lines-per-order, which TPC-H (and real
    * baskets) bound at single digits. */
  private def coPurchaseEdges(s: SparkSession, dir: String): DataFrame =
    graft.operators.Association.groupedPairs(
        table(s, dir, "lineitem")
          .select(col("l_orderkey").as("ok"), col("l_partkey")),
        "ok", "l_partkey", strict = false)
      .toDF("src", "dst")

  /** The same co-purchase relation emitted once per unordered pair
    * (src < dst) instead of both orientations: every consumer below
    * canonicalizes with least/greatest + distinct, so the half build is
    * the IDENTICAL graph at half the pair fan-out — measured
    * 2.4M → 1.2M rows into each operator's distinct at sf0.1 (guide
    * §2.3, shuffle fewer bytes). Only gr1/t28's PageRank consumes the
    * directed symmetric multiset and keeps [[coPurchaseEdges]]. */
  private def coPurchasePairs(s: SparkSession, dir: String): DataFrame =
    graft.operators.Association.groupedPairs(
        table(s, dir, "lineitem")
          .select(col("l_orderkey").as("ok"), col("l_partkey")),
        "ok", "l_partkey", strict = true)
      .toDF("src", "dst")

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // P318 — modularity of the BRAND labeling over the co-purchase
    // graph: do brands form purchase communities, or do baskets mix
    // brands at chance (Q ≈ 0)
    "gr10_modularity" -> ((s, dir) => {
      graft.operators.Graph.modularity(coPurchasePairs(s, dir), "src",
        "dst",
        table(s, dir, "part").select(col("p_partkey"), col("p_brand")),
        "p_partkey", "p_brand")
    }),

    // P319 — rich-club ladder at degree bars {60, 90, 120} (median
    // co-purchase degree: 89 at sf0.001, 115 at sf0.01 — every bar
    // keeps ≥ 2 nodes at both SFs): do hub parts co-purchase with
    // each other
    "gr11_richclub" -> ((s, dir) => {
      graft.operators.Graph.richClub(coPurchasePairs(s, dir), "src",
        "dst", Seq(60, 90, 120))
    }),

    // P329 — 3-hop BFS reach from the top-degree part: how much of the
    // co-purchase graph sits within k hops of the biggest hub (the
    // blast-radius / small-world read)
    "gr12_khop" -> ((s, dir) => {
      graft.operators.Graph.kHopReach(coPurchasePairs(s, dir), "src",
        "dst", hops = 3)
    }),

    // P88 — PageRank over the part co-purchase graph: parts are linked
    // when they appear in the same order (symmetric edges, so outdeg ≥ 1
    // everywhere and no dangling mass); 3 damped power iterations. The
    // per-order self-join fans out quadratically in lines-per-order,
    // which TPC-H (and real baskets) bound at single digits — linear in
    // practice.
    "gr1_pagerank" -> ((s, dir) => {
      val edges = coPurchaseEdges(s, dir)
      graft.operators.Graph.pageRank(edges, "src", "dst",
          dampingPct = 85, iters = 3)
        .orderBy("v")
    }),

    // P117 — per-node triangle counts over the same part co-purchase
    // graph: degree-ordered out-lists, intersected per oriented edge; the
    // oracle counts the identical triangles by plain id-order three-way
    // join, proving the orientation is an identity
    "gr2_triangles" -> ((s, dir) => {
      val edges = coPurchasePairs(s, dir)
      graft.operators.Graph.triangleCounts(edges, "src", "dst")
        .orderBy("node")
    }),

    // P209 — HITS over the bipartite customer→part purchase graph:
    // 2 L1-normalized rounds; hubs = broad buyers, authorities = parts
    // those buyers converge on
    "gr8_hits" -> ((s, dir) => {
      val e = table(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"))
        .join(table(s, dir, "orders")
          .select(col("o_orderkey").as("l_orderkey"), col("o_custkey")),
          Seq("l_orderkey"))
        .select(col("o_custkey").as("cust"), col("l_partkey").as("part"))
      graft.operators.Graph.hits(e, "cust", "part", iters = 2)
        .orderBy("kind", "id")
    }),

    // P238 — TextRank keywords: P88's fixed-point PageRank over the
    // adjacent-token co-occurrence graph, top 20 by rank — the
    // unsupervised keyword extractor beside t23's RAKE
    "t28_textrank" -> ((s, dir) => {
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("pos"))
      val toks = table(s, dir, "documents")
        .where(col("doc_id").isNotNull)
        .select(col("doc_id"),
          posexplode(graft.operators.TextAnalysis.tokens(col("text")))
            .as(Seq("pos", "w")))
      val pairs = toks.withColumn("w2", lead(col("w"), 1).over(win))
        .where(col("w2").isNotNull && col("w") =!= col("w2"))
      val edges = pairs.select(col("w").as("src"), col("w2").as("dst"))
        .union(pairs.select(col("w2").as("src"), col("w").as("dst")))
      graft.operators.Graph.pageRank(edges, "src", "dst",
          dampingPct = 85, iters = 3)
        .orderBy(col("pr_fp").desc, col("v").asc)
        .limit(20)
    }),

    // P221 — power-law exponent of the co-purchase degree tail at a
    // three-cutoff ladder: the stability diagnostic before any
    // "scale-free" claim (cutoffs straddle the degree median so every
    // rung is populated at both SFs — measured)
    "gr9_powerlaw" -> ((s, dir) => {
      graft.operators.Graph.degreePowerLaw(coPurchasePairs(s, dir),
          "src", "dst", dmins = Seq(48, 64, 96))
        .orderBy("dmin")
    }),

    // P188 — local clustering coefficient over the same co-purchase
    // graph: cc = 2·tri/(deg·(deg−1)) per node with deg ≥ 2; the oracle
    // recomputes both moments by plain id-order identity
    "gr7_clustercoef" -> ((s, dir) => {
      val edges = coPurchasePairs(s, dir)
      graft.operators.Graph.clusteringCoefficient(edges, "src", "dst")
        .orderBy("node")
    }),

    // P124 — top-50 Adamic-Adar link predictions over the co-purchase
    // graph: non-adjacent part pairs with ≥ 3 common neighbors, centers
    // capped at degree 90 (hub fan-out discipline; this graph's degree
    // MEDIAN is ~115, so the original ≤50 cap admitted ~1 center and
    // the query was vacuously empty — retuned r9s4), 1/ln terms
    // 9-rounded and DECIMAL-summed
    "gr3_adamic" -> ((s, dir) => {
      val edges = coPurchasePairs(s, dir)
      graft.operators.Graph.adamicAdar(edges, "src", "dst",
          maxDegree = 90, minCommon = 3L, k = 50)
        .orderBy(col("score").desc, col("u").asc, col("v").asc)
    }),

    // P140 — neighbor-set Jaccard link prediction over the same
    // co-purchase graph: set-overlap scoring beside gr3's rarity
    // weighting; score is one double division of exact BIGINTs
    "gr4_jaccard" -> ((s, dir) => {
      val edges = coPurchasePairs(s, dir)
      graft.operators.Graph.neighborJaccard(edges, "src", "dst",
          maxDegree = 90, minCommon = 3L, k = 50)
        .orderBy(col("score").desc, col("u").asc, col("v").asc)
    }),

    // P144 — 3-round 75-core peel of the co-purchase graph: the
    // cohesive-core screen; rounds strictly shrink the graph, the
    // bounded partial peel is deterministic (the d8 discipline)
    "gr5_kcore" -> ((s, dir) => {
      val edges = coPurchasePairs(s, dir)
      graft.operators.Graph.kCorePeel(edges, "src", "dst", k = 75, iters = 3)
        .orderBy("node")
    }),

    // P159 — degree assortativity of the co-purchase graph: one Pearson
    // r over directed endpoint-degree pairs
    "gr6_assortativity" -> ((s, dir) => {
      val edges = coPurchasePairs(s, dir)
      graft.operators.Graph.degreeAssortativity(edges, "src", "dst")
    }),

    // P339 — the knn(k) curve behind gr6's single coefficient: mean
    // neighbor degree per degree class over the same co-purchase graph
    // (ladder-sized output — one row per distinct degree)
    "gr13_knn_curve" -> ((s, dir) => {
      graft.operators.Graph.neighborDegreeCurve(coPurchasePairs(s, dir),
          "src", "dst")
        .orderBy("deg")
    })
  )

  /** One unrolled fixed-point PageRank iteration: prev CTE -> next CTE.
    * Kept as a generator so the three rounds cannot drift apart
    * textually. All arithmetic is BIGINT (the operator's fixed-point
    * firewall — see Graph.scala on why round(double,12) is NOT
    * cross-engine portable); `//` on positive BIGINTs matches Spark's
    * `div` exactly. */
  private def prIter(prev: String, next: String): String =
    s"""$next AS (
       |  SELECT verts.v,
       |    CAST((CAST(15 AS BIGINT) * 1000000000000 // 100) // n.n
       |         + (CAST(85 AS BIGINT) * coalesce(s.s, 0)) // 100
       |         AS BIGINT) AS fp
       |  FROM verts CROSS JOIN n
       |  LEFT JOIN (
       |    SELECT e.dst AS v, CAST(SUM(p.fp // d.outdeg) AS BIGINT) AS s
       |    FROM $prev p
       |    JOIN edges e ON e.src = p.v
       |    JOIN deg d ON d.src = p.v
       |    GROUP BY 1) s ON s.v = verts.v)""".stripMargin

  /** One unrolled k-core peel round: keep the edges whose BOTH endpoints
    * have degree ≥ 75 in the previous round's edge set. A generator so
    * the three rounds cannot drift apart textually (the prIter rule). */
  private def kcIter(prev: String, next: String): String =
    s"""$next AS (
       |  SELECT e.a, e.b FROM $prev e
       |  WHERE e.a IN (SELECT a FROM $prev GROUP BY a HAVING COUNT(*) >= 75)
       |    AND e.b IN (SELECT a FROM $prev GROUP BY a HAVING COUNT(*) >= 75))""".stripMargin

  val oracles: Map[String, String] = Map(
    // unrolled BFS frontiers as anti-joined distinct-neighbor CTEs
    "gr12_khop" ->
      """WITH und AS (
        |  SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
        |                  greatest(a.l_partkey, b.l_partkey) AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
        |dirE AS (SELECT u AS a, v AS b FROM und
        |         UNION ALL SELECT v, u FROM und),
        |deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
        |  SELECT u AS node FROM und UNION ALL SELECT v FROM und)
        |  GROUP BY 1),
        |seed AS (SELECT node FROM deg ORDER BY deg DESC, node LIMIT 1),
        |f1 AS (
        |  SELECT DISTINCT b AS node FROM dirE JOIN seed ON a = seed.node
        |  WHERE b NOT IN (SELECT node FROM seed)),
        |f2 AS (
        |  SELECT DISTINCT b AS node FROM dirE JOIN f1 ON a = f1.node
        |  WHERE b NOT IN (SELECT node FROM seed
        |    UNION ALL SELECT node FROM f1)),
        |f3 AS (
        |  SELECT DISTINCT b AS node FROM dirE JOIN f2 ON a = f2.node
        |  WHERE b NOT IN (SELECT node FROM seed
        |    UNION ALL SELECT node FROM f1 UNION ALL SELECT node FROM f2))
        |SELECT 0 AS hop, CAST(COUNT(*) AS BIGINT) AS n_new FROM seed
        |UNION ALL SELECT 1, CAST(COUNT(*) AS BIGINT) FROM f1
        |UNION ALL SELECT 2, CAST(COUNT(*) AS BIGINT) FROM f2
        |UNION ALL SELECT 3, CAST(COUNT(*) AS BIGINT) FROM f3
        |ORDER BY hop""".stripMargin,

    // within-community edge counts + degree mass per brand; terms
    // 9-rounded through DECIMAL(28,9)
    "gr10_modularity" ->
      """WITH und AS (
        |  SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
        |                  greatest(a.l_partkey, b.l_partkey) AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
        |deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
        |  SELECT u AS node FROM und UNION ALL SELECT v FROM und)
        |  GROUP BY 1),
        |lab AS (SELECT p_partkey AS n, min(p_brand) AS c FROM part
        |  WHERE p_partkey IS NOT NULL AND p_brand IS NOT NULL
        |  GROUP BY 1),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM und),
        |within AS (
        |  SELECT lu.c, CAST(COUNT(*) AS BIGINT) AS mc
        |  FROM und JOIN lab lu ON lu.n = und.u JOIN lab lv ON lv.n = und.v
        |  WHERE lu.c = lv.c GROUP BY 1),
        |dsum AS (
        |  SELECT lab.c, CAST(SUM(deg.deg) AS BIGINT) AS dc
        |  FROM deg JOIN lab ON lab.n = deg.node GROUP BY 1),
        |t AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
        |    CAST(MAX(m.m) AS BIGINT) AS m_edges,
        |    CAST(SUM(CASE WHEN m.m > 0 THEN CAST(round(
        |      CAST(coalesce(w.mc, 0) AS DOUBLE) / CAST(m.m AS DOUBLE) -
        |      (CAST(d.dc AS DOUBLE) / (2.0e0 * CAST(m.m AS DOUBLE))) *
        |      (CAST(d.dc AS DOUBLE) / (2.0e0 * CAST(m.m AS DOUBLE))), 9)
        |      AS DECIMAL(28,9)) ELSE CAST(0 AS DECIMAL(28,9)) END)
        |      AS DOUBLE) AS q
        |  FROM dsum d LEFT JOIN within w ON w.c = d.c CROSS JOIN m)
        |SELECT n_communities, m_edges,
        |  CASE WHEN m_edges > 0 THEN round(q, 6) END AS q
        |FROM t""".stripMargin,

    // hub-only edge/node counts per degree bar; φ an exact-product
    // integer ratio
    "gr11_richclub" ->
      """WITH und AS (
        |  SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
        |                  greatest(a.l_partkey, b.l_partkey) AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
        |deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
        |  SELECT u AS node FROM und UNION ALL SELECT v FROM und)
        |  GROUP BY 1),
        |kf AS (SELECT unnest([60, 90, 120]) AS k),
        |e2 AS (
        |  SELECT du.deg AS ddu, dv.deg AS ddv
        |  FROM und JOIN deg du ON du.node = und.u
        |           JOIN deg dv ON dv.node = und.v),
        |ek AS (
        |  SELECT k, CAST(SUM(CASE WHEN ddu > k AND ddv > k THEN 1
        |    ELSE 0 END) AS BIGINT) AS e_k
        |  FROM e2 CROSS JOIN kf GROUP BY 1),
        |nk AS (
        |  SELECT k, CAST(SUM(CASE WHEN deg > k THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_k
        |  FROM deg CROSS JOIN kf GROUP BY 1)
        |SELECT nk.k, nk.n_k, ek.e_k,
        |  CASE WHEN nk.n_k > 1 THEN
        |    round(2.0e0 * CAST(ek.e_k AS DOUBLE) /
        |      CAST(CAST(nk.n_k AS DECIMAL(19,0)) *
        |        CAST(nk.n_k - 1 AS DECIMAL(19,0)) AS DOUBLE), 6)
        |  END AS phi
        |FROM nk JOIN ek ON ek.k = nk.k
        |ORDER BY nk.k""".stripMargin,

    // the o16 moment discipline on exact integer degree pairs; both
    // orientations of every undirected edge
    "gr6_assortativity" ->
      """WITH und AS (
        |  SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
        |                  greatest(a.l_partkey, b.l_partkey) AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
        |deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
        |  SELECT u AS node FROM und UNION ALL SELECT v FROM und) GROUP BY 1),
        |dir AS (SELECT u AS a, v AS b FROM und
        |        UNION ALL SELECT v, u FROM und),
        |p AS (
        |  SELECT CAST(da.deg AS DECIMAL(19,0)) AS x,
        |         CAST(db.deg AS DECIMAL(19,0)) AS y
        |  FROM dir JOIN deg da ON da.node = dir.a
        |           JOIN deg db ON db.node = dir.b),
        |m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
        |    CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
        |    CAST(SUM(x * y) AS DOUBLE) AS sxy,
        |    CAST(SUM(x * x) AS DOUBLE) AS sxx,
        |    CAST(SUM(y * y) AS DOUBLE) AS syy
        |  FROM p),
        |f AS (
        |  SELECT n_edges,
        |    CAST(n_edges AS DOUBLE) * sxy - sx * sy AS num,
        |    CAST(n_edges AS DOUBLE) * sxx - sx * sx AS denx,
        |    CAST(n_edges AS DOUBLE) * syy - sy * sy AS deny
        |  FROM m)
        |SELECT n_edges,
        |  CASE WHEN denx > 0 AND deny > 0
        |       THEN round(num / sqrt(denx * deny), 6) END AS r
        |FROM f""".stripMargin,

    // same edge/degree CTEs as gr6, grouped by the endpoint's degree
    // class instead of folded into one moment row
    "gr13_knn_curve" ->
      """WITH und AS (
        |  SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
        |                  greatest(a.l_partkey, b.l_partkey) AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
        |deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
        |  SELECT u AS node FROM und UNION ALL SELECT v FROM und) GROUP BY 1),
        |dir AS (SELECT u AS a, v AS b FROM und
        |        UNION ALL SELECT v, u FROM und),
        |p AS (
        |  SELECT da.deg AS dx, db.deg AS dy
        |  FROM dir JOIN deg da ON da.node = dir.a
        |           JOIN deg db ON db.node = dir.b)
        |SELECT dx AS deg, CAST(COUNT(*) AS BIGINT) AS n_ends,
        |  round(CAST(SUM(CAST(dy AS DECIMAL(18,0))) AS DOUBLE) /
        |        CAST(COUNT(*) AS DOUBLE), 6) AS knn
        |FROM p GROUP BY 1 ORDER BY deg""".stripMargin,

    // the identical bounded peel, unrolled; final degrees on the round-3
    // survivor subgraph
    "gr5_kcore" ->
      s"""WITH und AS (
         |  SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
         |                  greatest(a.l_partkey, b.l_partkey) AS v
         |  FROM lineitem a JOIN lineitem b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
         |a0 AS (SELECT u AS a, v AS b FROM und
         |       UNION ALL SELECT v, u FROM und),
         |${kcIter("a0", "a1")},
         |${kcIter("a1", "a2")},
         |${kcIter("a2", "a3")}
         |SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS deg,
         |  COUNT(*) >= 75 AS in_core
         |FROM a3 GROUP BY 1 ORDER BY node""".stripMargin,

    "gr1_pagerank" ->
      s"""WITH edges AS (
         |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
         |  FROM lineitem a JOIN lineitem b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
         |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg
         |        FROM edges GROUP BY 1),
         |verts AS (SELECT src AS v FROM edges UNION SELECT dst FROM edges),
         |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM verts),
         |pr0 AS (SELECT v, CAST(CAST(1000000000000 AS BIGINT) // n.n AS BIGINT) AS fp
         |        FROM verts CROSS JOIN n),
         |${prIter("pr0", "pr1")},
         |${prIter("pr1", "pr2")},
         |${prIter("pr2", "pr3")}
         |SELECT v, fp AS pr_fp,
         |  CAST(fp AS DOUBLE) / 1000000000000.0e0 AS pr
         |FROM pr3 ORDER BY v""".stripMargin,

    // id-ordered canonical triangle enumeration (u < v < w, three-way
    // join) — independent of the operator's degree orientation, same set
    "gr2_triangles" ->
      """WITH e AS (
        |  SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
        |                  greatest(a.l_partkey, b.l_partkey) AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
        |t AS (
        |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |  FROM e e1
        |  JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
        |  JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v),
        |nodes AS (
        |  SELECT a AS node FROM t
        |  UNION ALL SELECT b FROM t
        |  UNION ALL SELECT c FROM t)
        |SELECT node, CAST(COUNT(*) AS BIGINT) AS tri_cnt
        |FROM nodes GROUP BY 1 ORDER BY 1""".stripMargin,

    // the identical unrolled L1-normalized rounds: DECIMAL(28,9) sums
    // of 9-rounded scores, one scalar total per normalization
    "gr8_hits" -> {
      def norm(rawCte: String, totCte: String, outCte: String,
          idCol: String) =
        s"""$totCte AS (
           |  SELECT CAST(SUM(CAST(s AS DECIMAL(28,9))) AS DOUBLE) AS t
           |  FROM $rawCte),
           |$outCte AS (
           |  SELECT $idCol, round(s / $totCte.t, 9) AS score
           |  FROM $rawCte CROSS JOIN $totCte)""".stripMargin
      def sweep(rawCte: String, fromCte: String, joinKey: String,
          outKey: String) =
        s"""$rawCte AS (
           |  SELECT $outKey,
           |    CAST(SUM(CAST(score AS DECIMAL(28,9))) AS DOUBLE) AS s
           |  FROM e JOIN $fromCte USING ($joinKey) GROUP BY 1)""".stripMargin
      s"""WITH e AS (
         |  SELECT DISTINCT o.o_custkey AS l, li.l_partkey AS r
         |  FROM lineitem li JOIN orders o ON o.o_orderkey = li.l_orderkey
         |  WHERE o.o_custkey IS NOT NULL AND li.l_partkey IS NOT NULL),
         |nl AS (SELECT CAST(COUNT(DISTINCT l) AS BIGINT) AS nl FROM e),
         |hub0 AS (
         |  SELECT DISTINCT l, round(1.0e0 / CAST(nl.nl AS DOUBLE), 9)
         |    AS score
         |  FROM e CROSS JOIN nl),
         |${sweep("a1r", "hub0", "l", "r")},
         |${norm("a1r", "a1t", "a1", "r")},
         |${sweep("h1r", "a1", "r", "l")},
         |${norm("h1r", "h1t", "h1", "l")},
         |${sweep("a2r", "h1", "l", "r")},
         |${norm("a2r", "a2t", "a2", "r")},
         |${sweep("h2r", "a2", "r", "l")},
         |${norm("h2r", "h2t", "h2", "l")}
         |SELECT 'hub' AS kind, l AS id, score FROM h2
         |UNION ALL SELECT 'auth' AS kind, r AS id, score FROM a2
         |ORDER BY kind, id""".stripMargin
    },

    // the gr2 triangle identity + the canonical degree agg; cc is one
    // double division of exact BIGINTs, rounded at 6
    "gr7_clustercoef" ->
      """WITH e AS (
        |  SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
        |                  greatest(a.l_partkey, b.l_partkey) AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
        |deg AS (
        |  SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
        |    SELECT u AS node FROM e UNION ALL SELECT v FROM e) GROUP BY 1),
        |t AS (
        |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |  FROM e e1
        |  JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
        |  JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v),
        |nodes AS (
        |  SELECT a AS node FROM t
        |  UNION ALL SELECT b FROM t
        |  UNION ALL SELECT c FROM t),
        |tri AS (
        |  SELECT node, CAST(COUNT(*) AS BIGINT) AS tri_cnt
        |  FROM nodes GROUP BY 1)
        |SELECT d.node, d.deg,
        |  CAST(coalesce(tri.tri_cnt, 0) AS BIGINT) AS tri_cnt,
        |  round(2.0e0 * CAST(coalesce(tri.tri_cnt, 0) AS DOUBLE) /
        |    CAST(d.deg * (d.deg - 1) AS DOUBLE), 6) AS cc
        |FROM deg d LEFT JOIN tri ON tri.node = d.node
        |WHERE d.deg >= 2
        |ORDER BY d.node""".stripMargin,

    // the identical prIter unrolled rounds over the adjacent-token
    // graph; deterministic (pr_fp, v) top-20 cut
    "t28_textrank" ->
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(lower(trim(text)), '\\s+'),
         |      x -> x <> '') AS l
         |  FROM documents WHERE doc_id IS NOT NULL),
         |adj AS (
         |  SELECT l[i] AS w1, l[i + 1] AS w2
         |  FROM (SELECT l, unnest(generate_series(1, len(l) - 1)) AS i
         |        FROM toks WHERE len(l) >= 2)
         |  WHERE l[i] <> l[i + 1]),
         |edges AS (
         |  SELECT DISTINCT w1 AS src, w2 AS dst FROM adj
         |  UNION SELECT DISTINCT w2, w1 FROM adj),
         |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg
         |        FROM edges GROUP BY 1),
         |verts AS (SELECT src AS v FROM edges UNION SELECT dst FROM edges),
         |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM verts),
         |pr0 AS (SELECT v, CAST(CAST(1000000000000 AS BIGINT) // n.n
         |          AS BIGINT) AS fp
         |        FROM verts CROSS JOIN n),
         |${prIter("pr0", "pr1")},
         |${prIter("pr1", "pr2")},
         |${prIter("pr2", "pr3")}
         |SELECT v, fp AS pr_fp,
         |  CAST(fp AS DOUBLE) / 1000000000000.0e0 AS pr
         |FROM pr3 ORDER BY pr_fp DESC, v LIMIT 20""".stripMargin,

    // the same und/deg CTEs, a VALUES cutoff ladder, 9-rounded ln of
    // exact integer ratios DECIMAL-summed
    "gr9_powerlaw" ->
      """WITH und AS (
        |  SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
        |                  greatest(a.l_partkey, b.l_partkey) AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
        |deg AS (
        |  SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
        |    SELECT u AS node FROM und UNION ALL SELECT v FROM und)
        |  GROUP BY 1),
        |l AS (SELECT * FROM (VALUES (48), (64), (96)) AS t(dmin)),
        |tail AS (
        |  SELECT l.dmin, d.deg FROM deg d CROSS JOIN l
        |  WHERE d.deg >= l.dmin),
        |g AS (
        |  SELECT dmin, CAST(COUNT(*) AS BIGINT) AS n_tail,
        |    CAST(MAX(deg) AS BIGINT) AS max_deg,
        |    SUM(CAST(round(ln(CAST(deg AS DOUBLE) / CAST(dmin AS DOUBLE)),
        |      9) AS DECIMAL(28,9))) AS sln
        |  FROM tail GROUP BY 1)
        |SELECT dmin, n_tail, max_deg,
        |  CASE WHEN sln > 0 THEN
        |    round(1.0e0 + CAST(n_tail AS DOUBLE) / CAST(sln AS DOUBLE), 6)
        |  END AS alpha
        |FROM g ORDER BY dmin""".stripMargin,

    // the same center-capped wedge enumeration with a NOT EXISTS
    // anti-join; ranking on the rounded score with (u, v) tie-break
    "gr3_adamic" ->
      """WITH und AS (
        |  SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
        |                  greatest(a.l_partkey, b.l_partkey) AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
        |deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
        |  SELECT u AS node FROM und UNION ALL SELECT v FROM und) GROUP BY 1),
        |centers AS (
        |  SELECT node AS z,
        |    CAST(round(1.0e0 / ln(CAST(deg AS DOUBLE)), 9) AS DECIMAL(28,9))
        |      AS w
        |  FROM deg WHERE deg >= 2 AND deg <= 90),
        |adj AS (SELECT u AS z, v AS nb FROM und
        |        UNION ALL SELECT v, u FROM und),
        |el AS (SELECT adj.z, adj.nb, c.w FROM adj JOIN centers c ON c.z = adj.z),
        |cand AS (
        |  SELECT a.nb AS u, b.nb AS v, a.w
        |  FROM el a JOIN el b ON a.z = b.z AND a.nb < b.nb),
        |miss AS (
        |  SELECT c.u, c.v, c.w FROM cand c
        |  WHERE NOT EXISTS (SELECT 1 FROM und e WHERE e.u = c.u AND e.v = c.v)),
        |sc AS (
        |  SELECT u, v, CAST(COUNT(*) AS BIGINT) AS n_common,
        |    round(CAST(SUM(w) AS DOUBLE), 6) AS score
        |  FROM miss GROUP BY 1, 2 HAVING COUNT(*) >= 3)
        |SELECT u, v, n_common, score FROM sc
        |ORDER BY score DESC, u, v LIMIT 50""".stripMargin,

    // the gr3 candidate enumeration without weights; true endpoint
    // degrees join back; |common|/(du+dv-|common|) on exact BIGINTs
    "gr4_jaccard" ->
      """WITH und AS (
        |  SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
        |                  greatest(a.l_partkey, b.l_partkey) AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
        |deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
        |  SELECT u AS node FROM und UNION ALL SELECT v FROM und) GROUP BY 1),
        |centers AS (SELECT node AS z FROM deg WHERE deg >= 2 AND deg <= 90),
        |adj AS (SELECT u AS z, v AS nb FROM und
        |        UNION ALL SELECT v, u FROM und),
        |el AS (SELECT adj.z, adj.nb FROM adj JOIN centers c ON c.z = adj.z),
        |cand AS (
        |  SELECT a.nb AS u, b.nb AS v
        |  FROM el a JOIN el b ON a.z = b.z AND a.nb < b.nb),
        |miss AS (
        |  SELECT c.u, c.v FROM cand c
        |  WHERE NOT EXISTS (SELECT 1 FROM und e WHERE e.u = c.u AND e.v = c.v)),
        |sc AS (
        |  SELECT u, v, CAST(COUNT(*) AS BIGINT) AS n_common
        |  FROM miss GROUP BY 1, 2 HAVING COUNT(*) >= 3),
        |wd AS (
        |  SELECT sc.u, sc.v, sc.n_common, du.deg AS deg_u, dv.deg AS deg_v
        |  FROM sc JOIN deg du ON du.node = sc.u JOIN deg dv ON dv.node = sc.v)
        |SELECT u, v, n_common, deg_u, deg_v,
        |  round(CAST(n_common AS DOUBLE) /
        |    CAST(deg_u + deg_v - n_common AS DOUBLE), 9) AS score
        |FROM wd ORDER BY score DESC, u, v LIMIT 50""".stripMargin
  )
}
