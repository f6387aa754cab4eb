package graft.operators

import graft.SparkSpec

/** PageRank semantics: hand-computed fixed-point recurrence, mass
  * conservation, structural ordering. */
class GraphSpec extends SparkSpec {

  import spark.implicits._

  private def ranks(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("pageRank matches the hand-computed fixed-point recurrence on a line graph") {
    // 1 <-> 2 <-> 3 (symmetrized): deg(1)=deg(3)=1, deg(2)=2.
    // Scale = 1e12, n = 3: pr0 = 333333333333 each. One iteration, d = 85%:
    //   teleport = (150000000000) div 3 = 50000000000
    //   pr1(1) = 50000000000 + (85 * (333333333333 div 2)) div 100
    //          = 50000000000 + (85 * 166666666666) div 100 = 191666666666
    //   pr1(2) = 50000000000 + (85 * 666666666666) div 100 = 616666666666
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("s", "d")
    val got = ranks(Graph.pageRank(edges, "s", "d", dampingPct = 85, iters = 1))
    assert(got == Map(1L -> 191666666666L, 2L -> 616666666666L,
      3L -> 191666666666L))
  }

  test("pageRank conserves mass (within truncation) and ranks the hub highest") {
    // star: 0 at the center of 1..4, symmetrized
    val edges = (1L to 4L).flatMap(i => Seq((0L, i), (i, 0L))).toDF("s", "d")
    val got = ranks(Graph.pageRank(edges, "s", "d", dampingPct = 85, iters = 3))
    assert(got.size == 5)
    // each fixed-point op truncates < 1 unit of 1e-12; 3 rounds x 5
    // vertices x a few ops stays far under 1e-9 of lost mass
    assert(math.abs(got.values.sum - Graph.Scale) < 1000L)
    assert((1L to 4L).forall(i => got(0L) > got(i)))
    assert((1L to 4L).forall(i => got(i) == got(1L))) // leaves identical
  }

  test("pageRank dedups repeated edges and rejects bad parameters") {
    val edges = Seq((1L, 2L), (1L, 2L), (2L, 1L)).toDF("s", "d")
    // two vertices in a 2-cycle: pr stays exactly uniform at Scale/2
    // regardless of the duplicated edge (no truncation: every div is exact)
    val got = ranks(Graph.pageRank(edges, "s", "d", iters = 2))
    assert(got == Map(1L -> Graph.Scale / 2, 2L -> Graph.Scale / 2))
    intercept[IllegalArgumentException](
      Graph.pageRank(edges, "s", "d", iters = 0))
    intercept[IllegalArgumentException](
      Graph.pageRank(edges, "s", "d", dampingPct = 100))
  }

  test("triangleCounts: each triangle once per node, junk edges ignored") {
    // K4 minus edge (3,4): triangles {1,2,3} and {1,2,4}; plus noise —
    // a duplicate reversed edge, a self-loop, and a triangle-free edge
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (2L, 1L),           // reverse duplicate of (1,2)
      (5L, 5L),           // self-loop: dropped
      (6L, 7L))           // no triangle: nodes absent from output
      .toDF("s", "d")
    val got = Graph.triangleCounts(edges, "s", "d")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 1L, 4L -> 1L))
    // a clique counts C(n-1, 2) per node: K4 complete → 3 each
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("s", "d")
    val full = Graph.triangleCounts(k4, "s", "d")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(full == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // triangle-free graph → empty output
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("s", "d")
    assert(Graph.triangleCounts(path, "s", "d").count() == 0)
  }

  test("hits: shared product out-ranks, scores stay L1-normalized") {
    // c1→{p1,p2}, c2→{p1}: p1 draws from both hubs, c1 spans both auths
    val e = Seq((10L, 100L), (10L, 200L), (20L, 100L)).toDF("c", "p")
    val got = Graph.hits(e, "c", "p", iters = 2)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    // round 2 auth totals are exact dyadics: p1 = 1/1.6, p2 = 0.6/1.6
    assert(got(("auth", 100L)) == 0.625 && got(("auth", 200L)) == 0.375)
    assert(got(("hub", 10L)) == 0.615384615 &&
      got(("hub", 20L)) == 0.384615385)
    assert(math.abs(got(("hub", 10L)) + got(("hub", 20L)) - 1.0) < 1e-8)
    intercept[IllegalArgumentException](Graph.hits(e, "c", "p", iters = 0))
  }

  test("clusteringCoefficient: cliques are 1, bridges 0, deg-1 excluded") {
    // K4 complete: every node deg 3, 3 triangles → cc = 2·3/(3·2) = 1
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("s", "d")
    val full = Graph.clusteringCoefficient(k4, "s", "d")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3)))).toMap
    assert(full == Map(1L -> ((3L, 3L, 1.0)), 2L -> ((3L, 3L, 1.0)),
      3L -> ((3L, 3L, 1.0)), 4L -> ((3L, 3L, 1.0))))
    // path a-b-c: the center has deg 2 and no triangle → cc 0;
    // the endpoints (deg 1) are excluded entirely
    val path = Seq((1L, 2L), (2L, 3L)).toDF("s", "d")
    val ctr = Graph.clusteringCoefficient(path, "s", "d")
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(ctr == Map(2L -> 0.0))
    // triangle + pendant: node 1 has deg 3 (neighbors 2,3,4), 1 triangle
    // → cc = 2/(3·2) = 0.333333
    val pend = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L)).toDF("s", "d")
    val got = Graph.clusteringCoefficient(pend, "s", "d")
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(got(1L) == 0.333333 && got(2L) == 1.0 && got(3L) == 1.0)
    assert(!got.contains(4L)) // deg 1
  }

  /** A seeded random edge list with every shape the triangle kernel
    * must survive: a random core (degree ties fall back to node id), a
    * K4 whose four nodes tie on degree, a hub wired to most of the core,
    * a triangle-free bipartite component, reversed duplicates,
    * self-loops and null endpoints. */
  private def randomGraph(seed: Int): Seq[(java.lang.Long, java.lang.Long)] = {
    val rnd = new scala.util.Random(seed)
    val core = for (u <- 0L until 24L; v <- u + 1 until 24L
      if rnd.nextDouble() < 0.25) yield (u, v)
    val k4 = for (u <- 300L to 303L; v <- u + 1 to 303L) yield (u, v)
    val hub = (0L until 24L).filter(_ => rnd.nextDouble() < 0.8)
      .map(v => (100L, v)) ++ (101L to 106L).map(v => (100L, v))
    val bipartite = for (u <- 200L to 203L; v <- 210L to 212L) yield (u, v)
    val edges = core ++ k4 ++ hub ++ bipartite
    val noise = rnd.shuffle(edges).take(edges.size / 4).map(_.swap) ++
      Seq((7L, 7L), (300L, 300L), (100L, 100L))
    val boxed = (edges ++ noise).map { case (u, v) =>
      (java.lang.Long.valueOf(u), java.lang.Long.valueOf(v)) }
    rnd.shuffle(boxed ++ Seq((null, 5L: java.lang.Long),
      (3L: java.lang.Long, null), (null, null)))
  }

  /** Plain Scala enumeration over the canonical graph: per-node degree
    * and the triangles through it, every u < v < w triple tested. */
  private def bruteForce(edges: Seq[(java.lang.Long, java.lang.Long)])
      : (Map[Long, Long], Map[Long, Long]) = {
    val und = edges.collect { case (a, b) if a != null && b != null &&
        a.longValue != b.longValue =>
      (math.min(a.longValue, b.longValue), math.max(a.longValue, b.longValue))
    }.toSet
    val nbrs = und.toSeq.flatMap { case (u, v) => Seq(u -> v, v -> u) }
      .groupBy(_._1).map { case (n, ps) => n -> ps.map(_._2).toSet }
    val deg = nbrs.map { case (n, ns) => n -> ns.size.toLong }
    val tris = for ((u, v) <- und.toSeq; w <- nbrs(u) & nbrs(v) if w > v)
      yield Seq(u, v, w)
    val tri = tris.flatten.groupBy(identity).map { case (n, ns) =>
      n -> ns.size.toLong }
    (deg, tri)
  }

  test("triangleCounts and clusteringCoefficient match brute-force " +
      "enumeration on seeded random graphs") {
    for (seed <- 1 to 3) {
      val edges = randomGraph(seed)
      val (deg, tri) = bruteForce(edges)
      assert(tri.nonEmpty && (200L to 212L).forall(n => !tri.contains(n)))
      val df = edges.toDF("s", "d")
      val gotTri = Graph.triangleCounts(df, "s", "d")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(gotTri == tri, s"seed $seed")
      val wantCc = deg.collect { case (n, d) if d >= 2 =>
        val t = tri.getOrElse(n, 0L)
        val cc = BigDecimal(2.0 * t.toDouble / (d * (d - 1)).toDouble)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        n -> ((d, t, cc))
      }
      val gotCc = Graph.clusteringCoefficient(df, "s", "d")
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
          r.getDouble(3)))).toMap
      assert(gotCc == wantCc, s"seed $seed")
    }
  }

  test("adamicAdar: 1/ln weights, adjacency exclusion, degree cap") {
    // centers 10 (deg 3) and 20 (deg 2); 1-2 share both, 1-3/2-3 only 10
    val edges = Seq((10L, 1L), (10L, 2L), (10L, 3L), (20L, 1L), (20L, 2L))
      .toDF("s", "d")
    val got = Graph.adamicAdar(edges, "s", "d",
        maxDegree = 50, minCommon = 2L, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    // (10,20) via centers 1 and 2 (deg 2 each): 2·round9(1/ln 2)
    // (1,2) via centers 10 (deg 3) and 20 (deg 2)
    assert(got == Map(
      (10L, 20L) -> ((2L, 2.88539)),
      (1L, 2L) -> ((2L, 2.352934))))
    // making 1-2 an edge removes it from the candidates
    val withEdge = edges.union(Seq((1L, 2L)).toDF("s", "d"))
    val g2 = Graph.adamicAdar(withEdge, "s", "d", 50, 2L, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!g2.contains((1L, 2L)) && g2.contains((10L, 20L)))
    // degree cap 2 excludes center 10 (deg 3): its exclusive wedges
    // (1,3)/(2,3) vanish; (1,2) survives via center 20, (10,20) via 1/2
    val capped = Graph.adamicAdar(edges, "s", "d", 2, 1L, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(capped == Map((10L, 20L) -> 2L, (1L, 2L) -> 1L))
    intercept[IllegalArgumentException](Graph.adamicAdar(edges, "s", "d", 1, 1L, 5))
    intercept[IllegalArgumentException](Graph.adamicAdar(edges, "s", "d", 5, 0L, 5))
    intercept[IllegalArgumentException](Graph.adamicAdar(edges, "s", "d", 5, 1L, 0))
  }

  test("neighborJaccard scores |common|/(du+dv-common); adjacents excluded") {
    import spark.implicits._
    // star witnesses: 1 and 2 share neighbors {10, 11}; 1-2 not adjacent.
    // deg(1) = deg(2) = 2 → J = 2/(2+2-2) = 1.0
    // 1 and 10 ARE adjacent → never a candidate pair.
    val edges = Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L),
      (3L, 10L)).toDF("s", "d")
    val got = Graph.neighborJaccard(edges, "s", "d",
        maxDegree = 10, minCommon = 1L, k = 10)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    // pairs through shared centers 10 (deg 3) and 11 (deg 2)
    assert(got((1L, 2L)) == ((2L, 2L, 2L, 1.0)))
    // 1-3 share only center 10: J = 1/(2+1-1) = 0.5; same for 2-3
    assert(got((1L, 3L)) == ((1L, 2L, 1L, 0.5)))
    assert(got((2L, 3L)) == ((1L, 2L, 1L, 0.5)))
    // non-adjacent (10, 11) is witnessed by centers 1 and 2: J = 2/3
    assert(got((10L, 11L)) ==
      ((2L, 3L, 2L, BigDecimal(2.0 / 3.0)
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble)))
    // capping centers at degree 2 removes node 10 as a witness:
    // 1-3 / 2-3 lose their only witness; 1-2 keeps center 11, and
    // (10, 11) keeps its degree-2 witnesses 1 and 2
    val capped = Graph.neighborJaccard(edges, "s", "d",
        maxDegree = 2, minCommon = 1L, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(capped == Map((1L, 2L) -> 1L, (10L, 11L) -> 2L))
    intercept[IllegalArgumentException](
      Graph.neighborJaccard(edges, "s", "d", 1, 1L, 5))
  }

  test("kCorePeel cascades: a chain peels from the ends inward") {
    import spark.implicits._
    // path 1-2-3-4-5: 2-core is empty, but round 1 only removes the
    // endpoints (deg 1); each round peels the new endpoints
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("s", "d")
    def nodes(iters: Int): Set[Long] =
      Graph.kCorePeel(path, "s", "d", k = 2, iters = iters)
        .collect().map(_.getLong(0)).toSet
    assert(nodes(1) == Set(2L, 3L, 4L))
    // round 2 drops 2 and 4; node 3 is left edgeless → gone too
    assert(nodes(2) == Set.empty[Long])
    // triangle + tail: the triangle IS a 2-core, the tail peels; the
    // converged rows all carry in_core = true
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 9L)).toDF("s", "d")
    val got = Graph.kCorePeel(tri, "s", "d", k = 2, iters = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2))))
      .toMap
    assert(got == Map(1L -> ((2L, true)), 2L -> ((2L, true)),
      3L -> ((2L, true))))
    // a bound that binds reports the partial peel with in_core = false
    val partial = Graph.kCorePeel(path, "s", "d", k = 2, iters = 1)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(partial == Map(2L -> false, 3L -> true, 4L -> false))
    intercept[IllegalArgumentException](Graph.kCorePeel(path, "s", "d", 1, 3))
    intercept[IllegalArgumentException](Graph.kCorePeel(path, "s", "d", 2, 0))
  }

  test("degreeAssortativity: -1 on a star, null on degree-regular graphs") {
    import spark.implicits._
    // star: every edge joins the deg-4 hub to a deg-1 leaf → r = -1
    val star = (1L to 4L).map(l => (0L, l)).toDF("s", "d")
    val r = Graph.degreeAssortativity(star, "s", "d").head
    assert(r.getLong(0) == 8L && r.getDouble(1) == -1.0)
    // cycle: all degrees equal → zero variance → no coefficient
    val cycle = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("s", "d")
    val c = Graph.degreeAssortativity(cycle, "s", "d").head
    assert(c.getLong(0) == 6L && c.isNullAt(1))
  }

  test("neighborDegreeCurve: star and path knn(k) hand-checked") {
    import spark.implicits._
    // star over 4 leaves: deg-1 leaves all neighbor the deg-4 hub
    // (knn(1) = 4), the hub's 4 neighbors are all leaves (knn(4) = 1)
    val star = (1L to 4L).map(l => (0L, l)).toDF("s", "d")
    val ks = Graph.neighborDegreeCurve(star, "s", "d").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(ks == Map(1L -> ((4L, 4.0)), 4L -> ((4L, 1.0))))
    // path 1-2-3: ends (deg 1) neighbor the middle (deg 2) and the
    // middle's two ends are deg 1 — direction convention counts the
    // middle's endpoint role twice
    val path = Seq((1L, 2L), (2L, 3L)).toDF("s", "d")
    val kp = Graph.neighborDegreeCurve(path, "s", "d").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(kp == Map(1L -> ((2L, 2.0)), 2L -> ((2L, 1.0))))
  }

  test("degreePowerLaw: hand-checked alpha, null on an all-dmin tail") {
    import spark.implicits._
    // star over 4 leaves: center deg 4, leaves deg 1.
    // dmin=1: Σln = ln(4) → α = 1 + 5/1.386294361 = 4.606738
    val star = Seq((10L, 1L), (10L, 2L), (10L, 3L), (10L, 4L)).toDF("s", "d")
    val rows = Graph.degreePowerLaw(star, "s", "d", Seq(1, 4))
      .orderBy("dmin").collect()
    assert(rows.length == 2)
    assert(rows(0).getInt(0) == 1 && rows(0).getLong(1) == 5L &&
      rows(0).getLong(2) == 4L)
    assert(rows(0).getDouble(3) == 4.606738)
    // dmin=4 tail is the single center at exactly dmin: Σln = 0 → null
    assert(rows(1).getLong(1) == 1L && rows(1).isNullAt(3))
    intercept[IllegalArgumentException](
      Graph.degreePowerLaw(star, "s", "d", Nil))
    intercept[IllegalArgumentException](
      Graph.degreePowerLaw(star, "s", "d", Seq(2, 2)))
  }

  test("modularity: disjoint labeled triangles score 0.5; one community " +
      "scores 0") {
    import spark.implicits._
    // two triangles, labels matching the components:
    // Q = 2 * (3/6 - (6/12)^2) = 0.5
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L)).toDF("s", "d")
    val labels = Seq((1L, "a"), (2L, "a"), (3L, "a"),
      (4L, "b"), (5L, "b"), (6L, "b")).toDF("n", "c")
    val r = Graph.modularity(edges, "s", "d", labels, "n", "c").head
    assert(r.getLong(0) == 2L && r.getLong(1) == 6L &&
      r.getDouble(2) == 0.5)
    // everyone in one community: m/m - 1^2 = 0
    val one = labels.withColumn("c",
      org.apache.spark.sql.functions.lit("x"))
    assert(Graph.modularity(edges, "s", "d", one, "n", "c")
      .head.getDouble(2) == 0.0)
  }

  test("richClub: a 4-clique with pendants reads phi = 1 above the " +
      "pendant bar; empty bars null") {
    import spark.implicits._
    // K4 on 1..4 plus pendants 5,6 hanging off node 1
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (1L, 5L), (1L, 6L)).toDF("s", "d")
    val got = Graph.richClub(edges, "s", "d", Seq(0, 2, 9))
      .collect()
    // k=0: all 6 nodes, 8 edges -> 16/30
    assert(got(0).getLong(1) == 6L && got(0).getLong(2) == 8L &&
      got(0).getDouble(3) == 0.533333)
    // k=2: the clique only (degrees 5,3,3,3 > 2) -> 6 edges, phi 1
    assert(got(1).getLong(1) == 4L && got(1).getLong(2) == 6L &&
      got(1).getDouble(3) == 1.0)
    // k=9: nobody qualifies
    assert(got(2).getLong(1) == 0L && got(2).isNullAt(3))
    intercept[IllegalArgumentException](
      Graph.richClub(edges, "s", "d", Seq(2, 2)))
  }

  test("kHopReach: BFS frontiers from the top hub; exhausted hops read " +
      "0 on the densified spine") {
    import spark.implicits._
    // hub 1 with leaves 2,3,4; chain 4-5-6 → frontiers 3, 1, 1, then 0
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (4L, 5L), (5L, 6L))
      .toDF("s", "d")
    val got = Graph.kHopReach(edges, "s", "d", hops = 4)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got == Map(0 -> 1L, 1 -> 3L, 2 -> 1L, 3 -> 1L, 4 -> 0L))
    intercept[IllegalArgumentException](
      Graph.kHopReach(edges, "s", "d", 0))
  }
}
