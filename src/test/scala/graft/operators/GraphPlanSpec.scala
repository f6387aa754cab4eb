package graft.operators

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/**
 * Pins the LINEAR-plan property the r12 lineage fixes bought: the
 * iterative operators' optimized plans must grow at most linearly in the
 * iteration count. A reintroduced second self-reference per round grows
 * the unrolled plan ~2^iters (gr8_hits held 368 parquet scans, q19 210,
 * mm10 240 before the fixes), which reads here as a plan-size RATIO far
 * above the linear bound when iters doubles: linear growth gives
 * size(2k) ≤ 2·size(k) (+ slack for the constant prologue), exponential
 * gives ≥ 2^k×. Operators that materialize per round (hits,
 * steadyState, kHopReach, via Graft.materialize) cut the logical plan to
 * ~constant size per round and pass the same bound trivially;
 * duplicateClusters stays fully lazy and linear.
 *
 * It also pins the triangle kernels' join shape: every join in the
 * plans of triangleCounts and clusteringCoefficient is a pure equi-join,
 * so a wedge enumeration (a residual-ordered self-join closed by a
 * left-semi join) cannot come back unnoticed.
 *
 * Those builders run their materialization jobs at build time, so this
 * spec EXECUTES small jobs — inputs are k-row literal frames, not corpus
 * data.
 */
class GraphPlanSpec extends SparkSpec {

  private def planSize(df: DataFrame): Int = {
    var n = 0
    df.queryExecution.optimizedPlan.foreach(_ => n += 1)
    n
  }

  private def assertLinear(name: String, small: Int, large: Int): Unit =
    assert(large <= 3 * small + 10,
      s"$name optimized plan grew superlinearly in iters: " +
        s"$small nodes -> $large nodes when iters doubled — a second " +
        "self-reference per round is back (the 2^iters lineage class " +
        "r12 removed); restore the single-reference/materialize form")

  test("hits plan is linear in iters") {
    import spark.implicits._
    val e = Seq((1L, 10L), (1L, 11L), (2L, 10L), (3L, 12L), (2L, 12L))
      .toDF("l", "r")
    assertLinear("hits",
      planSize(Graph.hits(e, "l", "r", iters = 2)),
      planSize(Graph.hits(e, "l", "r", iters = 4)))
  }

  test("steadyState plan is linear in iters") {
    import spark.implicits._
    val trans = Seq(("a", "b", 0.5), ("a", "a", 0.5), ("b", "a", 1.0))
      .toDF("from_type", "to_type", "prob")
    assertLinear("steadyState",
      planSize(TimeSeries.steadyState(trans, "from_type", "to_type",
        "prob", iters = 3)),
      planSize(TimeSeries.steadyState(trans, "from_type", "to_type",
        "prob", iters = 6)))
  }

  test("duplicateClusters plan is linear in iters") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("i", "j")
    assertLinear("duplicateClusters",
      planSize(Dedup.duplicateClusters(pairs, "i", "j", iters = 3)),
      planSize(Dedup.duplicateClusters(pairs, "i", "j", iters = 6)))
  }

  test("kHopReach plan is linear in hops") {
    import spark.implicits._
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("s", "d")
    assertLinear("kHopReach",
      planSize(Graph.kHopReach(e, "s", "d", hops = 2)),
      planSize(Graph.kHopReach(e, "s", "d", hops = 4)))
  }

  test("triangle kernels plan no semi-join and no residual join condition") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.catalyst.plans.logical.Join
    // a wedge enumeration pairs out-edges under a `rank < rank` residual
    // and closes the wedges with a left-semi join; neither may appear
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
      .toDF("s", "d")
    for ((name, df) <- Seq(
        "triangleCounts" -> Graph.triangleCounts(e, "s", "d"),
        "clusteringCoefficient" -> Graph.clusteringCoefficient(e, "s", "d"))) {
      val joins = df.queryExecution.optimizedPlan.collect { case j: Join => j }
      assert(joins.nonEmpty, s"$name planned no join at all")
      val bad = joins.filter(j => j.joinType == LeftSemi ||
        ExtractEquiJoinKeys.unapply(j).forall(_._4.nonEmpty))
      assert(bad.isEmpty,
        s"$name plans ${bad.size} semi/residual join(s) — the wedge " +
          "enumeration is back; intersect the oriented out-lists instead:\n" +
          bad.map(_.simpleString(200)).mkString("\n"))
    }
  }
}
