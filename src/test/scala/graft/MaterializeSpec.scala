package graft

import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.execution.LogicalRDD

import graft.operators.{Graph, TimeSeries}

/** `Graft.materialize` cuts the logical plan but keeps RDD lineage: a
  * frame whose materialized blocks are lost between build and action (what
  * executor loss does) must recompute the same rows, not fail. Inputs are
  * literal frames, so each build runs a few small jobs. */
class MaterializeSpec extends SparkSpec {

  import spark.implicits._

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("materialize cuts the logical plan and keeps the rows") {
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
      .where($"id" > 1L)
    val m = Graft.materialize(df)
    assert(m.queryExecution.analyzed.isInstanceOf[LogicalRDD])
    assert(m.schema == df.schema)
    assert(rows(m) == rows(df))
  }

  private val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L),
    (2L, 4L), (5L, 6L)).toDF("s", "d")
  private val bipartite = Seq((1L, 10L), (1L, 11L), (2L, 10L), (3L, 12L),
    (2L, 12L)).toDF("l", "r")
  private val trans = Seq(("a", "b", 0.5), ("a", "a", 0.5), ("b", "a", 1.0))
    .toDF("from_type", "to_type", "prob")

  private val builders: Seq[(String, () => DataFrame)] = Seq(
    "hits" -> (() => Graph.hits(bipartite, "l", "r", iters = 3)),
    "kHopReach" -> (() => Graph.kHopReach(edges, "s", "d", hops = 3)),
    "steadyState" -> (() => TimeSeries.steadyState(trans, "from_type",
      "to_type", "prob", iters = 4)),
    "triangleCounts" -> (() => Graph.triangleCounts(edges, "s", "d")))

  for ((name, build) <- builders)
    test(s"$name recomputes the same rows after its blocks are dropped") {
      val expected = rows(build())
      val df = build()
      assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
        s"$name materialized nothing — the drop below would test nothing")
      GraftBridge.dropRddBlocks(spark)
      assert(rows(df) == expected)
    }
}
