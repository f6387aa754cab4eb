package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{PlanFacts, SparkSpec}

/** Bucketed co-located joins elide shuffles. */
class BucketingSpec extends SparkSpec {

  import spark.implicits._

  private def shuffleExchanges(df: DataFrame): Int =
    PlanFacts(df.queryExecution.executedPlan).shuffleExchanges

  override def beforeAll(): Unit = {
    super.beforeAll()
    // stale warehouse dirs survive across JVMs while the in-memory catalog
    // does not — drop both the catalog entry and the location
    Seq("b_facts", "b_dims").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = java.nio.file.Paths.get("spark-warehouse", t)
      if (java.nio.file.Files.exists(loc)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(loc).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
      }
    }
  }

  test("matching buckets join with zero shuffle exchanges") {
    val facts = (1 to 1000).map(i => (i % 50, s"f$i")).toDF("k", "payload")
    val dims = (0 until 50).map(i => (i, s"dim$i")).toDF("k", "label")
    Bucketing.writeBucketed(facts, "b_facts", "k", 8)
    Bucketing.writeBucketed(dims, "b_dims", "k", 8)

    val joined = Bucketing.bucketedJoin(spark, "b_facts", "b_dims", "k")
    assert(joined.count() == 1000)
    assert(shuffleExchanges(joined) == 0,
      PlanFacts.finalPlan(joined.queryExecution.executedPlan).take(2000))

    // the same join on unbucketed frames shuffles (broadcast disabled to
    // expose the exchange)
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plain = facts.join(dims, "k")
      assert(shuffleExchanges(plain) > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
  }

  test("bucketed groupBy on the bucket key avoids the aggregation shuffle") {
    val agg = spark.table("b_facts").groupBy("k").count()
    assert(agg.count() == 50)
    assert(shuffleExchanges(agg) == 0)
  }

  test("compactionPlan: next-fit bins, one-file overflow, giant files") {
    import org.apache.spark.sql.functions.col
    // sizes 3,3,3 on target 5: bin 0 holds {1,2} (6 ≥ 5 closes it), 3 → bin 1
    val files = Seq((1L, 3L), (2L, 3L), (3L, 3L)).toDF("id", "size")
    val got = Bucketing.compactionPlan(files, "id", "size", targetBytes = 5L)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got == Map(1L -> ((0L, 6L, 2L)), 2L -> ((0L, 6L, 2L)),
      3L -> ((1L, 3L, 1L))))
    // a giant file spans targets: bin ids stay monotone, may skip
    val giant = Seq((1L, 12L), (2L, 2L)).toDF("id", "size")
    val g = Bucketing.compactionPlan(giant, "id", "size", 5L)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(g == Map(1L -> 0L, 2L -> 2L))   // 12 // 5 = 2 opens bin 2
    // negative sizes fail loudly (the sa6 monotone-prefix rule)
    val bad = Seq((1L, -1L)).toDF("id", "size")
    intercept[Exception](
      Bucketing.compactionPlan(bad, "id", "size", 5L).collect())
    intercept[IllegalArgumentException](
      Bucketing.compactionPlan(files, "id", "size", 0L))
  }

  test("zoneMapAudit: clustered layout → zero overlaps, shuffled → full") {
    import spark.implicits._
    // 12 rows, 3 files of 4; value == layout key → disjoint bands
    val rows = (1L to 12L).map(i => (i, i)).toDF("id", "v")
    val good = Bucketing.zoneMapAudit(rows, Seq("id"), "v", 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(good == Map(0L -> ((4L, 1L, 4L, 0L)), 1L -> ((4L, 5L, 8L, 0L)),
      2L -> ((4L, 9L, 12L, 0L))))
    // layout uncorrelated with v (id mod 3 stripes v across every file):
    // every file's band overlaps every other file's
    val striped = (1L to 12L).map(i => (i % 3 * 100 + i, i)).toDF("id", "v")
    val bad = Bucketing.zoneMapAudit(striped, Seq("id"), "v", 4)
      .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(bad.values.toSet == Set(2L))
    // null values are excluded from the layout entirely
    val withNull = (Seq((0L, Option.empty[Long])) ++
      (1L to 4L).map(i => (i, Some(i)))).toDF("id", "v")
    assert(Bucketing.zoneMapAudit(withNull, Seq("id"), "v", 2)
      .agg(org.apache.spark.sql.functions.sum("n_rows")).head.getLong(0) == 4L)
    intercept[IllegalArgumentException](
      Bucketing.zoneMapAudit(rows, Seq.empty, "v", 4))
    intercept[IllegalArgumentException](
      Bucketing.zoneMapAudit(rows, Seq("id"), "v", 0))
  }

  test("pruneSimulation counts band-intersecting files per predicate") {
    import spark.implicits._
    val files = Seq((0L, 1L, 10L), (1L, 11L, 20L), (2L, 21L, 30L))
      .toDF("file_id", "lo", "hi")
    val preds = Seq((1, 5L, 15L),   // spans files 0 and 1
      (2, 21L, 21L),                // point inside file 2
      (3, 50L, 60L))                // nothing
      .toDF("pred_id", "p_lo", "p_hi")
    val got = Bucketing.pruneSimulation(files, preds)
      .collect().map(r => r.getInt(0) -> ((r.getLong(3), r.getDouble(5))))
      .toMap
    assert(got(1) == ((2L, 0.666667)))
    assert(got(2) == ((1L, 0.333333)))
    assert(got(3) == ((0L, 0.0)))
  }

  test("layoutPruneCompare: clustered layout disjoint, scrambled overlaps") {
    import spark.implicits._
    // k interleaves v so a k-ordered layout's 2-row file bands all
    // intersect each other, while the v-ordered layout is disjoint
    val rows = Seq((1L, 1L), (2L, 5L), (3L, 2L), (4L, 6L),
      (5L, 3L), (6L, 7L), (7L, 4L), (8L, 8L)).toDF("k", "v")
    val got = Bucketing.layoutPruneCompare(rows,
        Seq("by_v" -> Seq("v"), "by_k" -> Seq("k")), "v", rowsPerFile = 2)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    assert(got("by_v") == ((4L, 4L, 0.0, 1.0)))
    assert(got("by_k") == ((4L, 0L, 3.0, 0.0)))
    intercept[IllegalArgumentException](
      Bucketing.layoutPruneCompare(rows, Nil, "v", 2))
    intercept[IllegalArgumentException](
      Bucketing.layoutPruneCompare(rows,
        Seq("a" -> Seq("v"), "a" -> Seq("k")), "v", 2))
  }
}
