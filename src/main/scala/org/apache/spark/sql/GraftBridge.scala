/*
 * Bridge into Spark's private[sql] Column↔Expression converters — the
 * standard pattern third-party Spark extension libraries use to attach
 * native Catalyst expressions to the public Column API.
 */
package org.apache.spark.sql

import java.util.concurrent.TimeUnit

import scala.concurrent.duration.Duration

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.ThreadUtils

object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** A new session over `spark`'s context and shared state (cache manager
    * included) that starts from a copy of its conf, functions and temp
    * views; a conf set on either never reaches the other. */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** Drain the async SparkListener bus — lets tests make deterministic
    * negative assertions ("no job ran") without sleeping. */
  def waitForListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Cancel every active job carrying `tag` and return, once the scheduler
    * has failed them (at most 60 s later), how many there were (0 on a
    * timeout) — the public `SparkContext.cancelJobsWithTag` only posts the
    * request. */
  def cancelJobsWithTag(spark: SparkSession, tag: String): Int =
    scala.util.Try(ThreadUtils.awaitResult(
      spark.sparkContext.cancelJobsWithTagWithFuture(tag, "a sibling fan-out task failed"),
      Duration(60, TimeUnit.SECONDS)).size).getOrElse(0)

  /** True when the session's SQL cache manager holds no cached plans —
    * lets tests assert that operators release every `Dataset.cache()` they
    * take. `graft.Graft.materialize` persists at the RDD level and does
    * not register here, so scoped-cache leaks are isolated from
    * materialized frames. */
  def noCachedPlans(spark: SparkSession): Boolean =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.isEmpty

  /** The body of `graft.Graft.materialize`: execute `df`'s physical plan
    * once as one SQL execution (as `Dataset.localCheckpoint` does), keep
    * its rows persisted at `MEMORY_AND_DISK` (the level `localCheckpoint`
    * uses), and return a frame whose logical plan is a `LogicalRDD` over
    * them. The RDD keeps its lineage, so a lost block is recomputed. */
  def persistedPlan(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val qe = ds.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("materialize")) {
      val rows = qe.executedPlan.execute().map(_.copy())
        .persist(StorageLevel.MEMORY_AND_DISK)
      rows.count()
      classic.Dataset.ofRows(ds.sparkSession,
        LogicalRDD.fromDataset(rows, ds, ds.isStreaming))
    }
  }

  /** Drop every block of every persisted RDD, leaving each RDD's storage
    * level set — what executor loss does to cached and materialized
    * data. */
  def dropRddBlocks(spark: SparkSession): Unit = {
    val master = spark.sparkContext.env.blockManager.master
    spark.sparkContext.getPersistentRDDs.keys.foreach(
      id => master.removeRdd(id, blocking = true))
  }
}
