package graft

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.FormattedMode

/** The measurement tools over the registered queries, one main:
  *  - `time <sfDir> <rounds> <query> [query ...]`: [[Bench.runShard]] with no
  *    round budget and no demotion; prints median and min seconds, and the
  *    Janino compiles and compile milliseconds of one cold run made first
  *    on a session of its own ([[compiles]]); no contract line. pipe2/d16
  *    at sf0.1 on local[32] need SPARK_DRIVER_MEM=16g.
  *  - `plan [-v] [sfDir] [query ...]`: runs each query and prints its
  *    [[PlanFacts]] line; `-v` adds the final plan.
  *  - `dump <sfDir> <outDir> <suffix> [query ...]`: writes each query's
  *    pre-execution formatted explain to `<outDir>/<query>_<suffix>.txt`,
  *    the `plans/` artifacts (frames a builder materializes show as scans).
  * `plan` and `dump` take every query when none is named. An unknown name
  * fails before a session starts; a failed query gets an ERROR or FAILED
  * line, the others still run, and the tool exits non-zero. */
object Tools {

  def main(args: Array[String]): Unit = {
    val failed = args.toList match {
      case "time" :: sfDir :: rounds :: names if names.nonEmpty =>
        val resolved = queryNames(names)
        time(sfDir, rounds.toInt, resolved, withSession(compiles(_, sfDir, resolved)))
      case "plan" :: rest =>
        val (verbose, positional) = rest.partition(_ == "-v")
        val names = queryNames(positional.drop(1))
        val sfDir = positional.headOption.getOrElse(SparkEntry.smokeSfDir)
        withSession(plan(_, sfDir, names, verbose.nonEmpty))
      case "dump" :: sfDir :: outDir :: suffix :: names =>
        val resolved = queryNames(names)
        withSession(dump(_, sfDir, outDir, suffix, resolved))
      case _ => throw new IllegalArgumentException("usage: Tools time <sfDir> <rounds> " +
        "<query> [query ...] | plan [-v] [sfDir] [query ...] | dump <sfDir> <outDir> <suffix> [query ...]")
    }
    if (failed.nonEmpty)
      throw new IllegalStateException(s"failed queries: ${failed.mkString(",")}")
  }

  /** The queries `requested` names, in order, or every registered query,
    * sorted, when it names none. An unknown name throws. */
  def queryNames(requested: Seq[String]): Vector[String] = {
    val unknown = requested.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    if (requested.isEmpty) SparkEntry.queries.keys.toVector.sorted else requested.toVector
  }

  private def withSession[A](body: SparkSession => A): A = {
    val spark = Graft.session("graft-tools")
    try body(spark) finally spark.stop()
  }

  /** Prints the line `body` returns for each query, or an ERROR line when
    * it throws; returns the names that failed. */
  private def eachQuery(names: Seq[String])(body: String => String): Seq[String] =
    names.filter { q =>
      try { println(body(q)); false }
      catch { case NonFatal(e) =>
        println(f"$q%-22s ERROR ${String.valueOf(e.getMessage).take(120)}"); true }
    }

  /** Each query's Janino compiles and their milliseconds over one run on
    * `spark`, in order: the deltas of Spark's compile counter
    * (`CodegenMetrics.METRIC_COMPILATION_TIME`) and of the compile time the
    * same step adds to (`CodeGenerator.compileTime`). On a fresh session
    * that is the code generation a query's first run pays; a failed run
    * counts what it compiled before it failed. */
  private[graft] def compiles(spark: SparkSession, sfDir: String,
      names: Seq[String]): Map[String, (Long, Double)] =
    names.map { q =>
      val (c0, ns0) = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
      try SparkEntry.queries(q)(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case NonFatal(_) => () } // the timed rounds report it FAILED
      spark.catalog.clearCache()
      q -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0,
        (CodeGenerator.compileTime - ns0) / 1e6)
    }.toMap

  private def time(sfDir: String, rounds: Int, names: Vector[String],
      cold: Map[String, (Long, Double)]): Seq[String] = {
    val res = Bench.runShard(names, sfDir, rounds, budgetSecs = Double.MaxValue,
      demoteSecs = Double.MaxValue, partialSink = None)
    println(f"sentinel [${res.sentinelBefore}%.3f, ${res.sentinelAfter}%.3f]")
    res.stats.foreach { s =>
      if (s.rounds == 0) println(s"${s.name} FAILED")
      else println(timeLine(s, cold(s.name)))
    }
    res.stats.filter(_.rounds == 0).map(_.name)
  }

  private[graft] def timeLine(s: Bench.QueryStat, cold: (Long, Double)): String =
    f"${s.name}%-24s med=${s.med}%8.3f min=${s.min}%8.3f rounds=${s.rounds}" +
      f" compiles=${cold._1}%d compile_ms=${cold._2}%.1f"

  private[graft] def plan(spark: SparkSession, sfDir: String, names: Seq[String],
      verbose: Boolean): Seq[String] =
    eachQuery(names) { q =>
      val qe = SparkEntry.queries(q)(spark, sfDir).queryExecution
      qe.toRdd.count() // under AQE the plan is only final once it has run
      val line = f"$q%-22s ${PlanFacts(qe.executedPlan).line}"
      if (verbose) line + "\n" + PlanFacts.finalPlan(qe.executedPlan) else line
    }

  private[graft] def dump(spark: SparkSession, sfDir: String, outDir: String,
      suffix: String, names: Seq[String]): Seq[String] = {
    val dir = Files.createDirectories(Paths.get(outDir))
    eachQuery(names) { q =>
      val plan = SparkEntry.queries(q)(spark, sfDir).queryExecution.explainString(FormattedMode)
      Files.write(dir.resolve(s"${q}_$suffix.txt"), plan.getBytes("UTF-8"))
      s"$q ok"
    }
  }
}
