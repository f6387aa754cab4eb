package graft

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** The measurement tools over the registered queries, one main:
  *  - `time <sfDir> <rounds> <query> [query ...]`: [[Bench.runShard]] with no
  *    round budget and no demotion; prints median and min seconds, no
  *    contract line. pipe2/d16 at sf0.1 on local[32] need SPARK_DRIVER_MEM=16g.
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
        time(sfDir, rounds.toInt, queryNames(names))
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

  private def withSession(body: SparkSession => Seq[String]): Seq[String] = {
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

  private def time(sfDir: String, rounds: Int, names: Vector[String]): Seq[String] = {
    val res = Bench.runShard(names, sfDir, rounds, budgetSecs = Double.MaxValue,
      demoteSecs = Double.MaxValue, partialSink = None)
    println(f"sentinel [${res.sentinelBefore}%.3f, ${res.sentinelAfter}%.3f]")
    res.stats.foreach { s =>
      if (s.rounds == 0) println(s"${s.name} FAILED")
      else println(f"${s.name}%-24s med=${s.med}%8.3f min=${s.min}%8.3f rounds=${s.rounds}")
    }
    res.stats.filter(_.rounds == 0).map(_.name)
  }

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
