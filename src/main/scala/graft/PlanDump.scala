package graft

/** Writes `.explain("formatted")` output for named queries to files —
  * the plan artifacts an optimization round commits under `plans/`
  * (judge-checkable evidence for plan-shape claims).
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <suffix> [query ...]
  * Writes <outDir>/<query>_<suffix>.txt per query (all queries when no
  * names are given). The plan is the pre-execution formatted explain of
  * the final query. Builders that call `Graft.materialize` run those
  * jobs while the query is built, and their plan shows the materialized
  * frames as scans.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: PlanDump <sfDir> <outDir> <suffix> [query ...]")
    val Array(sfDir, outDir, suffix) = args.take(3)
    val names =
      if (args.length > 3) args.drop(3).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = Graft.session("plandump")
    val dir = java.nio.file.Paths.get(outDir)
    java.nio.file.Files.createDirectories(dir)
    names.foreach { q =>
      try {
        val df = SparkEntry.queries(q)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(dir.resolve(s"${q}_$suffix.txt"),
          plan.getBytes("UTF-8"))
        println(s"$q ok")
      } catch {
        case e: Throwable =>
          println(s"$q ERROR ${String.valueOf(e.getMessage).take(120)}")
      }
    }
    spark.stop()
  }
}
