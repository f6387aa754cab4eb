package graft

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.FormattedMode

/** The tools main: one name resolver in front of every subcommand, the
  * `plan` facts lines and the `dump` explain files. */
class ToolsSpec extends SparkSpec {

  private val sfDir = SparkEntry.smokeSfDir
  private def haveData = new java.io.File(sfDir).isDirectory
  private val subset = Seq("q1_agg", "t1_token_counts", "d7_emb_neardup")

  private def printed(body: => Seq[String]): Seq[String] = {
    val out = new ByteArrayOutputStream()
    val failed = Console.withOut(out)(body)
    assert(failed.isEmpty, s"failed queries: $failed")
    new String(out.toByteArray, "UTF-8").linesIterator.toSeq
  }

  test("an unknown query name fails before any session starts") {
    val dumpDir = Paths.get("target", "tmp", "tools_unknown_dump")
    for (args <- Seq(
        Seq("time", sfDir, "1", "q1_agg", "no_such_query"),
        Seq("plan", sfDir, "q1_agg", "no_such_query"),
        Seq("dump", sfDir, dumpDir.toString, "x", "q1_agg", "no_such_query"))) {
      val e = intercept[IllegalArgumentException](Tools.main(args.toArray))
      assert(e.getMessage.contains("unknown queries: no_such_query"), args)
    }
    intercept[IllegalArgumentException](Tools.main(Array("profile")))
    // a tool that got as far as a session would have stopped the shared one
    assert(!spark.sparkContext.isStopped)
    assert(!Files.exists(dumpDir))
    assert(Tools.queryNames(Nil) == SparkEntry.queries.keys.toVector.sorted)
  }

  test("plan prints one facts line per query") {
    assume(haveData)
    assert(printed(Tools.plan(spark, sfDir, subset, verbose = false)) == Seq(
      "q1_agg                 pushedFilters=0 bhj=0 smj=0 bnl=0 wscg=3 exchange=2 unpartWin=0",
      "t1_token_counts        pushedFilters=0 bhj=0 smj=0 bnl=0 wscg=2 exchange=1 unpartWin=0",
      "d7_emb_neardup         pushedFilters=4 bhj=1 smj=0 bnl=0 wscg=12 exchange=3 unpartWin=0"))
  }

  test("dump writes each query's formatted pre-execution explain") {
    assume(haveData)
    val out = Paths.get("target", "tmp", "tools_dump")
    assert(printed(Tools.dump(spark, sfDir, out.toString, "t", subset)) ==
      subset.map(q => s"$q ok"))
    // expression, lambda-variable and exchange ids grow with every frame
    // the session builds
    def ids(plan: String) =
      plan.replaceAll("(_\\d+)?#\\d+", "#").replaceAll("plan_id=\\d+", "plan_id=")
    for (q <- subset) {
      val want = SparkEntry.queries(q)(spark, sfDir).queryExecution.explainString(FormattedMode)
      val got = new String(Files.readAllBytes(out.resolve(s"${q}_t.txt")), "UTF-8")
      assert(ids(got) == ids(want), q)
    }
  }
}
