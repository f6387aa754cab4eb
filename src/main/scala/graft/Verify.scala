package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // local iteration aid: GRAFT_VERIFY_ONLY=q1_agg,t8_repetition runs a
    // subset (the correctness gate never sets it and runs everything); an
    // unknown name fails here, before the session starts
    val registered = Tools.queryNames(sys.env.get("GRAFT_VERIFY_ONLY").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)).distinct.sorted
    val selected = registered.toSet
    // the SAME session recipe as the tests, Bench and Tools
    // (Graft.session): a hand-rolled builder here once omitted
    // spark.sql.extensions, so a query using the SQL surface of the native
    // expressions would fail in the correctness gate only
    val spark = Graft.session("graft-verify")
    new java.io.File(outDir).mkdirs()
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries.filter(e => selected(e._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failures(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
        // a reused outDir may hold this query's output from a PREVIOUS run
        // (an analysis-time failure never reaches mode("overwrite")'s
        // delete) — remove it so stale parquet can't impersonate a pass.
        // Best-effort: a cleanup IOException must not abort the run (the
        // manifest below is what makes the round comparable at all), and
        // check_verify fails manifest-failed names regardless.
        scala.util.Try {
          val stale = Paths.get(s"$outDir/$name")
          if (Files.exists(stale)) {
            import scala.jdk.CollectionConverters._
            val walk = Files.walk(stale)
            try walk.sorted(java.util.Comparator.reverseOrder())
              .iterator().asScala.foreach(p => scala.util.Try(Files.delete(p)))
            finally walk.close()
          }
        }
      }
      // queries that cache internally must not pin memory for the rest of
      // the run (Bench does the same between measurements)
      spark.catalog.clearCache()
    }
    // r8 lesson: three queries broke at analysis, produced no output, and the
    // correctness report silently SHRANK (103 reported vs 106 registered) —
    // nothing flagged the gap. The manifest lets check_verify.py compare
    // registered-vs-produced so a vanishing query can never read as green.
    val produced = registered.filter(n => Files.isDirectory(Paths.get(s"$outDir/$n")))
    println(s"[verify] produced ${produced.size} of ${registered.size} registered queries" +
      (if (failures.isEmpty) "" else s"; FAILED: ${failures.keys.mkString(",")}"))
    val mapper = graft.session.Persistence.mapper
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      mapper.writeValueAsString(SparkEntry.oracleSql.filter(e => selected(e._1))))
    Files.writeString(Paths.get(s"$outDir/manifest.json"),
      mapper.writeValueAsString(scala.collection.immutable.ListMap(
        "registered" -> registered, "failed" -> failures)))
    spark.stop()
    // deliberately exit 0 even on per-query failure: the driver compares
    // whatever was produced, and a non-zero exit could make it discard the
    // whole round. check_verify.py fails the LOCAL gate on any manifest gap.
  }
}
