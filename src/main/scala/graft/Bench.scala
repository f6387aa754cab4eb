package graft

/** Benchmark main. Prints ONE JSON line (driver contract) and writes the
  * full-precision copy to bench_summary.json.
  *
  * At 226 queries/round a single JVM accumulates real memory pressure —
  * r9s4 adjudicated pipe2 at 61s in-bench vs 25s standalone on identical
  * code (block store + heap fragmentation, not a regression). So the
  * default mode FORKS child JVMs, each benching an interleaved modulo
  * shard of the query list (so the expensive families spread across all
  * of them), and merges their results: every query runs in a JVM that is
  * at most one-shard old. Children replicate this JVM's args (classpath,
  * add-opens, -Xmx) verbatim. Any fork failure falls back to the r9
  * single-JVM path, same output contract either way.
  *
  * The child COUNT scales with the suite: ceil(n/125) children (min 2),
  * so each JVM benches ≤125 queries — the load the r10 two-way split
  * was sized for at 244 queries. At 376 queries the fixed two-way split
  * re-inflated the hot floors (pipe2 68s vs its 25s standalone floor),
  * which is exactly what this knob exists to prevent.
  *
  * WALL BUDGET (the BENCH_r10 rc-124 lesson — the driver killed the
  * bench at its timeout and the round published NOTHING): the run fits
  * itself to `GRAFT_BENCH_WALL_SECS` (default 2400 s of shard time,
  * excluding JVM spawn) three ways, none of which can erase a query:
  *  1. a query whose WARMUP exceeds `DemoteSecs` (30 s) is
  *     demoted to ONE timed round — one honest sample beats three
  *     samples that blow the budget; `rounds_used` reports it;
  *  2. each shard gets remaining-budget / shards-remaining and SHEDS
  *     timed rounds past the first once its slice is spent (round 1
  *     always completes, so every query keeps ≥1 sample);
  *  3. results stream to disk as they exist: each child rewrites its
  *     shard TSV after EVERY timed round, and the parent rewrites
  *     bench_summary_partial.json after every finished shard — a
  *     timeout now leaves per-query data instead of nothing. */
object Bench {

  private[graft] case class QueryStat(name: String, med: Double, min: Double,
      rounds: Int)
  private[graft] case class ShardResult(sentinelBefore: Double,
      sentinelAfter: Double, stats: Vector[QueryStat])

  /** Timed rounds per query (`SPARK_GRAFT_BENCH_RUNS`, default 3). */
  private def benchRuns = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
  /** Warmup seconds past which a query gets one timed round. */
  private val DemoteSecs = 30.0

  /** The `i/n` modulo shard of the sorted query list. */
  private def shardNames(spec: String): Vector[String] = {
    val Array(iStr, nStr) = spec.split("/")
    val (shard, nShards) = (iStr.toInt - 1, nStr.toInt)
    SparkEntry.queries.keys.toVector.sorted
      .zipWithIndex.collect { case (n, ix) if ix % nShards == shard => n }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sys.env.get("GRAFT_BENCH_SHARD") match {
      case Some(spec) =>
        // child mode: bench my modulo shard, dump TSV for the parent
        // (runShard already rewrote the same file after every round)
        val out = sys.env("GRAFT_BENCH_OUT")
        val budget = sys.env.get("GRAFT_BENCH_SHARD_BUDGET")
          .map(_.toDouble).getOrElse(Double.MaxValue)
        val res = runShard(shardNames(spec), sfDir, benchRuns, budget,
          DemoteSecs, Some(out))
        writeFile(out, shardTsv(res))
      case None =>
        val wall = sys.env.getOrElse("GRAFT_BENCH_WALL_SECS", "2400").toDouble
        val start = System.nanoTime()
        def remaining = wall - (System.nanoTime() - start) / 1e9
        val res = forkShards(sfDir, () => remaining).getOrElse(
          runShard(shardNames("1/1"), sfDir, benchRuns, remaining, DemoteSecs,
            Some("bench_shard_1of1.tsv")))
        emit(res, sfDir)
    }
  }

  // a kill mid-write leaves the previous round's complete file
  private def writeFile(path: String, content: String): Unit =
    Publish.bytes(java.nio.file.Paths.get(path), content.getBytes("UTF-8"))

  private def shardTsv(res: ShardResult): String =
    (s"sentinel\t${res.sentinelBefore}\t${res.sentinelAfter}" +:
      res.stats.map(s => s"q\t${s.name}\t${s.med}\t${s.min}\t${s.rounds}"))
      .mkString("", "\n", "\n")

  /** Spawn one child JVM per shard, sequentially; None on any failure
    * (missing classpath, child crash, unparseable output) → the caller
    * falls back to the in-process path. No non-local returns: a `return`
    * inside a loop closure would throw NonLocalReturnControl straight
    * into the catch below; NonFatal keeps OOM/interrupt propagating. */
  private def forkShards(sfDir: String,
      remaining: () => Double): Option[ShardResult] = {
    try {
      val sep = java.io.File.pathSeparator
      val cp = System.getProperty("java.class.path")
      // a forked `run` JVM has the real classpath; under an in-process
      // launcher (classloader-based) it degenerates to the sbt jar —
      // detect that and bail to the fallback
      if (!cp.split(sep).exists(_.contains("spark-sql"))) None
      else {
        val nShards =
          math.max(2, math.ceil(SparkEntry.queries.size / 125.0).toInt)
        val javaBin = java.nio.file.Paths
          .get(System.getProperty("java.home"), "bin", "java").toString
        val jvmArgs = java.lang.management.ManagementFactory
          .getRuntimeMXBean.getInputArguments
        def runChild(i: Int): Option[ShardResult] = {
          // cwd, not temp: a driver-timeout kill must leave the shard
          // data somewhere a post-mortem reader will look
          val out = new java.io.File(s"bench_shard_${i}of$nShards.tsv")
          val log = new java.io.File(
            System.getProperty("java.io.tmpdir"), s"graft_bench_half$i.log")
          val cmd = new java.util.ArrayList[String]()
          cmd.add(javaBin)
          jvmArgs.forEach(a => cmd.add(a))
          cmd.add("-cp"); cmd.add(cp); cmd.add("graft.Bench")
          val pb = new ProcessBuilder(cmd)
          // even split of what's LEFT: a slow early shard automatically
          // squeezes the later ones instead of blowing the total
          val childBudget = math.max(120.0, remaining() / (nShards - i + 1))
          pb.environment().put("GRAFT_BENCH_SHARD", s"$i/$nShards")
          pb.environment().put("GRAFT_BENCH_OUT", out.getAbsolutePath)
          pb.environment().put("GRAFT_BENCH_SHARD_BUDGET",
            childBudget.toString)
          // children must never print to the parent's stdout: the driver
          // parses the LAST 2000 bytes of it for the contract JSON
          pb.redirectOutput(log)
          pb.redirectErrorStream(true)
          System.err.println(f"[bench] forking shard $i/$nShards " +
            f"(budget ${childBudget}%.0f s, log: $log)")
          val code = pb.start().waitFor()
          if (code != 0) {
            System.err.println(s"[bench] shard $i exited $code, falling back")
            None
          } else Some(parseShardTsv(out))
        }
        // per-query order is restored by the emit sort; the sentinel pair
        // spans the whole window: first shard's opening, last's closing
        val all = (1 to nShards)
          .foldLeft(Option(Vector.empty[ShardResult])) { (acc, i) =>
            acc.flatMap { v =>
              runChild(i).map { r =>
                val sofar = v :+ r
                // partial merged summary after EVERY finished shard — the
                // rc-124 insurance: a timeout mid-shard-k still publishes
                // shards 1..k-1 (plus shard k's own per-round TSV)
                val m = ShardResult(sofar.head.sentinelBefore,
                  sofar.last.sentinelAfter, sofar.flatMap(_.stats))
                scala.util.Try(writeFile("bench_summary_partial.json",
                  summaryJson(m, sfDir, partial = Some(s"$i/$nShards")) + "\n"))
                sofar
              }
            }
          }
        all.map(v => ShardResult(v.head.sentinelBefore, v.last.sentinelAfter,
          v.flatMap(_.stats)))
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] fork mode failed ($e), falling back")
        None
    }
  }

  private def parseShardTsv(f: java.io.File): ShardResult = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    val lines =
      try src.getLines().toVector
      finally src.close()
    val sent = lines.filter(_.startsWith("sentinel\t")).head.split("\t")
    val stats = lines.filter(_.startsWith("q\t")).map { l =>
      val p = l.split("\t")
      QueryStat(p(1), p(2).toDouble, p(3).toDouble, p(4).toInt)
    }
    ShardResult(sent(1).toDouble, sent(2).toDouble, stats)
  }

  /** The timing core shared by Bench and `Tools time`, over `names`:
    * untimed warmup round, `runs` interleaved timed rounds, clearCache +
    * gc between queries, ambient-load sentinel before and after. Sheds
    * timed rounds past the first when `budgetSecs` of shard time is
    * spent, demotes queries whose warmup exceeds `demoteSecs` to one
    * round, and rewrites `partialSink` after every timed round so a kill
    * keeps the data. */
  private[graft] def runShard(names: Vector[String], sfDir: String, runs: Int,
      budgetSecs: Double, demoteSecs: Double,
      partialSink: Option[String]): ShardResult = {
    val start = System.nanoTime()
    def elapsedSecs = (System.nanoTime() - start) / 1e9
    val spark = Graft.session("graft-bench")
    // Ambient-load sentinel: a fixed, data-independent CPU-bound job whose
    // cost is a property of the MACHINE, not the code under test. Timed
    // once before the warmup and once after the last timed round; the pair
    // rides in the summary JSON. Historical steady-state is ~constant, so
    // a sentinel far above its usual cost (or a large gap between the two)
    // marks the whole window as polluted by competing load — BENCH_r04/r06
    // both published phantom regressions that this self-identifies.
    def sentinel(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 400000000L, 1, spark.sparkContext.defaultParallelism)
        .selectExpr("sum(id % 1000007) as s")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // noop sink (not count()) so Catalyst can't prune the projected
    // expressions out from under the timer — every query runs its full work.
    def runOne(name: String): Double = {
      spark.sparkContext.setJobDescription(name)
      val t0 = System.nanoTime()
      val ok = try {
        SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save(); true
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}"); false }
      val elapsed = (System.nanoTime() - t0) / 1e9
      // drop anything the query cached so the next one re-does its full work,
      // and collect the garbage it left so its GC debt isn't billed to the
      // next query's timer
      spark.catalog.clearCache()
      System.gc()
      if (ok) elapsed else -1.0
    }
    def buildStats(samples: Vector[Map[String, Double]]): Vector[QueryStat] =
      names.map { n =>
        val good = samples.flatMap(_.get(n)).filter(_ >= 0)
        if (good.isEmpty) QueryStat(n, -1.0, -1.0, 0)
        else QueryStat(n, good.sorted.apply(good.length / 2), good.min,
          good.length)
      }
    // Samples are taken in interleaved rounds (q1..qN, q1..qN, ...) rather
    // than back-to-back per query: a transient noise window (competing load,
    // page-cache eviction, JIT deopt storm) then corrupts at most ONE sample
    // of each query instead of all of them, and the median discards it.
    // BENCH_r04's 44% phantom regression came from exactly that failure mode.
    // Round 0 is an untimed warmup of every query — JIT, codegen cache,
    // parquet footers — so timed rounds measure steady state.
    sentinel() // untimed: JIT/codegen for the sentinel job itself
    val sentinelBefore = sentinel()
    // a transient warmup-only failure must not erase the query from the
    // totals — that would publish a phantom speedup; only timed-round
    // failures count (and then only the failed samples are discarded)
    val warm = names.map(n => n -> runOne(n)).toMap
    // a failed warmup reads -1, which never exceeds the demotion bar —
    // the query keeps its full rounds and a real failure surfaces there
    val demoted = names.filter(n => warm(n) > demoteSecs).toSet
    if (demoted.nonEmpty)
      System.err.println("[bench] demoted to 1 timed round (warmup > " +
        s"$demoteSecs s): ${demoted.toVector.sorted.mkString(",")}")
    var samples = Vector.empty[Map[String, Double]]
    var r = 0
    var shed = false
    while (r < runs && !shed) {
      if (r > 0 && elapsedSecs > budgetSecs) shed = true
      else {
        Thread.sleep(200) // settle after the GC burst before the next round
        val roundNames = if (r == 0) names else names.filterNot(demoted)
        samples = samples :+ roundNames.map(n => n -> runOne(n)).toMap
        r += 1
        partialSink.foreach(p => scala.util.Try(writeFile(p,
          shardTsv(ShardResult(sentinelBefore, -1.0, buildStats(samples))))))
      }
    }
    if (r < runs)
      System.err.println(f"[bench] wall budget $budgetSecs%.0f s spent " +
        f"(elapsed $elapsedSecs%.0f s) — shed ${runs - r} of $runs rounds " +
        "after round " + r)
    val sentinelAfter = sentinel()
    val stats = buildStats(samples)
    spark.stop()
    ShardResult(sentinelBefore, sentinelAfter, stats)
  }

  // 3-decimal (millisecond) values: full double precision tripled the
  // line length and BENCH_r05's tail capture clipped the median block
  // mid-JSON — precision below 1ms is noise anyway
  private def r3(v: Double): Double = math.rint(v * 1000) / 1000

  /** The ONE totals rule shared by the full summary and the contract
    * line — a query with ZERO good samples must poison the totals, not
    * silently deflate them (a persistently broken query would otherwise
    * read as a faster run, the phantom class the warmup-failure rule
    * guards); two drifting copies of this rule would let
    * bench_summary.json and the driver-parsed tail disagree. */
  private def totals(
      results: Vector[QueryStat]): (Vector[String], Double, Double) = {
    val broken = results.collect { case s if s.med < 0 => s.name }
    val total = if (broken.nonEmpty) -1.0 else r3(results.map(_.med).sum)
    val totalMin = if (broken.nonEmpty) -1.0 else r3(results.map(_.min).sum)
    (broken, total, totalMin)
  }

  private def sentinelJson(res: ShardResult): String =
    s"[${r3(res.sentinelBefore)},${r3(res.sentinelAfter)}]"

  /** The full-precision summary line (bench_summary.json + stdout). */
  private def summaryJson(res: ShardResult, sfDir: String,
      partial: Option[String] = None): String = {
    val results = res.stats.sortBy(_.name)
    def jmap(f: QueryStat => Double) =
      results.map(s => "\"" + s.name + "\":" + r3(f(s))).mkString("{", ",", "}")
    val (broken, total, totalMin) = totals(results)
    val brokenJson = broken.map("\"" + _ + "\"").mkString("[", ",", "]")
    // rounds_used only lists queries that got FEWER samples than the
    // CONFIGURED round count (demotion or budget shed) — the common
    // all-full case adds nothing; comparing against the observed max
    // would hide a uniformly-shed shard entirely
    val shortRounds = results.filter(s => s.rounds < benchRuns && s.med >= 0)
    val roundsJson = shortRounds
      .map(s => "\"" + s.name + "\":" + s.rounds).mkString("{", ",", "}")
    val partialJson = partial.map(p => s""","partial":"$p"""").getOrElse("")
    s"""{"metric":"total","value":$total,"unit":"sec","queries":${jmap(_.med)},"queries_min":${jmap(_.min)},"total_min":$totalMin,"failed":${broken.length},"failed_queries":$brokenJson,"rounds_used":$roundsJson,"sentinel":${sentinelJson(res)}$partialJson,"sf":"$sfDir"}"""
  }

  /** Render the driver-contract JSON lines + bench_summary.json. */
  private def emit(res: ShardResult, sfDir: String): Unit = {
    val results = res.stats.sortBy(_.name)
    val (broken, total, totalMin) = totals(results)
    val summary = summaryJson(res, sfDir)
    // belt and braces vs output-tail truncation: the same line also lands
    // in a file the driver (or a human) can always read whole; the run
    // completed, so the partial snapshot is superseded — remove it
    scala.util.Try(writeFile("bench_summary.json", summary + "\n"))
    scala.util.Try(java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get("bench_summary_partial.json")))
    println(summary)
    // the driver keeps only the LAST 2000 bytes of output and parses the
    // JSON it finds there — the full summary above is ~3.2KB and got
    // clipped mid-line two rounds running (BENCH_r05/r06 `parsed: null`).
    // So the very last line is a compact contract-only summary: medians at
    // CENTISECOND precision (10ms — the query count crossed the point where
    // millisecond medians alone overflow the window; full 1ms values live
    // in the line above and bench_summary.json), no queries_min/
    // failed_queries. If growth ever pushes even that past the window, the
    // per-query map is dropped entirely rather than shipping JSON that
    // parses as a clipped prefix.
    def r2(v: Double) = math.rint(v * 100) / 100
    val qmap2 = results.map(s => "\"" + s.name + "\":" + r2(s.med))
      .mkString("{", ",", "}")
    val contract =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qmap2,"total_min":$totalMin,"failed":${broken.length},"sentinel":${sentinelJson(res)},"sf":"$sfDir"}"""
    val slim =
      s"""{"metric":"total","value":$total,"unit":"sec","total_min":$totalMin,"failed":${broken.length},"sentinel":${sentinelJson(res)},"queries_in":"bench_summary.json","sf":"$sfDir"}"""
    println(if (contract.length <= 1900) contract else slim)
  }
}
