package graft

/** Standalone per-query timing for optimization work: Bench's timing core
  * ([[Bench.runShard]]: untimed warmup, interleaved timed rounds,
  * clearCache + gc between queries, noop sink, ambient sentinel
  * before/after) over an explicit query subset, with no round budget and
  * no demotion — an honest per-query floor without a 40-minute
  * full-suite run. It prints no contract line; Bench stays the published
  * bench.
  *
  * Usage: runMain graft.TimeQueries <sfDir> <rounds> <query> [query ...]
  * Heap: run under SPARK_DRIVER_MEM=16g for the heap-sensitive queries
  * (pipe2/d16 OOM-thrash at 8g on local[32] sf0.1).
  */
object TimeQueries {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: TimeQueries <sfDir> <rounds> <q> [q ...]")
    val names = args.drop(2).toVector
    val missing = names.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
    val res = Bench.runShard(names, args(0), args(1).toInt,
      budgetSecs = Double.MaxValue, demoteSecs = Double.MaxValue,
      partialSink = None)
    println(f"sentinel [${res.sentinelBefore}%.3f, ${res.sentinelAfter}%.3f]")
    res.stats.foreach { s =>
      if (s.rounds == 0) println(s"${s.name} FAILED")
      else println(f"${s.name}%-24s med=${s.med}%8.3f min=${s.min}%8.3f rounds=${s.rounds}")
    }
  }
}
