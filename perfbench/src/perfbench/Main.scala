package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.Graft

/** One timed harness call. `startMs`/`endMs` are epoch milliseconds (the
  * clock Spark stamps its jobs with); `seconds` is measured with nanoTime. */
final case class OpRec(id: Int, pass: Int, kind: String,
    name: String, startMs: Long, endMs: Long, seconds: Double,
    phases: Map[String, Double], error: Option[String],
    observed: Map[String, Any])

/** A span: name, start, end, parent span, and the op it belongs to. */
final case class Span(id: Int, name: String, startMs: Long, endMs: Long,
    parent: Int, op: Int)

/** State shared by the workload runners: the session, the op/span log and
  * the job-group tagging that lets the traced run attribute Spark work. */
final class Harness(val spark: SparkSession, val outDir: Path) {
  val ops = mutable.ArrayBuffer[OpRec]()
  val spans = mutable.ArrayBuffer[Span]()
  var tracing = false
  private var nextOp = 0
  private var nextSpan = 0

  private def nextSpanId(): Int = { nextSpan += 1; nextSpan }

  private def record(span: Span): Unit = if (tracing) spans += span

  /** Time `body` as one pass: a root span over the ops it runs. */
  def pass(n: Int)(body: Int => Unit): Double = {
    val id = nextSpanId()
    val t0 = System.currentTimeMillis(); val n0 = System.nanoTime()
    body(id)
    record(Span(id, s"pass-$n", t0, System.currentTimeMillis(), 0, 0))
    (System.nanoTime() - n0) / 1e9
  }

  /** Run one op. `body` gets the op's [[OpScope]] and returns what the op
    * observed, for the output checks. An exception is recorded as the op's
    * error: the op still counts as attempted. */
  def op(passNo: Int, passSpan: Int, kind: String, name: String)(
      body: OpScope => Map[String, Any]): Unit = {
    nextOp += 1
    val scope = new OpScope(nextOp, nextSpanId())
    val t0 = System.currentTimeMillis(); val n0 = System.nanoTime()
    val (error, observed) =
      try (None, body(scope))
      catch { case e: Throwable if scala.util.control.NonFatal(e) =>
        val msg = String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")
        (Some(s"${e.getClass.getName}: $msg"), Map.empty[String, Any])
      } finally spark.sparkContext.clearJobGroup()
    val secs = (System.nanoTime() - n0) / 1e9
    val t1 = System.currentTimeMillis()
    record(Span(scope.span, kind, t0, t1, passSpan, scope.id))
    ops += OpRec(scope.id, passNo, kind, name, t0, t1, secs,
      scope.phases.toMap, error, observed)
  }

  /** One op in flight: its id, and timed phases that tag the Spark jobs
    * they start with the job group `<op id>/<phase>`. */
  final class OpScope(val id: Int, val span: Int) {
    val phases = mutable.LinkedHashMap[String, Double]()
    def phase[A](p: String)(step: => A): A = {
      spark.sparkContext.setJobGroup(s"$id/$p", p)
      val t0 = System.currentTimeMillis(); val n0 = System.nanoTime()
      try step
      finally {
        phases(p) = phases.getOrElse(p, 0.0) + (System.nanoTime() - n0) / 1e9
        record(Span(nextSpanId(), p, t0, System.currentTimeMillis(), span, id))
      }
    }
  }

  /** Bytes the block manager still holds for RDD blocks (cache and
    * checkpoint), as the driver sees them right now. */
  def residentBlockBytes(): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
}

/** A workload: a pass is one round of its ops. */
trait Workload {
  def pass(h: Harness, n: Int): Double
  /** Extra entries for result.json. */
  def describe: Map[String, Any] = Map.empty
}

/** Benchmark harness entry. Run by `perfbench/run.py`, which generates the
  * inputs, checks the outputs and prints the metrics:
  *
  *   perfbench.Main --workload ops|clinical --cpus N --seconds S
  *     --trace 0|1 --out DIR [--data DIR --queries a,b,..] [--study DIR]
  *
  * Writes `DIR/result.json` (set-up times, passes, ops, and in a traced
  * run the Spark jobs, query plannings, block peaks and spans). */
object Main {
  /** `Graft.session` creations per run; their median is `setup_s`. */
  private val Setups = 7

  /** Reads the study manifest and writes result.json. */
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
    .configure(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, false)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cpus = opt("cpus").toInt
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val out = Paths.get(opt("out"))
    Files.createDirectories(out)
    val load0 = Sentinel.measure(cpus)

    // set-up: a fresh Graft.session, `Setups` times; the last one is used
    val setupSeconds = (1 to Setups).map { _ =>
      SparkSession.getActiveSession.foreach(_.stop())
      val n0 = System.nanoTime()
      Graft.session("perfbench", s"local[$cpus]")
      (System.nanoTime() - n0) / 1e9
    }
    val spark = SparkSession.active
    val h = new Harness(spark, out)
    val workload: Workload = opt("workload") match {
      case "ops" => new OpsWorkload(opt("data"), opt("queries").split(",").toSeq)
      case "clinical" => new ClinicalWorkload(opt("study"))
    }
    val recorder = if (trace) Some(new Recorder) else None
    recorder.foreach { r =>
      spark.sparkContext.addSparkListener(r)
      spark.listenerManager.register(r)
    }
    h.tracing = trace

    // whole passes until `seconds` have passed; the first pass is cold
    val gc0 = gcSeconds()
    val cpu0 = cpuSeconds()
    val stat0 = CpuStat.read()
    val n0 = System.nanoTime()
    val walls = mutable.ArrayBuffer[Double]()
    while (walls.isEmpty || (System.nanoTime() - n0) / 1e9 < seconds)
      walls += workload.pass(h, walls.size + 1)
    val gc = gcSeconds() - gc0
    val cpu = cpuSeconds() - cpu0
    val steal = CpuStat.stealShare(stat0, CpuStat.read())
    recorder.foreach { r =>
      r.quiesce()
      spark.listenerManager.unregister(r)
      spark.sparkContext.removeSparkListener(r)
    }
    val retained = retainedHeapMb(spark)
    val load1 = Sentinel.measure(cpus)

    val result = mutable.LinkedHashMap[String, Any](
      "setup_s" -> setupSeconds,
      "passes" -> walls,
      "gc_s" -> gc,
      "cpu_s" -> cpu,
      "retained_heap_mb" -> retained,
      "context" -> Map(
        "sentinel_before_s" -> load0, "sentinel_after_s" -> load1,
        "steal_share" -> steal,
        "nproc" -> Runtime.getRuntime.availableProcessors(),
        "cpus" -> cpus,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20),
        "peak_rss_mb" -> peakRssMb(),
        "spark_version" -> spark.version,
        "java_version" -> System.getProperty("java.version")),
      "ops" -> h.ops.map(opJson)) ++ workload.describe
    recorder.foreach { r =>
      result("trace_self_s") = r.selfNs / 1e9
      result("jobs") = r.jobs.values.map(jobJson)
      result("plannings") = r.plannings.map(p =>
        Map("start_ms" -> p.startMs, "plan_ms" -> p.planMs))
      result("block_peaks") = r.peakBlockBytes.toMap
      result("spans") = h.spans.map(s => Map("id" -> s.id, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "parent" -> s.parent,
        "op" -> s.op))
    }
    json.writeValue(out.resolve("result.json").toFile, result)
    spark.stop()
  }

  /** Heap still in use after the workload, once caches are cleared and
    * full collections have freed everything unreferenced: what a
    * long-lived session keeps. */
  private def retainedHeapMb(spark: SparkSession): Double = {
    spark.catalog.clearCache()
    def used(): Long = {
      System.gc()
      Thread.sleep(250)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    // Spark's ContextCleaner drops the blocks of an unreachable checkpoint
    // on its own thread, after a collection found the checkpoint
    // unreachable, and a later collection frees them; a round may free
    // nothing while it works. Repeat until two rounds in a row free less
    // than 1 MiB.
    var last = used()
    var quiet = 0
    var rounds = 1
    while (quiet < 2 && rounds < 20) {
      val next = used()
      quiet = if (last - next < (1L << 20)) quiet + 1 else 0
      last = next
      rounds += 1
    }
    last / 1048576.0
  }

  private def opJson(o: OpRec): Map[String, Any] = Map(
    "id" -> o.id, "pass" -> o.pass, "kind" -> o.kind,
    "name" -> o.name, "start_ms" -> o.startMs, "end_ms" -> o.endMs,
    "seconds" -> o.seconds, "phases" -> o.phases,
    "error" -> o.error.orNull, "observed" -> o.observed)

  private def jobJson(j: JobRec): Map[String, Any] = Map(
    "id" -> j.id, "group" -> j.group, "site" -> j.site,
    "start_ms" -> j.startMs, "end_ms" -> j.endMs, "stages" -> j.stages,
    "tasks" -> j.tasks, "failed_tasks" -> j.failedTasks,
    "empty_tasks" -> j.emptyTasks, "run_ms" -> j.runMs,
    "task_wall_ms" -> j.taskWallMs, "gc_ms" -> j.gcMs,
    "input_bytes" -> j.inputBytes, "shuffle_write_bytes" -> j.shuffleWriteBytes,
    "shuffle_read_bytes" -> j.shuffleReadBytes, "fetch_wait_ms" -> j.fetchWaitMs,
    "spill_bytes" -> j.spillBytes, "peak_exec_bytes" -> j.peakExecBytes)

  /** CPU time this JVM has used, all threads. */
  private def cpuSeconds(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  /** Peak resident set of this JVM (VmHWM), in MiB; -1 where /proc is
    * absent. Reported as context only: it follows the collector's heap
    * sizing more than the program's needs. */
  private def peakRssMb(): Double = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) -1.0
    else Files.readAllLines(status).asScala.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong / 1024.0).getOrElse(-1.0)
  }
}

/** Ambient-load sentinel, timed before and after the measurement: `threads`
  * threads at once each follow a random cycle through a 64 MiB table, so
  * every step misses the caches. The passes slow down with the cores'
  * shared caches and memory bandwidth, which co-tenants of the host contend
  * for without stealing CPU time, and a pointer chase reads that
  * contention. Each thread keeps the faster of two walks (the first also
  * compiles the loop); the slowest thread's time is the reading. */
object Sentinel {
  private val Slots = 1 << 24
  private val Steps = 1000000

  def measure(threads: Int): Double = {
    // a full-period linear congruential step modulo 2^24 (c odd, a = 1
    // mod 4): one cycle through every slot, in an order no prefetcher
    // follows
    val next = new Array[Int](Slots)
    var i = 0
    while (i < Slots) { next(i) = (i * 1664525 + 1013904223) & (Slots - 1); i += 1 }
    val secs = new Array[Double](threads)
    val ts = (0 until threads).map(k =>
      new Thread(() => secs(k) = Seq.fill(2)(walk(next, k * (Slots / threads))).min))
    ts.foreach(_.start())
    ts.foreach(_.join())
    secs.max
  }

  private def walk(next: Array[Int], from: Int): Double = {
    val n0 = System.nanoTime()
    var p = from
    var k = 0
    while (k < Steps) { p = next(p); k += 1 }
    if (p == -1) println("")  // keeps the loop live
    (System.nanoTime() - n0) / 1e9
  }
}

/** Machine-wide CPU time from /proc/stat. In a virtual machine its `steal`
  * column is the time the host gave this machine's CPUs to other guests:
  * load from neighbours that no reading inside the machine sees while it
  * lasts. Read at both ends of the timed window, it covers the whole
  * window without adding work to it. */
object CpuStat {
  /** (steal, total) jiffies, or None where /proc/stat is absent. */
  def read(): Option[(Long, Long)] = {
    val stat = Paths.get("/proc/stat")
    if (!Files.exists(stat)) None
    else Files.readAllLines(stat).asScala.find(_.startsWith("cpu ")).map { l =>
      val f = l.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    }
  }

  /** Share of the machine's CPU time stolen between two readings; -1 when
    * unknown. */
  def stealShare(a: Option[(Long, Long)], b: Option[(Long, Long)]): Double =
    (a, b) match {
      case (Some((s0, t0)), Some((s1, t1))) if t1 > t0 => (s1 - s0).toDouble / (t1 - t0)
      case _ => -1.0
    }
}
