package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Everything one run shares: the session, the seed, the work directory
  * and the set-up / timed-phase clocks.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val work: String,
    val cores: Int, val traceOut: String) {
  val jvmStartMs: Double = ManagementFactory.getRuntimeMXBean.getStartTime
  var prepareMs = 0.0
  var warmMs = 0.0
  var timedStartMs = 0.0
  var timedEndMs = 0.0
  var heapMb = 0.0

  def dir(name: String): String = s"$work/$name"

  /** Generate the run's inputs into a fresh directory, timed. */
  def prepare(gen: String => Unit): String = {
    val d = dir("input")
    val t0 = Clock.nowMs
    gen(d)
    prepareMs = Clock.nowMs - t0
    d
  }

  def gcMs: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.toDouble).sum

  /** Set-up seconds: from process start to the first timed op. */
  def setupS: Double = (timedStartMs - jvmStartMs) / 1000

  def endTimed(): Unit = {
    timedEndMs = Clock.nowMs
  }

  /** Heap in use after a full collection: what the run retains. The
    * pauses let Spark's context cleaner drop what the first collections
    * released (broadcasts, shuffle blocks) before the last one.
    */
  def measureHeap(): Unit = {
    (1 to 2).foreach { _ => System.gc(); Thread.sleep(200) }
    heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** One closed-loop operation: `run` returns true if its result is right. */
trait Op {
  def kind: String
  def run(ctx: Ctx, trace: Trace, id: String): Boolean
}

final case class OpResult(kind: String, ms: Double, ok: Boolean,
    error: String, span: Option[Span])

/** A closed loop with one client: the next op starts when the previous
  * one returns. A run does a fixed number of whole cycles of the mix,
  * derived from `--seconds`, never from the clock, so a faster engine
  * measures the same work: ops that change a table do not see a bigger
  * table in a faster run, and every run has the same op count.
  */
object ClosedLoop {
  /** Cycles for a run of `seconds`: one per `secondsPerCycle` (what one
    * cycle takes on a 4-core host), at least one.
    */
  def cycles(seconds: Double, secondsPerCycle: Double): Int =
    math.max(1, math.round(seconds / secondsPerCycle).toInt)

  def run(ctx: Ctx, trace: Trace, cycles: Int, first: Int, cycle: Int,
      next: Int => Op): Seq[OpResult] = {
    val sc = ctx.spark.sparkContext
    (first until first + cycles * cycle).map { i =>
      val op = next(i)
      val id = s"op-$i"
      if (trace.on) sc.setJobGroup(id, op.kind, interruptOnCancel = false)
      val gc0 = ctx.gcMs
      val rd0 = Walk.readBytes()
      val t0 = Clock.nowMs
      val (ok, err) =
        try (op.run(ctx, trace, id), "")
        catch { case e: Throwable =>
          (false, s"${op.kind}: ${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      val t1 = Clock.nowMs
      val span = if (trace.on) {
        val s = Span(id, "op:" + op.kind, t0, t1, Map(
          "gc_ms" -> (ctx.gcMs - gc0),
          "read_bytes" -> (Walk.readBytes() - rd0).toDouble))
        trace.record(s)
        sc.clearJobGroup()
        Some(s)
      } else None
      OpResult(op.kind, t1 - t0, ok, err, span)
    }
  }

  /** Ops of one timed phase. `measured` are the ops whose latencies the
    * run reports; in a traced run they are the traced half, and
    * `baseline` is the untraced half before it.
    */
  final case class Phase(baseline: Seq[OpResult], measured: Seq[OpResult],
      trace: Trace, opsPerS: Double) {
    def all: Seq[OpResult] = baseline ++ measured
    def spans: Seq[Span] = measured.flatMap(_.span)
  }

  /** The timed phase, ending with the heap reading. Untraced runs measure
    * `cycles` cycles; traced runs measure `cycles` untraced, then attach
    * the listener and measure `cycles` more traced.
    */
  def phase(ctx: Ctx, traced: Boolean, cycles: Int, first: Int,
      cycle: Int, next: Int => Op): Phase = {
    val off = new Trace(false)
    ctx.timedStartMs = Clock.nowMs
    val (baseline, measured, trace) =
      if (!traced) (Nil, run(ctx, off, cycles, first, cycle, next), off)
      else {
        val u = run(ctx, off, cycles, first, cycle, next)
        val t = new Trace(true)
        t.attach(ctx.spark)
        (u, run(ctx, t, cycles, first + u.size, cycle, next), t)
      }
    ctx.endTimed()
    ctx.measureHeap()
    Phase(baseline, measured, trace, (baseline.size + measured.size) /
      ((ctx.timedEndMs - ctx.timedStartMs) / 1000))
  }
}

/** What a workload hands back after its timed phase and its gate. */
final case class Outcome(
    latencies: Seq[Double],
    untracedLatencies: Seq[Double],
    opsPerS: Double,
    attempted: Int,
    failed: Int,
    errors: Seq[String],
    layer: Map[String, Double],
    notes: Seq[(String, String)] = Nil)

object Outcome {
  /** Median latency per op kind, for the validity record. */
  def kindMedians(rs: Seq[OpResult]): Seq[(String, String)] =
    Seq("op_kind_p50_ms" -> Json.obj(rs.groupBy(_.kind).toSeq.sortBy(_._1)
      .map { case (k, v) => k -> Json.num(Stats.median(v.map(_.ms))) }))
}

trait Workload {
  def name: String
  /** Inputs and warm-up; everything here counts toward `setup_s`. */
  def setup(ctx: Ctx): Unit
  /** The timed phase (tracing decides the split) and the correctness
    * gate, which runs outside the timed region.
    */
  def measure(ctx: Ctx, traced: Boolean, seconds: Double): Outcome
  /** A seed-free summary of the work a seed generates: row counts, file
    * and row-group counts, op-mix counts, tick counts.
    */
  def shape(seed: Long, seconds: Double): Seq[(String, Long)]
}

object Main {
  val workloads: Map[String, () => Workload] = Map(
    "lake_scan" -> (() => new LakeScan),
    "lake_dml" -> (() => new LakeDml),
    "tick_stream" -> (() => new TickStream),
    "query_mix" -> (() => new QueryMix))

  /** Progress notes go to the run's log (standard error). */
  def log(msg: String): Unit = System.err.println(f"[perfbench] ${Clock.nowMs / 1000}%.3f $msg")

  /** (steal, total) CPU ticks of the machine so far, from /proc/stat: the
    * time a virtual machine's CPUs were ready to run but the host ran
    * something else. Zeros where the file does not exist.
    */
  def cpuTicks(): (Long, Long) = {
    val f = Paths.get("/proc/stat")
    if (!Files.isReadable(f)) (0L, 0L)
    else {
      val t = Files.readAllLines(f).get(0).trim.split("\\s+").drop(1)
        .take(8).map(_.toLong)
      (if (t.length > 7) t(7) else 0L, t.sum)
    }
  }

  /** Single-thread CPU probe: ms for a fixed integer loop, best of 3. */
  def spinProbeMs(): Double = (1 to 3).map { _ =>
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 20000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 42) println("")
    (System.nanoTime() - t0) / 1e6
  }.min

  def session(cores: Int, work: String): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      // the raw local file system, as the engine's own entry points set it
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        "org.apache.hadoop.fs.local.RawLocalFs")
      // the engine's planner rules, as its own entry points install them
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    fs.setWriteChecksum(false)
    fs.setVerifyChecksum(false)
    spark
  }

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val wl = kv("workload")
    val seed = kv("seed").toLong
    val seconds = kv("seconds").toDouble
    val traced = kv.getOrElse("trace", "0") == "1"
    val work = kv("work")
    val out = kv("out")
    val cores = Runtime.getRuntime.availableProcessors()
    log("jvm up")
    val ticksBefore = cpuTicks()
    val probeBefore = spinProbeMs()
    val w = workloads(wl)()

    // seed discipline: another seed must generate the same amount of work
    val shapeA = w.shape(seed, seconds)
    val shapeB = w.shape(seed * 31 + 7, seconds)
    val shapeErr =
      if (shapeA == shapeB) Nil
      else Seq(s"seed changes the work: $shapeA vs $shapeB")

    Files.createDirectories(Paths.get(work))
    val spark = session(cores, work)
    val ctx = new Ctx(spark, seed, work, cores, kv("trace-out"))
    log("session")
    w.setup(ctx)
    log("set-up done")
    val o = w.measure(ctx, traced, seconds)
    log(f"timed phase ${(ctx.timedEndMs - ctx.timedStartMs) / 1000}%.1f s; gate done")
    val probeAfter = spinProbeMs()
    val ticksAfter = cpuTicks()
    val stealShare = Stats.ratio((ticksAfter._1 - ticksBefore._1).toDouble,
      (ticksAfter._2 - ticksBefore._2).toDouble)
    spark.stop()

    val noOps = if (o.latencies.isEmpty) Seq("no op completed") else Nil
    val errors = shapeErr ++ noOps ++ o.errors
    val failed = o.failed + shapeErr.size + noOps.size
    val attempted = math.max(o.attempted, 1)
    val correct = errors.isEmpty && failed == 0
    val probeRatio = probeAfter / probeBefore
    val e2e = Seq(
      "setup_s" -> (ctx.setupS, "s"),
      "op_p50_ms" -> (Stats.median(o.latencies), "ms"),
      "op_p90_ms" -> (Stats.quantile(o.latencies, 0.9), "ms"),
      "ops_per_s" -> (o.opsPerS, "1/s"),
      "retained_heap_mb" -> (ctx.heapMb, "MB"))
    val metrics =
      if (!traced) e2e
      else {
        val overhead = Stats.ratio(Stats.median(o.latencies),
          Stats.median(o.untracedLatencies))
        val layer = o.layer + ("trace.overhead_ratio" -> overhead)
        val value = (k: String) => layer.get(k).filterNot(_.isNaN).getOrElse(0.0)
        Layers.all.map { case (k, unit) => k -> (value(k), unit) } ++
          layer.keys.toSeq.sorted.filterNot(Layers.all.toMap.contains)
            .map(k => k -> (value(k), "ms"))
      }
    val validity = Seq(
      "workload" -> Json.str(wl), "seed" -> Json.num(seed.toDouble),
      "nproc" -> Json.num(cores.toDouble),
      "mem_total_mb" -> Json.num(ManagementFactory.getOperatingSystemMXBean
        .asInstanceOf[com.sun.management.OperatingSystemMXBean]
        .getTotalMemorySize / 1048576.0),
      "max_heap_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "jdk" -> Json.str(System.getProperty("java.version")),
      "spark" -> Json.str(org.apache.spark.SPARK_VERSION),
      // Spark skips an extension class it cannot load with only a warning
      "planner_extensions_loaded" -> Json.bool(
        scala.util.Try(Class.forName("graft.plans.GraftExtensions")).isSuccess),
      "probe_before_ms" -> Json.num(probeBefore),
      "probe_after_ms" -> Json.num(probeAfter),
      "cpu_steal_share" -> Json.num(stealShare),
      "host_bound" -> Json.bool(probeRatio > 1.3 || stealShare > 0.03),
      "ops" -> Json.num(o.latencies.size.toDouble),
      "setup_prepare_ms" -> Json.num(ctx.prepareMs),
      "setup_warm_ms" -> Json.num(ctx.warmMs),
      "shape" -> Json.obj(shapeA.map { case (k, v) => k -> Json.num(v.toDouble) }),
      "errors" -> Json.arr(errors.take(20).map(Json.str))) ++ o.notes
    val json = Json.obj(Seq(
      "correct" -> Json.bool(correct),
      "attempted" -> Json.num(attempted.toDouble),
      "failed" -> Json.num(failed.toDouble),
      "metrics" -> Json.obj(metrics.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }),
      "validity" -> Json.obj(validity)))
    Files.writeString(Paths.get(out), json)
  }
}
