package graftbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.FileSourceScanExec

/** Untimed set-up and gate work on a few threads at once, so that the
  * driver-side parts of many small Spark jobs overlap. Never used in a
  * timed phase.
  */
object Par {
  def map[A, B](xs: Seq[A], threads: Int)(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try xs.map(x => pool.submit(new java.util.concurrent.Callable[B] {
        def call(): B = f(x)
      })).map { fut =>
        try fut.get()
        catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
      }
    finally pool.shutdownNow()
  }
}

/** Percentiles, medians and the small helpers every workload shares. */
object Stats {
  /** Linear-interpolated quantile (the R-7 / numpy default); NaN if empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val h = (s.size - 1) * q
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def sum(xs: Iterable[Double]): Double = xs.foldLeft(0.0)(_ + _)
  def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

  /** Total length of the union of [start, end] intervals. */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on
  * the same axis as Spark listener event times.
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Directory walks: the byte and file counts the benchmark reads off the
  * file system at op boundaries, never from engine internals.
  */
object Walk {
  final case class Tree(files: Map[String, Long]) {
    def bytes: Long = files.values.sum
    def count: Int = files.size
    /** Files present here but not in `before` (new names). */
    def added(before: Tree): Tree =
      Tree(files.filter { case (k, _) => !before.files.contains(k) })
    def filter(p: String => Boolean): Tree = Tree(files.filter(e => p(e._1)))
  }
  def tree(root: String): Tree = {
    val r = Paths.get(root)
    if (!Files.exists(r)) Tree(Map.empty)
    else {
      val s = Files.walk(r)
      try Tree(s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => r.relativize(p).toString -> Files.size(p)).toMap)
      finally s.close()
    }
  }
  def isData(rel: String): Boolean = {
    val name = rel.split('/').last
    (name.endsWith(".parquet") || name.endsWith(".orc")) &&
      !rel.split('/').exists(s => s.startsWith("_") || s.startsWith("."))
  }
  def isLog(rel: String): Boolean = rel.split('/').exists(_.startsWith("_"))
  /** Bytes this process has passed through read syscalls (Linux
    * `/proc/self/io` rchar), or 0 where that file does not exist.
    */
  def readBytes(): Long = {
    val p = Paths.get("/proc/self/io")
    if (!Files.exists(p)) 0L
    else Files.readAllLines(p).asScala.collectFirst {
      case l if l.startsWith("rchar:") => l.drop(6).trim.toLong
    }.getOrElse(0L)
  }
}

/** Order-insensitive fingerprint of a collected result. Doubles print
  * with all their digits, so two results match only if they are equal.
  */
object Digest {
  def rows(rs: Seq[Row]): String = {
    val lines = rs.map(_.toSeq.map {
      case null => "null"
      case d: Double => java.lang.Double.toString(d)
      case x => x.toString
    }.mkString("|")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    s"${rs.size}:" + md.digest().take(12).map("%02x".format(_)).mkString
  }

  /** Order-insensitive fingerprint of a whole table, computed by Spark:
    * row count and the exact sum of per-row 64-bit hashes.
    */
  def table(df: DataFrame): String = {
    val r = df.select(count(lit(1)), sum(xxhash64(df.columns.map(col): _*)
      .cast("decimal(38,0)"))).head()
    s"${r.get(0)}:${r.get(1)}"
  }
}

/** One recorded interval. Spans of one op share the op's id, which is
  * also the Spark job group of every job the op runs.
  */
final case class Span(op: String, name: String, start: Double, end: Double,
    attrs: Map[String, Double]) {
  def ms: Double = end - start
}

/** Per-job record from the SparkListener: group, interval, task totals. */
final class JobRec(val id: Int, val group: String, val start: Double) {
  @volatile var end: Double = Double.NaN
  @volatile var tasks = 0
  @volatile var taskMs = 0.0
  @volatile var gcMs = 0.0
  @volatile var shuffleBytes = 0L
}

/** The tracer: spans kept in memory and written out once at the end, and
  * a SparkListener that attributes jobs and task totals to job groups.
  * With tracing off every method runs its body and records nothing, and
  * no listener is registered.
  */
final class Trace(val on: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  @volatile private var lastEvent = Clock.nowMs

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      val j = new JobRec(e.jobId, g, e.time.toDouble)
      jobs.put(e.jobId, j)
      e.stageIds.foreach(s => stageJob.put(s, j))
      lastEvent = Clock.nowMs
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)
      lastEvent = Clock.nowMs
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      Option(stageJob.get(e.stageId)).foreach { j =>
        j.synchronized {
          j.tasks += 1
          Option(e.taskMetrics).foreach { m =>
            j.taskMs += m.executorRunTime
            j.gcMs += m.jvmGCTime
            j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          }
        }
      }
      lastEvent = Clock.nowMs
    }
  }

  def attach(spark: SparkSession): Unit =
    if (on) spark.sparkContext.addSparkListener(listener)

  def record(s: Span): Unit = if (on) spans.add(s)

  /** Time `body` as span `name` of op `op`; attrs may be added after. */
  def span[T](op: String, name: String,
      attrs: => Map[String, Double] = Map.empty)(body: => T): T =
    if (!on) body
    else {
      val t0 = Clock.nowMs
      try body
      finally record(Span(op, name, t0, Clock.nowMs, attrs))
    }

  /** Wait until the listener bus has delivered every job end and been
    * quiet for a moment (events arrive asynchronously).
    */
  def drain(): Unit = if (on) {
    val limit = Clock.nowMs + 10000
    while (Clock.nowMs < limit &&
        (jobs.values.asScala.exists(_.end.isNaN) ||
          Clock.nowMs - lastEvent < 300)) Thread.sleep(50)
  }

  def all: Seq[Span] = spans.asScala.toSeq
  def named(name: String): Seq[Span] = all.filter(_.name == name)
  def jobsOf(op: String): Seq[JobRec] =
    jobs.values.asScala.filter(_.group == op).toSeq

  /** Write spans and job records as JSON lines. */
  def write(path: String): Unit = if (on) {
    val sb = new StringBuilder
    all.sortBy(_.start).foreach { s =>
      sb ++= Json.obj(Seq("op" -> Json.str(s.op), "name" -> Json.str(s.name),
        "start_ms" -> Json.num(s.start), "end_ms" -> Json.num(s.end)) ++
        s.attrs.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })
      sb += '\n'
    }
    jobs.values.asScala.toSeq.sortBy(_.id).foreach { j =>
      sb ++= Json.obj(Seq("op" -> Json.str(j.group),
        "name" -> Json.str(s"job-${j.id}"), "start_ms" -> Json.num(j.start),
        "end_ms" -> Json.num(j.end), "tasks" -> Json.num(j.tasks),
        "task_ms" -> Json.num(j.taskMs), "gc_ms" -> Json.num(j.gcMs),
        "shuffle_bytes" -> Json.num(j.shuffleBytes.toDouble)))
      sb += '\n'
    }
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), sb.toString)
  }

  /** The sources block for a set of op spans from their `plan`, `exec`
    * and `scan` child spans; the row-group ratio covers the scans whose
    * footer totals are known (`units`).
    */
  def sourcesLayer(ops: Seq[Span]): Map[String, Double] = {
    val byOp = all.groupBy(_.op)
    def child(n: String) = ops.flatMap(o => byOp(o.op).find(_.name == n))
    val scans = child("scan")
    val planned = scans.filter(_.attrs.contains("units"))
    Map(
      "sources.plan_ms" -> Stats.median(child("plan").map(_.ms)),
      "sources.exec_ms" -> Stats.median(child("exec").map(_.ms)),
      "sources.rg_read_ratio" -> Stats.ratio(
        Stats.sum(planned.map(_.attrs("partitions"))),
        Stats.sum(planned.map(_.attrs("units")))),
      "sources.useful_row_ratio" -> Stats.ratio(
        Stats.sum(scans.map(_.attrs("rows_useful"))),
        Stats.sum(scans.map(_.attrs("rows_decoded")))),
      "sources.read_mb_per_op" -> Stats.ratio(
        Stats.sum(ops.map(_.attrs("read_bytes"))) / 1048576.0, ops.size))
  }

  /** The Spark-scheduling block for a set of op spans: jobs, tasks, task
    * seconds, driver gap (op wall minus the union of its job intervals),
    * GC and shuffle, each per op.
    */
  def sparkLayer(ops: Seq[Span]): Map[String, Double] = {
    val n = math.max(ops.size, 1).toDouble
    var nJobs, nTasks = 0.0
    var taskMs, gapMs, gcMs, shuffle = 0.0
    ops.foreach { o =>
      val js = jobsOf(o.op)
      nJobs += js.size
      nTasks += js.map(_.tasks).sum
      taskMs += js.map(_.taskMs).sum
      shuffle += js.map(_.shuffleBytes).sum.toDouble
      gcMs += o.attrs.getOrElse("gc_ms", 0.0)
      val iv = js.filter(!_.end.isNaN).map(j =>
        (math.max(j.start, o.start), math.min(j.end, o.end)))
        .filter(i => i._2 > i._1)
      gapMs += o.ms - Stats.unionLength(iv)
    }
    Map("spark.jobs_per_op" -> nJobs / n, "spark.tasks_per_op" -> nTasks / n,
      "spark.task_s_per_op" -> taskMs / 1000 / n,
      "spark.driver_gap_ms_per_op" -> gapMs / n,
      "spark.gc_ms_per_op" -> gcMs / n,
      "spark.shuffle_mb_per_op" -> shuffle / 1048576 / n)
  }
}

/** What an executed plan says about its scans, read from Spark's own SQL
  * metrics after the action returned.
  */
final case class ScanStats(rowsDecoded: Double, rowsUseful: Double,
    partitions: Int)

object Plans {
  /** Every node of an executed plan, through AQE wrappers and stages. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case o => o +: (o.children ++ o.subqueries).flatMap(nodes)
  }
  private def metric(p: SparkPlan, k: String): Double =
    p.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
  private def isScan(p: SparkPlan): Boolean =
    p.isInstanceOf[BatchScanExec] || p.isInstanceOf[FileSourceScanExec]
  /** The scan under a node, looking through row/columnar adapters. */
  private def scanBelow(p: SparkPlan): Option[SparkPlan] =
    if (isScan(p)) Some(p)
    else if (p.children.size == 1 &&
        (p.nodeName.contains("ColumnarToRow") || p.nodeName == "InputAdapter"))
      scanBelow(p.children.head)
    else None

  def scans(df: DataFrame): ScanStats = {
    val all = nodes(df.queryExecution.executedPlan)
    val scanNodes = all.filter(isScan)
    val decoded = scanNodes.map(metric(_, "numOutputRows")).sum
    val filtered = all.collect { case f: FilterExec =>
      f.children.headOption.flatMap(scanBelow).map(s => (s, metric(f, "numOutputRows")))
    }.flatten
    val filteredScans = filtered.map(_._1).toSet
    val useful = filtered.map(_._2).sum + scanNodes
      .filterNot(filteredScans.contains).map(metric(_, "numOutputRows")).sum
    val parts = scanNodes.collect { case b: BatchScanExec =>
      b.inputPartitions.size }.sum
    ScanStats(decoded, useful, parts)
  }
}

/** Minimal JSON writer (the harness emits a handful of flat objects). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)
  def bool(b: Boolean): String = b.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}
