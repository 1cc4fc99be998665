package graftbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress,
  Trigger}

import graft.Tables
import graft.operators.Maintenance

/** The reference's tick pipeline, paced by one open-loop generator thread.
  * The generator writes `events`-schema parquet files with the parquet
  * library Spark ships and publishes each by atomic rename at its due
  * time. Hop 1 (`Tables.eventsStream` -> 1-minute bars -> `commitAppend`
  * into bronze) runs on the default trigger; hop 2 (bronze through the
  * graftpq streaming source -> broadcast coin dimension -> graftpq fact
  * sink partitioned by coin_id) runs every second. An op is one generated
  * file, timed from its due time to the end of the first fact trigger
  * that publishes it.
  */
final class TickStream extends Workload {
  val name = "tick_stream"
  val Coins = 100
  /** 100 coins x ~1 tick/s, as 4 files a second: more, smaller files
    * than one per 0.5 s, so that a run's 8 s give 32 latency samples.
    */
  val TicksPerFile = 25
  val MeanGapS = 0.25
  /** Files per cycle: the generator writes whole cycles of 8 s. */
  val CycleFiles = 32
  val WarmFiles = 3

  final case class Tick(seq: Int, dueMs: Long, var publishedMs: Long = 0L)

  private var in, bronze, fact = ""
  private var hop1, hop2: StreamingQuery = _
  private var dim: DataFrame = _
  private val versions = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  private val appendMs = new java.util.concurrent.ConcurrentLinkedQueue[(Double, Double)]()
  private val prices = Array.tabulate(Coins)(c => (c * 37 % 997 + 10).toDouble)
  private var rnd: scala.util.Random = _
  private var seq = 0

  /** Whole cycles covering at least `seconds`. */
  def files(seconds: Double): Int =
    math.max(1, math.ceil(seconds / MeanGapS / CycleFiles).toInt) * CycleFiles

  def shape(seed: Long, seconds: Double): Seq[(String, Long)] = {
    val offs = schedule(seed, seconds)
    Seq("files" -> offs.size.toLong,
      "ticks" -> offs.size.toLong * TicksPerFile,
      "span_s" -> math.ceil(offs.lastOption.getOrElse(0.0) / 1000).toLong,
      "coins" -> Coins.toLong)
  }

  /** Due offsets (ms from the phase start): seeded exponential gaps,
    * scaled so that for every seed the same number of files ends exactly
    * at the end of the phase.
    */
  def schedule(seed: Long, seconds: Double): Seq[Double] = {
    val r = new scala.util.Random(seed)
    val n = files(seconds)
    val gaps = (1 to n).map(_ => -math.log(1 - r.nextDouble()))
    // the last file is due 1 ms before the span ends
    val scale = (n * MeanGapS * 1000 - 1) / gaps.sum
    val due = gaps.scanLeft(0.0)(_ + _ * scale).tail
    // each file keeps its second, but the phases within the second are
    // spread evenly over the files by rank: the wait for the fact hop's
    // one-second trigger then averages out the same way for every seed
    val rank = due.indices.sortBy(k => due(k) % 1000).zipWithIndex.toMap
    due.indices.map(k =>
      math.floor(due(k) / 1000) * 1000 + (rank(k) + 0.5) * 1000 / n)
  }

  private val eventsType = MessageTypeParser.parseMessageType(
    """message events {
      |  required int64 event_id;
      |  required int64 ts (TIMESTAMP(MICROS,true));
      |  required int64 user_id;
      |  required binary event_type (STRING);
      |  required double value;
      |  required binary props (STRING);
      |}""".stripMargin)

  def coinName(c: Int): String = f"coin$c%03d"

  /** Write one tick file (half the coins, stamped with its due time) and
    * publish it by atomic rename.
    */
  private def writeFile(t: Tick): Unit = {
    val tmp = Paths.get(in, s".events-${t.seq}.parquet.tmp")
    val conf = new Configuration()
    val w = ExampleParquetWriter.builder(
        HadoopOutputFile.fromPath(new Path(tmp.toString), conf))
      .withType(eventsType).withConf(conf)
      .withCompressionCodec(CompressionCodecName.SNAPPY).build()
    val f = new SimpleGroupFactory(eventsType)
    try rnd.shuffle((0 until Coins).toList).take(TicksPerFile).zipWithIndex
      .foreach { case (c, j) =>
        prices(c) = math.rint(prices(c) * (1 + (rnd.nextDouble() - 0.5) * 0.002) * 1e4) / 1e4
        val g = f.newGroup()
          .append("event_id", t.seq.toLong * 1000 + j)
          .append("ts", t.dueMs * 1000)
          .append("user_id", c.toLong + 1)
          .append("event_type", coinName(c + 1))
          .append("value", prices(c))
          .append("props", s"""{"${coinName(c + 1)}":"${prices(c)}","timestamp":${t.dueMs / 1000.0}}""")
        w.write(g)
      }
    finally w.close()
    Files.move(tmp, Paths.get(in, f"events-${t.seq}%06d.parquet"),
      StandardCopyOption.ATOMIC_MOVE)
    t.publishedMs = System.currentTimeMillis()
  }

  private def bars(ticks: DataFrame): DataFrame = ticks
    .withWatermark("ts", "1 minute")
    .groupBy(col("event_type"), window(col("ts"), "1 minute"))
    .agg(
      (sum(round(col("value") * 100).cast("long")) / 100.0 / count(lit(1)))
        .as("average_1minute"),
      max_by(col("value"), col("ts")).as("price"),
      count(lit(1)).as("n_ticks"))
    .select(col("event_type"), col("window.start").as("window_start"),
      col("average_1minute"), col("price"), col("n_ticks"))

  private def enrich(b: DataFrame): DataFrame = {
    val ws = col("window_start")
    b.join(broadcast(dim), Seq("event_type"), "left").select(
      col("type_id").as("coin_id"), ws,
      (year(ws) * 10000 + month(ws) * 100 + dayofmonth(ws)).as("date_id"),
      (hour(ws) * 10000 + minute(ws) * 100).as("time_id"),
      col("price"), (col("price") * col("supply")).as("market_cap"),
      ((col("price") - col("last_price")) / col("last_price") * 100.0)
        .as("change_percent_last_day"),
      col("average_1minute"), col("n_ticks"),
      lit("2024-02-01 00:00:00").as("created_at"))
  }

  private def nextTick(offsetMs: Double, startMs: Long): Tick = {
    seq += 1
    Tick(seq, startMs + math.round(offsetMs))
  }

  /** Pace `offs` from `startMs`: sleep to each due time, then write. */
  private def generate(offs: Seq[Double], startMs: Long): Seq[Tick] = {
    val ticks = offs.map(o => nextTick(o, startMs))
    ticks.foreach { t =>
      val wait = t.dueMs - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      writeFile(t)
    }
    ticks
  }

  private def factVersion(p: StreamingQueryProgress): Long =
    p.sources.headOption.flatMap(s => Option(s.endOffset))
      .map(_.trim.split(':').head.toLong).getOrElse(-1L)
  private def endMs(p: StreamingQueryProgress): Double =
    Instant.parse(p.timestamp).toEpochMilli +
      p.durationMs.asScala.get("triggerExecution").map(_.toDouble).getOrElse(0.0)
  private def maxEventMs(p: StreamingQueryProgress): Long =
    Option(p.eventTime.get("max")).map(Instant.parse(_).toEpochMilli)
      .getOrElse(-1L)

  /** For each tick: (ms it became visible in bronze, ms in the fact). */
  private def visibility(ticks: Seq[Tick]): Seq[(Tick, Double, Double)] = {
    val p1 = hop1.recentProgress.toSeq.filter(_.numInputRows > 0)
    val p2 = hop2.recentProgress.toSeq.filter(_.numInputRows > 0)
    ticks.map { t =>
      p1.find(p => maxEventMs(p) >= t.dueMs) match {
        case Some(b) =>
          val v = Option(versions.get(b.batchId)).getOrElse(Long.MaxValue)
          val fe = p2.find(p => factVersion(p) >= v).map(endMs)
            .getOrElse(Double.NaN)
          (t, endMs(b), fe)
        case None => (t, Double.NaN, Double.NaN)
      }
    }
  }

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    rnd = new scala.util.Random(ctx.seed * 31 + 1)
    val root = ctx.prepare { d =>
      Files.createDirectories(Paths.get(s"$d/in"))
    }
    in = s"$root/in"; bronze = s"$root/bronze"; fact = s"$root/fact"
    import spark.implicits._
    val dr = new scala.util.Random(ctx.seed)
    dim = (1 to Coins).map(c => (coinName(c), c.toLong, c * 1000.0,
      math.rint((c * 37 % 997 + 10) * (0.95 + dr.nextDouble() * 0.1) * 1e4) / 1e4))
      .toDF("event_type", "type_id", "supply", "last_price")
    val t0 = Clock.nowMs
    val now = System.currentTimeMillis()
    generate(Seq(0.0), now) // the stream's schema comes from a footer
    val write: (Dataset[Row], Long) => Unit = (df, id) => {
      val a = Clock.nowMs
      versions.put(id, Maintenance.commitAppend(spark, bronze, df.toDF()))
      appendMs.add((a, Clock.nowMs))
    }
    hop1 = bars(Tables.eventsStream(spark, in)).writeStream
      .outputMode("update").foreachBatch(write)
      .option("checkpointLocation", s"$root/_chk_bronze").start()
    while (versions.isEmpty) Thread.sleep(20)
    hop2 = enrich(spark.readStream.format("graftpq").load(bronze)).writeStream
      .format("graftpq").option("checkpointLocation", s"$root/_chk_fact")
      .option("partitionBy", "coin_id")
      .trigger(Trigger.ProcessingTime("1 second")).start(fact)
    // warm-up: a few paced files through both hops
    val warm = generate((1 to WarmFiles).map(_ * MeanGapS * 1000),
      System.currentTimeMillis())
    awaitFact(warm.last, 60000)
    ctx.warmMs = Clock.nowMs - t0
  }

  private def awaitFact(t: Tick, limitMs: Long): Unit = {
    val until = System.currentTimeMillis() + limitMs
    while (System.currentTimeMillis() < until &&
        visibility(Seq(t)).head._3.isNaN) Thread.sleep(100)
  }

  def measure(ctx: Ctx, traced: Boolean, seconds: Double): Outcome = {
    val spark = ctx.spark
    val offs = schedule(ctx.seed, seconds)
    ctx.timedStartMs = Clock.nowMs
    // start on a whole second, so the schedule meets the fact hop's
    // one-second trigger grid at the same phase in every run
    val start = (System.currentTimeMillis() / 1000 + 1) * 1000
    val trace = new Trace(traced)
    // traced runs attach the listener halfway: the first half is the
    // untraced baseline for trace.overhead_ratio
    val span = offs.last
    val (firstHalf, secondHalf) =
      if (traced) offs.partition(_ < span / 2) else (offs, Nil)
    val ticks1 = generate(firstHalf, start)
    if (traced) trace.attach(spark)
    val tracedFrom = Clock.nowMs
    val gc0 = ctx.gcMs
    val ticks2 = generate(secondHalf, start)
    val ticks = ticks1 ++ ticks2
    awaitFact(ticks.last, 30000)
    ctx.endTimed()
    val gcTraced = ctx.gcMs - gc0
    val vis = visibility(ticks)
    val lat = vis.map { case (t, _, f) => f - t.dueMs }
    val missing = lat.count(_.isNaN)
    val latOk = (ts: Seq[Tick]) => vis.filter(v => ts.contains(v._1))
      .map { case (t, _, f) => f - t.dueMs }.filterNot(_.isNaN)
    val measured = if (traced) latOk(ticks2) else latOk(ticks)
    val base = if (traced) latOk(ticks1) else Nil
    // files completed per second of the timed phase, from the first due
    // time to the last fact publish. At a fixed offered rate an open loop's
    // throughput moves only as far as the pipeline falls behind; a rate
    // built from trigger durations spread too widely between runs to gate.
    val lastFact = vis.map(_._3).filterNot(_.isNaN).maxOption.getOrElse(Double.NaN)
    val opsPerS = ticks.size / ((lastFact - ticks.head.dueMs) / 1000)
    val lateMs = ticks.map(t => (t.publishedMs - t.dueMs).toDouble)

    // gate: the newest fact row of every (coin, minute) equals a batch
    // aggregation of every generated tick. The fact's files are read with
    // Spark's built-in parquet reader, a reader independent of the sink.
    hop1.stop(); hop2.stop()
    ctx.measureHeap()
    val errors = mutable.Buffer[String]()
    if (missing > 0) errors += s"$missing tick files never reached the fact table"
    var mismatch = 0
    val factRows = spark.read.parquet(fact)
      .groupBy("coin_id", "window_start").agg(max_by(
        struct("average_1minute", "price", "n_ticks"), col("n_ticks")).as("r"))
      .select(col("coin_id").cast("long").as("coin_id"), col("window_start"),
        col("r.average_1minute"), col("r.price"), col("r.n_ticks"))
    val all = enrich(bars(spark.read.parquet(s"$in/events-*.parquet")))
      .select(col("coin_id").cast("long").as("coin_id"), col("window_start"),
        col("average_1minute"), col("price"), col("n_ticks"))
    val Seq(a, b) = Par.map(Seq(factRows, all), 2)(d => Digest.rows(d.collect().toSeq))
    if (a != b) {
      mismatch = 1
      errors += s"fact windows differ from the batch aggregation ($a vs $b)"
    }

    val layer = if (!traced) Map.empty[String, Double] else {
      trace.drain()
      val win = (p: StreamingQueryProgress) =>
        Instant.parse(p.timestamp).toEpochMilli >= tracedFrom
      def hop(h: String, q: StreamingQuery, visibleAt: ((Tick, Double, Double)) => Double) = {
        val ps = q.recentProgress.toSeq.filter(p => p.numInputRows > 0 && win(p))
        val d = (k: String) => ps.map(_.durationMs.asScala.get(k)
          .map(_.toDouble).getOrElse(0.0))
        val wall = ctx.timedEndMs - tracedFrom
        val backlog = vis.map { case (t, _, _) =>
          vis.count(v => v._1.publishedMs <= t.publishedMs &&
            !(visibleAt(v) <= t.publishedMs)).toDouble
        }
        Map(s"streaming.$h.trigger_ms" -> Stats.median(d("triggerExecution")),
          s"streaming.$h.trigger_p90_ms" -> Stats.quantile(d("triggerExecution"), 0.9),
          s"streaming.$h.busy_ratio" -> Stats.sum(d("triggerExecution")) / wall,
          s"streaming.$h.backlog_max" -> backlog.maxOption.getOrElse(0.0)) ++
          Layers.triggerParts.map(k => s"streaming.$h.${k}_ms" -> Stats.median(d(k)))
      }
      // one span per file (due time to fact publish) and per trigger
      vis.filter(v => ticks2.contains(v._1)).foreach { case (t, b, f) =>
        trace.record(Span(s"file-${t.seq}", "tick", t.dueMs, f,
          Map("bronze_ms" -> (b - t.dueMs), "late_ms" -> (t.publishedMs - t.dueMs).toDouble)))
      }
      Seq("bronze" -> hop1, "fact" -> hop2).foreach { case (h, q) =>
        q.recentProgress.toSeq.filter(win).foreach { p =>
          trace.record(Span(s"$h-${p.batchId}", s"trigger:$h",
            Instant.parse(p.timestamp).toEpochMilli.toDouble, endMs(p),
            p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.toMap +
              ("rows" -> p.numInputRows.toDouble)))
        }
      }
      val states = hop1.recentProgress.toSeq.filter(win).flatMap(_.stateOperators.headOption)
      val jobs = trace.jobs.values.asScala.filter(_.start >= tracedFrom).toSeq
      // driver time of each trigger: its wall minus the union of its jobs
      val gapMs = Seq(hop1, hop2).flatMap(_.recentProgress.toSeq.filter(win))
        .map { p =>
          val t0 = Instant.parse(p.timestamp).toEpochMilli.toDouble
          val t1 = endMs(p)
          val iv = jobs.filter(j => j.start >= t0 && j.start < t1 && !j.end.isNaN)
            .map(j => (j.start, math.min(j.end, t1)))
          t1 - t0 - Stats.unionLength(iv)
        }
      val n = math.max(ticks2.size, 1).toDouble
      val appends = appendMs.asScala.filter(_._1 >= tracedFrom).map(a => a._2 - a._1).toSeq
      hop("bronze", hop1, _._2) ++ hop("fact", hop2, _._3) ++ Map(
        "streaming.bronze.state_rows" -> states.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0),
        "streaming.bronze.state_mb" -> states.lastOption.map(_.memoryUsedBytes / 1048576.0).getOrElse(0.0),
        "streaming.bronze.state_commit_ms" -> Stats.median(states.map(_.commitTimeMs.toDouble)),
        "gen.late_ms_max" -> lateMs.max,
        "gen.ticks" -> ticks.size.toDouble * TicksPerFile,
        "maintenance.append_ms" -> Stats.median(appends),
        "spark.jobs_per_op" -> jobs.size / n,
        "spark.tasks_per_op" -> jobs.map(_.tasks).sum / n,
        "spark.task_s_per_op" -> jobs.map(_.taskMs).sum / 1000 / n,
        "spark.driver_gap_ms_per_op" -> Stats.sum(gapMs) / n,
        "spark.gc_ms_per_op" -> gcTraced / n,
        "spark.shuffle_mb_per_op" -> jobs.map(_.shuffleBytes).sum / 1048576.0 / n)
    }
    trace.write(ctx.traceOut)
    Outcome(measured, base, opsPerS, ticks.size, missing + mismatch,
      errors.toSeq, layer,
      Seq("gen_late_ms_max" -> Json.num(lateMs.max),
        "generator_bound" -> Json.bool(lateMs.max > 250)))
  }
}
