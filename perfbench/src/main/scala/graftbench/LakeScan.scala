package graftbench

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Maintenance

/** Dashboard SQL over a silver-fact-shaped tick table, held three ways:
  * a committed graftpq table (`Maintenance.commitAppend`), a zstd parquet
  * directory written by Spark (a foreign writer) and a graftorc zstd copy.
  * One closed-loop client runs five dashboard shapes on each copy.
  */
final class LakeScan extends Workload {
  val name = "lake_scan"
  val Rows = 300000L
  val Files = 16
  val Coins = 100
  val StepS = 864L // one tick per coin every 864 s: 30 days of ticks
  val ParamSets = 2
  val SecondsPerCycle = 3.5
  val kinds = Seq("full", "day", "top10", "stats", "point")

  final case class Copy(name: String, layer: String, dir: String,
      read: SparkSession => DataFrame, builtin: SparkSession => DataFrame)

  private var copies: Seq[Copy] = Nil
  private var baseS = 0L
  /** (day index, coin, hour index) per parameter set. */
  private var params: IndexedSeq[(Int, Int, Int)] = IndexedSeq.empty
  private val units = mutable.Map[String, Int]() // row groups / stripes
  private var logicalBytes = 0L // uncompressed parquet bytes of the rows
  private val setupErrors = mutable.Buffer[String]()

  def shape(seed: Long, seconds: Double): Seq[(String, Long)] = Seq(
    "rows" -> Rows, "files_per_copy" -> Files.toLong,
    "op_kinds" -> (kinds.size * 3).toLong, "param_sets" -> ParamSets.toLong,
    "timed_cycles" -> ClosedLoop.cycles(seconds, SecondsPerCycle).toLong)

  def generate(spark: SparkSession, seed: Long): DataFrame = {
    val u = (salt: Int) =>
      pmod(xxhash64(lit(seed), lit(salt), col("id")), lit(1000000L)) / 1e6
    val coin = (col("id") % Coins + 1).cast("int")
    val tick = (col("id") / Coins).cast("long")
    val base = (coin * 37 % 997 + 10).cast("double")
    val price = base * exp(sin(tick / 700.0 + coin) * 0.3) * (u(1) * 0.02 + 0.99)
    spark.range(0, Rows, 1, Files).select(
      coin.as("coin_id"),
      timestamp_seconds(lit(baseS) + tick * StepS).as("ts"),
      round(price, 4).as("price"),
      round(price * (coin * 1000003L % 99991 + 1000), 2).as("market_cap"),
      round((u(2) - 0.5) * 20, 4).as("change_pct"),
      date_format(timestamp_seconds(lit(baseS) + tick * StepS),
        "yyyy-MM-dd HH:00:00").as("created_at"))
  }

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val rnd = new scala.util.Random(ctx.seed)
    baseS = 1704067200L + (math.abs(ctx.seed) % 97) * 86400L
    params = (0 until ParamSets).map(_ =>
      (1 + rnd.nextInt(27), 1 + rnd.nextInt(Coins), rnd.nextInt(24 * 28)))
    val root = ctx.prepare { d =>
      val df = generate(spark, ctx.seed)
      Par.map(Seq[() => Unit](
        () => Maintenance.commitAppend(spark, s"$d/graftpq_table", df),
        () => df.write.option("compression", "zstd").parquet(s"$d/spark_zstd"),
        () => df.write.format("graftorc").mode("overwrite")
          .save(s"$d/graftorc_zstd")), 3)(_())
    }
    copies = Seq(
      Copy("graftpq", "graftpq_snappy", s"$root/graftpq_table",
        _.read.format("graftpq").load(s"$root/graftpq_table"),
        _.read.parquet(s"$root/graftpq_table")),
      Copy("sparkpq", "spark_pq_zstd", s"$root/spark_zstd",
        _.read.format("graftpq").load(s"$root/spark_zstd"),
        _.read.parquet(s"$root/spark_zstd")),
      Copy("graftorc", "graftorc_zstd", s"$root/graftorc_zstd",
        _.read.format("graftorc").load(s"$root/graftorc_zstd"),
        _.read.orc(s"$root/graftorc_zstd")))
    // footers read with the parquet and ORC libraries Spark ships
    val conf = new Configuration()
    copies.foreach { c =>
      val files = Walk.tree(c.dir).files.keys.filter(Walk.isData).toSeq
      val perFile = files.map { rel =>
        val p = new Path(s"${c.dir}/$rel")
        if (rel.endsWith(".orc"))
          (org.apache.orc.OrcFile.createReader(p,
            org.apache.orc.OrcFile.readerOptions(conf)).getStripes.size, 0L, 0L)
        else {
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
          try {
            val b = r.getFooter.getBlocks
            (b.size, (0 until b.size).map(b.get(_).getTotalByteSize).sum,
              (0 until b.size).map(b.get(_).getRowCount).sum)
          } finally r.close()
        }
      }
      units(c.name) = perFile.map(_._1).sum
      if (c.name == "sparkpq") {
        logicalBytes = perFile.map(_._2).sum
        if (perFile.map(_._3).sum != Rows || units(c.name) != Files)
          setupErrors += s"spark copy holds ${perFile.map(_._3).sum} rows " +
            s"in ${units(c.name)} row groups, expected $Rows in $Files"
      }
    }
    // warm-up: every (shape, copy) once, untimed
    val t0 = Clock.nowMs
    for (k <- kinds; c <- copies) query(k, 0)(c.read(spark)).collect()
    ctx.warmMs = Clock.nowMs - t0
  }

  /** The five dashboard shapes. Sums go through integer cents so the
    * result does not depend on the order doubles are added in.
    */
  def query(kind: String, p: Int)(df: DataFrame): DataFrame = {
    val (day, coin, hour) = params(p)
    val dayStart = baseS + day * 86400L
    val hourStart = baseS + hour * 3600L
    val cents = (c: String) => sum(round(col(c) * 100).cast("long"))
    kind match {
      case "full" => df.groupBy("coin_id").agg(count(lit(1)).as("n"),
        cents("price").as("price_c"), max("market_cap").as("cap"),
        cents("change_pct").as("chg_c"), min("ts").as("first"),
        max("created_at").as("loaded"))
      case "day" => df.filter(col("ts") >= timestamp_seconds(lit(dayStart)) &&
          col("ts") < timestamp_seconds(lit(dayStart + 86400L)))
        .groupBy("coin_id").agg(count(lit(1)).as("n"),
          cents("price").as("price_c"), max("price").as("hi"))
      case "top10" => df.orderBy(desc("market_cap"), asc("coin_id"), asc("ts"))
        .limit(10).select("coin_id", "ts", "market_cap")
      case "stats" => df.agg(count(lit(1)).as("n"), min("ts").as("t0"),
        max("ts").as("t1"), min("price").as("lo"), max("price").as("hi"))
      case "point" => df.filter(col("coin_id") === coin &&
          col("ts") >= timestamp_seconds(lit(hourStart)) &&
          col("ts") < timestamp_seconds(lit(hourStart + 3600L)))
        .select("coin_id", "ts", "price", "market_cap", "change_pct",
          "created_at")
    }
  }

  /** Op `i`: a seeded order of all 15 (shape, copy) pairs per cycle, and
    * parameter set `cycle % ParamSets` for the shapes that take one.
    */
  private def schedule(seed: Long): Int => (String, Copy, Int) = {
    val pairs = for (k <- kinds; c <- copies) yield (k, c)
    i => {
      val cycle = i / pairs.size
      val order = new scala.util.Random(seed * 1000003L + cycle).shuffle(pairs)
      val (k, c) = order(i % pairs.size)
      (k, c, if (Seq("day", "point").contains(k)) cycle % ParamSets else 0)
    }
  }

  def measure(ctx: Ctx, traced: Boolean, seconds: Double): Outcome = {
    val spark = ctx.spark
    val sched = schedule(ctx.seed)
    val seen = mutable.Buffer[((String, String, Int), String)]()
    val spanKey = mutable.Map[String, (String, String)]()
    def next(i: Int): Op = {
      val (k, c, p) = sched(i)
      new Op {
        val kind = s"$k@${c.name}"
        def run(ctx: Ctx, trace: Trace, id: String): Boolean = {
          val df = query(k, p)(c.read(spark))
          trace.span(id, "plan")(df.queryExecution.executedPlan)
          val rows = trace.span(id, "exec")(df.collect())
          if (trace.on) {
            val s = Plans.scans(df)
            trace.record(Span(id, "scan", 0, 0, Map(
              "rows_decoded" -> s.rowsDecoded, "rows_useful" -> s.rowsUseful,
              "partitions" -> s.partitions.toDouble,
              "units" -> units(c.name).toDouble)))
            spanKey(id) = (k, c.layer)
          }
          seen += (((k, c.name, p), Digest.rows(rows.toSeq)))
          true
        }
      }
    }
    val ph = ClosedLoop.phase(ctx, traced,
      ClosedLoop.cycles(seconds, SecondsPerCycle), 0, kinds.size * 3, next)

    // gate: every op's result equals the same query through Spark's
    // built-in readers. The copies hold the same rows (checked on the
    // full aggregate through each copy's built-in reader), so the
    // parameterized shapes are answered once, from the Spark-written copy.
    val builtin = (k: String, c: Copy, p: Int) =>
      Digest.rows(query(k, p)(c.builtin(spark)).collect().toSeq)
    val sparkCopy = copies.find(_.name == "sparkpq").get
    val keys = seen.toSeq.map { case ((k, _, p), _) => (k, p) }.distinct
    val others = copies.filter(_ != sparkCopy)
    val answers = Par.map(keys.map(kp => (kp, sparkCopy)) ++
        others.map(c => (("full", 0), c)), ctx.cores) {
      case ((k, p), c) => builtin(k, c, p)
    }
    val expected = keys.zip(answers).toMap
    val sameRows = others.zip(answers.drop(keys.size)).filter { case (_, d) =>
      !expected.get(("full", 0)).contains(d) }.map(_._1.name)
    val wrong = seen.count { case ((k, _, p), got) => expected((k, p)) != got } +
      sameRows.size
    val errors = setupErrors.toSeq ++ ph.all.filter(!_.ok).map(_.error) ++
      sameRows.map(c => s"$c copy holds other rows than the Spark copy") ++
      (if (wrong > 0) Seq(s"$wrong results differ from Spark's built-in readers")
       else Nil)

    val layer = if (!traced) Map.empty[String, Double] else {
      val trace = ph.trace
      trace.drain()
      val ops = ph.spans
      val byOp = trace.all.groupBy(_.op)
      val decode = Layers.all.map(_._1).filter(_.startsWith("sources.decode")).map { m =>
        val execs = ops.filter(o => spanKey.get(o.op).contains(("full", m.split('.').last)))
          .flatMap(o => byOp(o.op).find(_.name == "exec")).map(_.ms)
        m -> Stats.ratio(logicalBytes / 1048576.0, Stats.median(execs) / 1000)
      }
      trace.sourcesLayer(ops) ++ decode ++ trace.sparkLayer(ops)
    }
    ph.trace.write(ctx.traceOut)
    Outcome(ph.measured.map(_.ms), ph.baseline.map(_.ms), ph.opsPerS,
      ph.all.size, ph.all.count(!_.ok) + wrong, errors, layer,
      Outcome.kindMedians(ph.all))
  }
}
