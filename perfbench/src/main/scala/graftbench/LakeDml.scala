package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Maintenance

/** Table DML on a committed silver-fact table partitioned by coin_id. One
  * cycle is one day of the reference's DataCreator batch job
  * (`AutomateTable.py:105-113`): an SCD2 merge that expires changed rows
  * (`populate_dim.py:153-163`), an append of their new versions (`:165`),
  * two appends for the daily coin loads (`udf.py:85-99`), then a
  * compaction and a vacuum (`optimize_vacuum_storage`,
  * `AutomateTable.py:97-103`). Five more appends stand for the fact
  * stream's commits, the reference's most frequent write (60 of them per
  * OPTIMIZE, `udf.py:77-78`); their count is a choice that puts the
  * median op in the middle of the appends and keeps a cycle near 12 s
  * on 4 cores. The cycle
  * goes on with one each of the kinds DataCreator does not run but a
  * lake's users do: a read, a delete, an update, a time-travel read and a
  * history listing; their commits after the vacuum keep versions the
  * gate can time-travel to. One closed-loop client.
  */
final class LakeDml extends Workload {
  val name = "lake_dml"
  val InitialRows = 100000
  val Coins = 100
  /** The warm-up table: the same rows per coin, a tenth of the coins. */
  val WarmCoins = 10
  val Days = 30
  val AppendRows = 2000
  val MergeRows = 1000
  val SecondsPerCycle = 12.0
  /** One cycle of ops, in order. The warm-up runs every kind once, in
    * this order, on a small table of its own, so every op kind's code is
    * loaded and compiled before the timed cycles start.
    */
  val cycle: Seq[String] = Seq("merge") ++ Seq.fill(8)("append") ++
    Seq("compact", "vacuum", "read", "delete", "update", "read_asof",
      "history")

  val schema: StructType = StructType(Seq(
    StructField("fact_key", LongType), StructField("coin_id", IntegerType),
    StructField("date_id", IntegerType), StructField("time_id", IntegerType),
    StructField("price", DoubleType), StructField("market_cap", DoubleType),
    StructField("change_pct", DoubleType),
    StructField("average_1minute", DoubleType),
    StructField("created_at", StringType)))
  val cols: Seq[String] = schema.fieldNames.toSeq

  private var table, warmTable = ""
  private var initial: DataFrame = _

  /** An executed op, with what the replay needs to redo it. */
  final case class Done(op: String, kind: String, version: Long,
      input: Option[DataFrame], pred: Option[Column],
      set: Option[(String, Column)])

  def shape(seed: Long, seconds: Double): Seq[(String, Long)] =
    Seq("initial_rows" -> InitialRows.toLong, "coins" -> Coins.toLong,
      "warm_coins" -> WarmCoins.toLong,
      "append_rows" -> AppendRows.toLong, "merge_rows" -> MergeRows.toLong,
      "timed_cycles" -> ClosedLoop.cycles(seconds, SecondsPerCycle).toLong) ++
      cycle.groupBy(identity).toSeq.sortBy(_._1).map { case (k, v) =>
        s"cycle.$k" -> v.size.toLong }

  def initialRows(spark: SparkSession, seed: Long, coins: Int): DataFrame = {
    val u = (salt: Int) =>
      pmod(xxhash64(lit(seed), lit(salt), col("id")), lit(1000000L)) / 1e6
    val coin = (col("id") % coins + 1).cast("int")
    val price = round((coin * 37 % 997 + 10) * (u(1) * 0.2 + 0.9), 4)
    spark.range(0, InitialRows / Coins * coins, 1, 1).select(
      col("id").as("fact_key"), coin.as("coin_id"),
      (lit(20240101) + (col("id") / coins % Days)).cast("int").as("date_id"),
      (pmod(col("id") * 7919, lit(86400)) / 60 * 100).cast("int").as("time_id"),
      price.as("price"), round(price * (coin * 1000 + 7), 2).as("market_cap"),
      round((u(2) - 0.5) * 20, 4).as("change_pct"),
      round(price * (u(3) * 0.02 + 0.99), 4).as("average_1minute"),
      lit("2024-02-01 00:00:00").as("created_at"))
  }

  /** `n` generated fact rows for op `i`; keys from `firstKey` on. */
  def rows(spark: SparkSession, seed: Long, i: Int, n: Int, firstKey: Long,
      coins: Seq[Int], keys: Option[Seq[Long]] = None): DataFrame = {
    val r = new scala.util.Random(seed * 7919L + i)
    val data = (0 until n).map { j =>
      val c = coins(j % coins.size)
      val p = math.rint((c * 37 % 997 + 10) * (0.9 + r.nextDouble() * 0.2) * 1e4) / 1e4
      Row(keys.map(_(j)).getOrElse(firstKey + j), c,
        20240101 + r.nextInt(Days), r.nextInt(1440) * 100, p,
        math.rint(p * (c * 1000 + 7) * 100) / 100,
        math.rint((r.nextDouble() - 0.5) * 20 * 1e4) / 1e4,
        math.rint(p * (0.99 + r.nextDouble() * 0.02) * 1e4) / 1e4,
        f"2024-02-${2 + i % 27}%02d 00:00:00")
    }
    spark.createDataFrame(java.util.Arrays.asList(data: _*), schema)
  }

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    initial = initialRows(spark, ctx.seed, Coins)
    val root = ctx.prepare { d =>
      // one commit, one file per coin
      Maintenance.commitAppend(spark, s"$d/warm",
        initialRows(spark, ctx.seed + 1, WarmCoins), partitionBy = Seq("coin_id"))
      Maintenance.commitAppend(spark, s"$d/fact", initial,
        partitionBy = Seq("coin_id"))
    }
    warmTable = s"$root/warm"
    table = s"$root/fact"
  }

  def read(spark: SparkSession, df: DataFrame, coin: Int): DataFrame =
    df.filter(col("coin_id") === coin).agg(count(lit(1)).as("n"),
      sum(round(col("price") * 100).cast("long")).as("price_c"),
      max("date_id").as("last_day"))

  /** One table and the state its op sequence carries: what the gate
    * replays, the reads it checks and the directory walks of traced ops.
    */
  final class Lane(spark: SparkSession, seed: Long, val table: String,
      coins: Int, rowsPerCoin: Int) {
    val done = mutable.Buffer[Done]()
    val firstVersion: Long = Maintenance.readVersion(table)
    var lastRewrite: Long = firstVersion
    val readResults = mutable.Buffer[(Long, Int, String)]()
    val walks = mutable.Map[String, (Walk.Tree, Walk.Tree)]()
    private val appends = cycle.count(_ == "append")
    private val perAppend = math.max(1, coins / 10)

    def next(i: Int): Op = {
      val k = cycle(i % cycle.size)
      // a cycle's appends write disjoint slices of a seeded permutation of
      // the coins and its merge the slice after them, so every op meets
      // the same file layout whatever the seed
      val perm = new scala.util.Random(seed * 31L + i / cycle.size)
        .shuffle((1 to coins).toList)
      val r = new scala.util.Random(seed * 1000003L + i)
      // reads, deletes and updates hit a coin one append of this cycle
      // wrote and the compaction left alone
      val coin = perm(r.nextInt((appends - 1) * perAppend))
      val day = 20240101 + r.nextInt(Days)
      new Op {
        val kind: String = k
        def run(ctx: Ctx, trace: Trace, id: String): Boolean = {
          val before = if (trace.on) Walk.tree(table) else null
          val d = kind match {
            case "append" =>
              val j = cycle.take(i % cycle.size).count(_ == "append")
              val cs = perm.slice(j * perAppend, (j + 1) * perAppend)
              val in = rows(spark, seed, i, AppendRows,
                10000000L + i * 10000L, cs)
              Some(Done(id, kind, Maintenance.commitAppend(spark, table, in),
                Some(in), None, None))
            case "merge" =>
              // SCD2-style upsert: half the keys exist, half are new
              val cs = perm.slice(appends * perAppend,
                appends * perAppend + math.max(1, coins / 20))
              val old = r.shuffle((0 until rowsPerCoin).toList)
                .take(MergeRows / 2)
              val keys = (0 until MergeRows).map(j =>
                if (j % 2 == 0) old(j / 2).toLong * coins + cs(j % cs.size) - 1
                else 10000000L + i * 10000L + j)
              val in = rows(spark, seed, i, MergeRows, 0L, cs, Some(keys))
              Some(Done(id, kind, Maintenance.mergeInto(spark, table, in,
                "fact_key").version, Some(in), None, None))
            case "delete" =>
              val p = col("coin_id") === coin && col("date_id") === day
              Some(Done(id, kind, Maintenance.deleteWhere(spark, table, p).version,
                None, Some(p), None))
            case "update" =>
              val p = col("coin_id") === coin && col("date_id") === day
              val set = "price" -> round(col("price") * 1.01, 4)
              Some(Done(id, kind, Maintenance.updateWhere(spark, table, p,
                Map(set)).version, None, Some(p), Some(set)))
            case "compact" =>
              // a coin the last append gave a second file
              val c = perm((appends - 1) * perAppend)
              Maintenance.compactWhere(spark, table, "coin_id", c, c, 1)
              lastRewrite = Maintenance.readVersion(table)
              Some(Done(id, kind, lastRewrite, None, None, None))
            case "vacuum" =>
              Maintenance.vacuum(table, System.currentTimeMillis())
              lastRewrite = Maintenance.readVersion(table)
              None
            case "read_asof" =>
              val v = math.max(lastRewrite, Maintenance.readVersion(table) - 2)
              // a version an append wrote: time travel past rewrites fails
              // loudly by design, so the read stays after the last one
              val df = trace.span(id, "plan") {
                val q = read(spark, Maintenance.readAsOf(spark, table, v), coin)
                q.queryExecution.executedPlan
                q
              }
              readResults += ((v, coin, Digest.rows(df.collect().toSeq)))
              None
            case "history" =>
              Maintenance.history(spark, table).collect()
              None
            case "read" =>
              val v = Maintenance.readVersion(table)
              val df = trace.span(id, "plan") {
                val q = read(spark, Maintenance.readTable(spark, table), coin)
                q.queryExecution.executedPlan
                q
              }
              readResults += ((v, coin, Digest.rows(df.collect().toSeq)))
              None
          }
          d.foreach(done += _)
          if (trace.on) walks(id) = (before, Walk.tree(table))
          true
        }
      }
    }
  }

  def measure(ctx: Ctx, traced: Boolean, seconds: Double): Outcome = {
    val spark = ctx.spark
    val off = new Trace(false)
    // warm-up: every kind once on the small table, untimed
    val warm = new Lane(spark, ctx.seed + 1, warmTable, WarmCoins,
      InitialRows / Coins)
    val t0 = Clock.nowMs
    cycle.indices.filter(i => cycle.indexOf(cycle(i)) == i)
      .foreach(i => warm.next(i).run(ctx, off, s"warm-$i"))
    ctx.warmMs = Clock.nowMs - t0
    val lane = new Lane(spark, ctx.seed, table, Coins, InitialRows / Coins)
    import lane.{done, lastRewrite, readResults, walks}
    val ph = ClosedLoop.phase(ctx, traced,
      ClosedLoop.cycles(seconds, SecondsPerCycle), 0, cycle.size, lane.next)

    // gate: replay the committed ops on plain DataFrames
    val errors = mutable.Buffer[String]()
    errors ++= ph.all.filter(!_.ok).map(_.error)
    val ordered = (df: DataFrame) =>
      df.select(cols.map(c => col(c).cast(schema(c).dataType)): _*)
    var model = initial
    val atVersion = mutable.Map[Long, DataFrame](lane.firstVersion -> initial)
    done.foreach { d =>
      model = d.kind match {
        case "append" => model.unionByName(d.input.get)
        case "merge" => model.join(d.input.get.select("fact_key"),
          Seq("fact_key"), "left_anti").unionByName(d.input.get)
        case "delete" => model.filter(not(d.pred.get))
        case "update" => val (c, e) = d.set.get
          model.withColumn(c, when(d.pred.get, e).otherwise(col(c)))
        case _ => model
      }
      atVersion(d.version) = model
    }
    val digestOf = (df: DataFrame) => Digest.table(ordered(df))
    val last = model
    // sampled time travel: up to two versions after the last rewrite
    val sampled = atVersion.keys.toSeq.filter(_ >= lastRewrite).sorted
      .takeRight(3).dropRight(1)
    val checks: Seq[() => Option[String]] =
      Seq(() => Option.when(digestOf(Maintenance.readTable(spark, table)) !=
        digestOf(last))("final table differs from the replayed op sequence")) ++
      sampled.map(v => () => Option.when(digestOf(Maintenance.readAsOf(spark,
        table, v)) != digestOf(atVersion(v)))(
        s"readAsOf($v) differs from the replayed op sequence")) ++
      // every timed read must agree with the replay at the version it read
      readResults.toSeq.map { case (v, coin, got) => () => Option.when(
        !atVersion.get(v).exists(m =>
          Digest.rows(read(spark, m, coin).collect().toSeq) == got))(
        s"read of version $v differs from the replay") }
    // twice as many threads as cores: much of each check is driver-side
    errors ++= Par.map(checks, 2 * ctx.cores)(_()).flatten
    val gateErrors = errors.size - ph.all.count(!_.ok)

    val layer = if (!traced) Map.empty[String, Double] else {
      val trace = ph.trace
      trace.drain()
      val ops = ph.spans
      val kindOf = ph.measured.flatMap(r => r.span.map(_.op -> r.kind)).toMap
      val commits = ops.filter(o => Seq("append", "merge", "delete", "update",
        "compact").contains(kindOf(o.op)))
      val writes = commits.filter(o => walks.contains(o.op))
      val added = writes.map(o => o.op -> walks(o.op)._2.added(walks(o.op)._1)).toMap
      val dataAdded = writes.map(o => added(o.op).filter(Walk.isData).bytes.toDouble)
      // the same inputs and the live snapshot, written once by Spark
      val scratch = ctx.dir("spark-written")
      val inBytes = done.filter(d => added.contains(d.op)).flatMap(d =>
        d.input.map { df =>
          df.write.parquet(s"$scratch/${d.op}")
          Walk.tree(s"$scratch/${d.op}").filter(Walk.isData).bytes.toDouble
        })
      Maintenance.readTable(spark, table).write.parquet(s"$scratch/live")
      val liveBytes = Walk.tree(s"$scratch/live").filter(Walk.isData).bytes
      val n = math.max(writes.size, 1).toDouble
      Layers.dmlKinds.map(k => s"maintenance.${k}_ms" ->
        Stats.median(ph.measured.filter(_.kind == k).map(_.ms))).toMap ++ Map(
        "maintenance.driver_ms" -> Stats.median(commits.map { o =>
          val iv = trace.jobsOf(o.op).filter(!_.end.isNaN).map(j => (j.start, j.end))
          o.ms - Stats.unionLength(iv)
        }),
        "maintenance.jobs_per_commit" -> Stats.ratio(
          commits.map(o => trace.jobsOf(o.op).size).sum, commits.size),
        "maintenance.snapshot_ms" -> Stats.median(trace.named("plan").map(_.ms)),
        "maintenance.log_files_per_commit" ->
          writes.map(o => added(o.op).filter(Walk.isLog).count).sum / n,
        "maintenance.log_bytes_per_commit" ->
          writes.map(o => added(o.op).filter(Walk.isLog).bytes).sum / n,
        "maintenance.data_files_per_commit" ->
          writes.map(o => added(o.op).filter(Walk.isData).count).sum / n,
        "maintenance.write_amp" -> Stats.ratio(Stats.sum(dataAdded),
          Stats.sum(inBytes)),
        "maintenance.space_amp" -> Stats.ratio(
          Walk.tree(table).bytes.toDouble, liveBytes.toDouble),
        "write.mb_per_op" -> Stats.sum(dataAdded) / 1048576.0 / n,
        "write.mb_s" -> Stats.ratio(Stats.sum(dataAdded) / 1048576.0,
          Stats.sum(writes.map(_.ms)) / 1000)) ++ trace.sparkLayer(ops)
    }
    ph.trace.write(ctx.traceOut)
    Outcome(ph.measured.map(_.ms), ph.baseline.map(_.ms), ph.opsPerS,
      ph.all.size, ph.all.count(!_.ok) + gateErrors, errors.toSeq, layer,
      Outcome.kindMedians(ph.all))
  }
}
