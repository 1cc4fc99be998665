package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

import graft.SparkEntry

/** One fixed member of each `SparkEntry.queries` family that no other
  * workload runs, on seeded stand-ins of the ten bundled tables at their
  * sf0.01 row counts ([[SfTables]]). One closed-loop client; the seed sets
  * the table contents and the order of the members within each cycle.
  */
final class QueryMix extends Workload {
  val name = "query_mix"
  /** family -> member, in the order of `Layers.queryFamilies`: the
    * cheapest member of each family on these tables, so a cycle of all 14
    * stays near 5 s on 4 cores. Fixed so every seed runs the same work.
    */
  val members: Seq[(String, String)] = Seq(
    "a" -> "a2_scalar_max", "j" -> "j2_anti_join", "w" -> "w5_log_returns",
    "p" -> "p12_null_default", "o" -> "o2_report_feed",
    "set" -> "set_union_segments", "an" -> "an_rfm", "ts" -> "ts_ohlcv_daily",
    "tx" -> "tx_normalize", "dd" -> "dd_exact", "sim" -> "sim_quantize_stats",
    "mm" -> "mm_decode_meta", "gr" -> "gr_degree_stats",
    "s" -> "s16_jsonl_ingest")

  val SecondsPerCycle = 5.0

  private var sf = ""
  private val expected = mutable.Map[String, String]()
  private val oracle = mutable.Buffer[(String, String, String)]()

  require(members.map(_._1) == Layers.queryFamilies)

  def shape(seed: Long, seconds: Double): Seq[(String, Long)] =
    Seq("members" -> members.size.toLong,
      "timed_cycles" -> ClosedLoop.cycles(seconds, SecondsPerCycle).toLong) ++
      SfTables.rows.map { case (t, n) => s"rows.$t" -> n }

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    sf = ctx.prepare(d => SfTables.write(spark, ctx.seed, d, ctx.cores))
    // warm-up pass: every member once, on one thread per core; its result
    // is the one the DuckDB oracle checks and every timed run must
    // reproduce. The first call of s16 builds its JSON-lines fixture under
    // java.io.tmpdir.
    val t0 = Clock.nowMs
    Par.map(members.map(_._2), ctx.cores) { q =>
      val df = SparkEntry.queries(q)(spark, sf)
      val rows = df.collect().toSeq
      val sql = SparkEntry.oracleSql.get(q).map { sql =>
        val out = ctx.dir(s"oracle/$q")
        spark.createDataFrame(rows.asJava, df.schema).coalesce(1)
          .write.parquet(out)
        (q, sql, out)
      }
      (q, Digest.rows(rows), sql)
    }.foreach { case (q, digest, sql) =>
      expected(q) = digest
      oracle ++= sql
    }
    ctx.warmMs = Clock.nowMs - t0
  }

  def measure(ctx: Ctx, traced: Boolean, seconds: Double): Outcome = {
    val spark = ctx.spark
    def next(i: Int): Op = {
      val cycle = i / members.size
      val order = new scala.util.Random(ctx.seed * 1000003L + cycle)
        .shuffle(members)
      val (fam, q) = order(i % members.size)
      new Op {
        val kind = fam
        def run(ctx: Ctx, trace: Trace, id: String): Boolean = {
          val df: DataFrame = SparkEntry.queries(q)(spark, sf)
          trace.span(id, "plan")(df.queryExecution.executedPlan)
          val rows = trace.span(id, "exec")(df.collect())
          if (trace.on) {
            val s = Plans.scans(df)
            trace.record(Span(id, "scan", 0, 0, Map(
              "rows_decoded" -> s.rowsDecoded, "rows_useful" -> s.rowsUseful)))
          }
          Digest.rows(rows.toSeq) == expected(q)
        }
      }
    }
    val ph = ClosedLoop.phase(ctx, traced,
      ClosedLoop.cycles(seconds, SecondsPerCycle), 0, members.size, next)
    val errors = ph.all.filter(!_.ok).map(r =>
      if (r.error.nonEmpty) r.error else s"${r.kind}: result changed")

    val layer = if (!traced) Map.empty[String, Double] else {
      ph.trace.drain()
      ph.trace.sourcesLayer(ph.spans) ++ ph.trace.sparkLayer(ph.spans) ++
        members.map { case (f, _) => s"queries.${f}_ms" ->
          Stats.median(ph.measured.filter(_.kind == f).map(_.ms)) }
    }
    ph.trace.write(ctx.traceOut)
    val checks = oracle.map { case (q, sql, out) =>
      Json.obj(Seq("name" -> Json.str(q), "sql" -> Json.str(sql),
        "result" -> Json.str(out), "sf" -> Json.str(sf),
        "tables" -> Json.arr(SfTables.names.map(Json.str))))
    }
    Outcome(ph.measured.map(_.ms), ph.baseline.map(_.ms), ph.opsPerS,
      ph.all.size, ph.all.count(!_.ok), errors, layer,
      Outcome.kindMedians(ph.all) :+ ("oracle_checks" -> Json.arr(checks.toSeq)))
  }
}
