package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables.t
import graft.operators.{Maintenance, PageCodec, ShardFixtures}

/** Remaining source/scan operators — SURVEY.md §2.1: S4 in-memory fixture
  * ingest (the REST/pandas path), S7 CSV scan, S8 commit-log scan.
  */
object Sources {
  type Q = (SparkSession, String) => DataFrame

  /** Shard manifest for the archive / compressed-shard ingest family
    * (s12-s14, s17-s21, s24, s25). The documents table is a SINGLE
    * parquet split at test scale, so a decode stage chained directly
    * onto the scan inherits ONE task and the whole corpus decodes
    * serially — the scale-killer shape for a small manifest driving
    * heavy per-row CPU (at 100 TB the manifest is still one file while
    * the decode work is the entire job). Round-robin repartition to the
    * session's default parallelism between the manifest scan and the
    * decode mapPartitions so every core decodes, the same pattern the
    * s22/s23 file-list queries use; the exchange moves only the 8-byte
    * ids, which is noise next to the decode stage it unlocks.
    */
  private def docIds(s: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[Long] = {
    import s.implicits._
    t(s, dir, "documents").select(col("doc_id")).as[Long]
      .repartition(s.sparkContext.defaultParallelism)
  }

  // ---------------------------------------------------------------------
  // S4: deterministic fixture → createDataFrame, with the reference's
  // null-defaulting cast chain (reference: utils.py:8-32 REST coin list →
  // pandas → DataFrame; maxSupply sentinel utils.py:27-30).
  private def s4SeqIngest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val coins = Seq(
      (1L, "BTC", "Bitcoin", 19700000.0, Some(21000000.0)),
      (2L, "ETH", "Ethereum", 120200000.0, None),
      (3L, "XRP", "Ripple", 54300000000.0, Some(100000000000.0)),
      (4L, "ADA", "Cardano", 35000000000.0, Some(45000000000.0)),
      (5L, "DOGE", "Dogecoin", 143800000000.0, None))
    coins.toDF("coin_id", "symbol", "name", "supply", "max_supply")
      .select(col("coin_id"), col("symbol"), col("name"),
        col("supply"),
        coalesce(col("max_supply"), lit(-1.0)).as("max_supply"),
        round(col("supply") / coalesce(col("max_supply"), col("supply")) * 100.0, 6)
          .as("issued_pct"))
      .orderBy(col("coin_id"))
  }

  private val s4SeqIngestSql =
    """SELECT CAST(coin_id AS BIGINT) AS coin_id, symbol, name, supply,
      |  coalesce(max_supply, -1.0) AS max_supply,
      |  round(supply / coalesce(max_supply, supply) * 100.0, 6) AS issued_pct
      |FROM (VALUES
      |  (1, 'BTC', 'Bitcoin', 19700000.0, 21000000.0),
      |  (2, 'ETH', 'Ethereum', 120200000.0, NULL),
      |  (3, 'XRP', 'Ripple', 54300000000.0, 100000000000.0),
      |  (4, 'ADA', 'Cardano', 35000000000.0, 45000000000.0),
      |  (5, 'DOGE', 'Dogecoin', 143800000000.0, NULL))
      |  t(coin_id, symbol, name, supply, max_supply)
      |ORDER BY coin_id""".stripMargin

  // ---------------------------------------------------------------------
  // S7: CSV scan (reference: bitcoin_df.csv in Garch_v1.ipynb cell 1). The
  // engine round-trips events through CSV with an explicit schema, then
  // aggregates; the oracle computes the same aggregate from parquet —
  // proving the CSV reader is lossless for this schema.

  /** Build-once CSV fixture keyed by the source-table content fingerprint
    * (path + file sizes/mtimes — a regenerated dataset rebuilds the
    * fixture), so the timed query pays only the scan. `_SUCCESS` (written
    * last by the committer) guards against a half-written fixture from a
    * crashed run.
    */
  def ensureCsvFixture(s: SparkSession, dir: String): String = {
    val tmp = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-csv-${graft.Tables.fingerprint(dir, "events")}").getAbsolutePath
    if (!new java.io.File(tmp, "_SUCCESS").exists()) {
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
        .write.mode("overwrite").option("header", "true").csv(tmp)
    }
    tmp
  }

  private def s7CsvScan(s: SparkSession, dir: String): DataFrame = {
    val tmp = ensureCsvFixture(s, dir)
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType)))
    s.read.option("header", "true").schema(schema).csv(tmp)
      .groupBy(col("event_type"))
      .agg((sum(round(col("value") * 100).cast("long")) / 100.0).as("sum_value"),
        countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n"))
      .orderBy(col("event_type"))
  }

  private val s7CsvScanSql =
    """SELECT event_type,
      |  sum(CAST(round(value*100) AS BIGINT))/100.0 AS sum_value,
      |  count(DISTINCT user_id) AS n_users, count(*) AS n
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------------
  // S8: commit-manifest scan + ingest-latency metric (reference: Delta
  // txn-log minValues scan, TimeDelay.ipynb cell 0). The engine writes its
  // own manifest (injected commit time — no wall clock) and reads it back
  // as JSON.
  /** Build-once committed-table fixture keyed by the source-table content
    * fingerprint (see [[ensureCsvFixture]]). The manifest line is written
    * last, so its existence implies a complete fixture; the guard also
    * keeps the manifest at exactly one commit record (recordCommit
    * appends).
    */
  def ensureCommitFixture(s: SparkSession, dir: String): String = {
    val work = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-commit-${graft.Tables.fingerprint(dir, "events")}").getAbsolutePath
    val bars = s"$work/bars"
    if (!new java.io.File(Maintenance.manifestPath(bars)).exists()) {
      val df = t(s, dir, "events")
        .select(date_trunc("minute", col("ts")).as("window_start"),
          col("value"))
      df.write.mode("overwrite").parquet(bars)
      Maintenance.recordCommit(bars, "2024-02-01 00:00:30", df,
        "window_start")
    }
    bars
  }

  private def s8CommitStats(s: SparkSession, dir: String): DataFrame =
    Maintenance.commitStats(s, ensureCommitFixture(s, dir))

  private val s8CommitStatsSql =
    """SELECT '2024-02-01 00:00:30' AS commit_ts, count(*) AS n_rows,
      |  CAST(min(ws) AS VARCHAR) AS min_event_time,
      |  CAST(max(ws) AS VARCHAR) AS max_event_time,
      |  CAST(epoch(TIMESTAMP '2024-02-01 00:00:30') - epoch(max(ws)) AS BIGINT)
      |    AS latency_sec
      |FROM (SELECT date_trunc('minute', ts) AS ws FROM events)""".stripMargin

  // ---------------------------------------------------------------------
  // S8b: per-commit latency FEED (reference: TimeDelay.ipynb cells 0-3 —
  // the notebook's artifact is a latency SERIES over ~100 commits with
  // mean/median printed under it, not a one-row summary). The fixture
  // replays events as a 30-day ingest history: one commit per event day,
  // commit_ts injected as next-midnight+30s (deterministic — no wall
  // clock), manifest written through the same recordCommit line format.
  /** Build-once 30-commit history fixture. All per-commit stats come from
    * ONE aggregate (collect is bounded by the day count, metadata-scale);
    * the data files land day-partitioned to match the commit story.
    */
  def ensureCommitSeriesFixture(s: SparkSession, dir: String): String = {
    val work = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-commitseries-${graft.Tables.fingerprint(dir, "events")}")
      .getAbsolutePath
    val bars = s"$work/events_by_day"
    if (!new java.io.File(Maintenance.manifestPath(bars)).exists()) {
      val ev = t(s, dir, "events")
      ev.withColumn("day", to_date(col("ts")))
        .write.mode("overwrite").partitionBy("day").parquet(bars)
      val days = ev.groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("ts")).cast("string").as("min_ev"),
          max(col("ts")).cast("string").as("max_ev"))
        .orderBy(col("day"))
        .collect() // one row per day: bounded by the calendar, not the data
      days.foreach { r =>
        val commitTs = java.time.LocalDate
          .parse(r.getDate(0).toString).plusDays(1)
          .toString + " 00:00:30"
        Maintenance.recordCommitStats(bars, commitTs, r.getLong(1),
          r.getString(2), r.getString(3))
      }
    }
    bars
  }

  private def s8CommitLatency(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = s.read.json(Maintenance.manifestPath(
      ensureCommitSeriesFixture(s, dir)))
    // global row_number + unpartitioned summary window: both run over the
    // commit MANIFEST (one row per commit — metadata-scale by
    // construction), never over data rows
    val feed = m.select(
      row_number().over(Window.orderBy(col("commit_ts")))
        .cast("long").as("version"),
      col("commit_ts"), col("n_rows"),
      col("min_event_time"), col("max_event_time"),
      (unix_micros(col("commit_ts").cast("timestamp")) -
        unix_micros(col("max_event_time").cast("timestamp")))
        .as("delay_us"))
    val all = Window.partitionBy()
    feed.select(col("*"),
        avg(col("delay_us")).over(all).as("mean_delay_us"),
        percentile(col("delay_us"), lit(0.5)).over(all)
          .as("median_delay_us"),
        percentile(col("delay_us"), lit(0.95)).over(all)
          .as("p95_delay_us"))
      .orderBy(col("version"))
  }

  private val s8CommitLatencySql =
    """WITH d AS (
      |  SELECT CAST(ts AS DATE) AS day, count(*) AS n_rows,
      |    CAST(min(ts) AS VARCHAR) AS min_event_time,
      |    CAST(max(ts) AS VARCHAR) AS max_event_time,
      |    CAST(day AS TIMESTAMP) + INTERVAL 1 DAY + INTERVAL 30 SECOND
      |      AS commit_t
      |  FROM events GROUP BY 1),
      |f AS (
      |  SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS version,
      |    CAST(commit_t AS VARCHAR) AS commit_ts, n_rows,
      |    min_event_time, max_event_time,
      |    epoch_us(commit_t) - epoch_us(CAST(max_event_time AS TIMESTAMP))
      |      AS delay_us
      |  FROM d)
      |SELECT version, commit_ts, n_rows, min_event_time, max_event_time,
      |  delay_us,
      |  avg(delay_us) OVER () AS mean_delay_us,
      |  quantile_cont(delay_us, 0.5) OVER () AS median_delay_us,
      |  quantile_cont(delay_us, 0.95) OVER () AS p95_delay_us
      |FROM f ORDER BY version""".stripMargin

  // ---------------------------------------------------------------------
  // S10: ORC scan — the second columnar format a lakehouse ingests
  // beside parquet (Spark's built-in ORC source; vectorized reader,
  // predicate pushdown, column pruning all apply as with parquet). The
  // engine round-trips events through ORC and aggregates; the oracle
  // computes the same aggregate from the parquet table — proving the
  // ORC writer+reader pair is lossless for this schema.
  /** Build-once ORC fixture keyed by the source-table content
    * fingerprint (same convention as [[ensureCsvFixture]]).
    */
  def ensureOrcFixture(s: SparkSession, dir: String): String = {
    val tmp = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-orc-${graft.Tables.fingerprint(dir, "events")}").getAbsolutePath
    if (!new java.io.File(tmp, "_SUCCESS").exists()) {
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), col("ts"))
        .write.mode("overwrite").orc(tmp)
    }
    tmp
  }

  private def s10OrcScan(s: SparkSession, dir: String): DataFrame = {
    val tmp = ensureOrcFixture(s, dir)
    s.read.orc(tmp)
      .filter(col("event_type") =!= "view") // pushdown reaches the ORC scan
      .groupBy(col("event_type"))
      .agg((sum(round(col("value") * 100).cast("long")) / 100.0)
        .as("sum_value"),
        countDistinct(col("user_id")).as("n_users"),
        max(col("ts")).as("last_ts"),
        count(lit(1)).as("n"))
      .orderBy(col("event_type"))
  }

  private val s10OrcScanSql =
    """SELECT event_type,
      |  sum(CAST(round(value*100) AS BIGINT))/100.0 AS sum_value,
      |  count(DISTINCT user_id) AS n_users, max(ts) AS last_ts,
      |  count(*) AS n
      |FROM events WHERE event_type <> 'view'
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------------
  // S12: WARC crawl-archive ingestion (beyond reference — the Common
  // Crawl shape, operators.Warc): per doc a deterministic .warc.gz with
  // ONE GZIP MEMBER PER RECORD is parsed on the mapPartitions batch path
  // — multi-member gunzip, Content-Length record framing, HTTP response
  // payload extraction behind the header terminator — and summarized one
  // row per archive. The oracle recomputes record counts, OK counts,
  // payload bytes (string-length arithmetic incl. the decimal-digit
  // lengths of id and i), and the first URI from the fixture formulas, so
  // a framing slip, a swallowed gzip member, or an HTTP-header off-by-one
  // all fail the value compare. The warcinfo leader exercises the
  // non-response skip.
  private def s12WarcIngest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docIds(s, dir)
      .mapPartitions(_.map { id =>
        val recs = graft.operators.Warc.parse(
          graft.operators.Warc.fixturePayload(id))
        val resp = recs.filter(_.warcType == "response")
        (id, resp.size.toLong,
          resp.count(_.status == 200).toLong,
          resp.map(_.payload.length.toLong).sum,
          resp.head.targetUri)
      })
      .toDF("doc_id", "n_records", "n_ok", "payload_bytes", "first_uri")
      .orderBy(col("doc_id"))
  }

  private val s12WarcIngestSql =
    """WITH dims AS (
      |  SELECT doc_id, 1 + doc_id % 3 AS n FROM documents),
      |recs AS (
      |  SELECT doc_id, n, i,
      |    CASE WHEN (doc_id + i) % 3 = 0 THEN 1 ELSE 0 END AS ok,
      |    10 + strlen(CAST(doc_id AS VARCHAR)) + strlen(CAST(i AS VARCHAR))
      |      + (doc_id*7 + i) % 64 AS bytes
      |  FROM dims, unnest(generate_series(0, n - 1)) t(i))
      |SELECT doc_id, CAST(n AS BIGINT) AS n_records,
      |  CAST(sum(ok) AS BIGINT) AS n_ok,
      |  CAST(sum(bytes) AS BIGINT) AS payload_bytes,
      |  'https://example.com/doc/' || doc_id || '/0' AS first_uri
      |FROM recs GROUP BY doc_id, n ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // S13: POSIX tar / tar.gz archive ingestion (operators.Tar) — the
  // data-drop bundle shape (vendor corpora, dumps) complementing the WARC
  // crawl shape. Same scale contract as s12: archives distribute across
  // partitions, each parses independently inside one task (mapPartitions
  // — framing arithmetic, not a DataFrame-expressible decode), no
  // shuffle until the per-archive rows aggregate. The fixture pins BOTH
  // envelope variants (even ids gzipped, odd plain) and a directory
  // entry exercises the non-file skip. Oracle recomputes member counts,
  // exact content byte lengths (decimal-digit arithmetic), and the first
  // file name from the fixture formulas — a framing slip, checksum bug,
  // or padding off-by-one fails the value compare. Cross-validated
  // against the system `tar` binary in TarSpec.
  private def s13TarIngest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docIds(s, dir)
      .mapPartitions(_.map { id =>
        val entries = graft.operators.Tar.parse(
          graft.operators.Tar.fixturePayload(id))
        val files = entries.filter(_.typeflag == '0')
        (id, files.size.toLong,
          entries.count(_.typeflag == '5').toLong,
          files.map(_.bytes.length.toLong).sum,
          files.head.name)
      })
      .toDF("doc_id", "n_files", "n_dirs", "content_bytes", "first_file")
      .orderBy(col("doc_id"))
  }

  private val s13TarIngestSql =
    """WITH dims AS (
      |  SELECT doc_id, 1 + doc_id % 4 AS n FROM documents),
      |mem AS (
      |  SELECT doc_id, n, i,
      |    9 + strlen(CAST(doc_id AS VARCHAR)) + strlen(CAST(i AS VARCHAR))
      |      + (doc_id*5 + i) % 96 AS bytes
      |  FROM dims, unnest(generate_series(0, n - 1)) t(i))
      |SELECT doc_id, CAST(n AS BIGINT) AS n_files,
      |  CAST(1 AS BIGINT) AS n_dirs,
      |  CAST(sum(bytes) AS BIGINT) AS content_bytes,
      |  'docs/' || doc_id || '/part-0.txt' AS first_file
      |FROM mem GROUP BY doc_id, n ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // S14: ZIP archive ingestion (operators.Zip) — the upload/mirror bundle
  // shape, completing the archive family (WARC crawls, tar drops, zip
  // uploads). Mixed STORED + DEFLATED members per archive; same
  // parse-per-task scale contract as s12/s13. Oracle recomputes entry
  // counts by method, exact decompressed byte totals, and the manifest
  // text from the fixture formulas. Cross-validated against the system
  // `unzip` binary in ZipSpec.
  private def s14ZipIngest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docIds(s, dir)
      .mapPartitions(_.map { id =>
        val members = graft.operators.Zip.parse(
          graft.operators.Zip.fixturePayload(id))
        val stored = members.filter(_.method == "stored")
        (id, members.size.toLong,
          stored.size.toLong,
          members.count(_.method == "deflated").toLong,
          members.map(_.bytes.length.toLong).sum,
          new String(stored.head.bytes, "UTF-8"))
      })
      .toDF("doc_id", "n_entries", "n_stored", "n_deflated",
        "content_bytes", "manifest")
      .orderBy(col("doc_id"))
  }

  private val s14ZipIngestSql =
    """WITH dims AS (
      |  SELECT doc_id, 1 + doc_id % 5 AS n FROM documents),
      |mem AS (
      |  SELECT doc_id, n, i,
      |    9 + strlen(CAST(doc_id AS VARCHAR)) + strlen(CAST(i AS VARCHAR))
      |      + (doc_id*11 + i) % 80 AS bytes
      |  FROM dims, unnest(generate_series(0, n - 1)) t(i))
      |SELECT doc_id, CAST(n + 1 AS BIGINT) AS n_entries,
      |  CAST(1 AS BIGINT) AS n_stored,
      |  CAST(n AS BIGINT) AS n_deflated,
      |  CAST(sum(bytes) + 8 + strlen(CAST(doc_id AS VARCHAR)) AS BIGINT)
      |    AS content_bytes,
      |  'archive-' || doc_id AS manifest
      |FROM mem GROUP BY doc_id, n ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // S17: LZ4-framed shard ingestion (PageCodec.lz4Frames) — the
  // compressed text-shard shape (.jsonl.lz4) a training corpus ships
  // in, next to the archive family. The frame decode (lz4-java's
  // LZ4FrameInputStream, header/block/content xxHash32 checksums
  // verified; Lz4Spec) runs per task in mapPartitions — one shard per
  // task, no shuffle until the per-shard lines aggregate; the JSON
  // lines then flow through Spark's native from_json + hash aggregate,
  // so the Spark side of the pipeline is declarative and codegen'd. Oracle
  // reconstructs every line STRING in SQL and recomputes counts, the
  // parsed bytes field, distinct hosts, and the exact uncompressed
  // byte total — a decode slip of any kind changes one of them.
  private def s17Lz4Ingest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docIds(s, dir)
      .mapPartitions(_.flatMap { id =>
        val content = PageCodec.lz4Frames(ShardFixtures.lz4(id))
        new String(content, java.nio.charset.StandardCharsets.UTF_8)
          .split("\n").iterator
          .map(l => (id, content.length.toLong, l))
      })
      .toDF("doc_id", "shard_bytes", "line")
      .select(col("doc_id"), col("shard_bytes"),
        from_json(col("line"), org.apache.spark.sql.types.StructType
          .fromDDL("doc BIGINT, seq BIGINT, host STRING, bytes BIGINT"))
          .as("j"))
      .groupBy(col("doc_id"), col("shard_bytes"))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("j.bytes")).as("sum_bytes"),
        countDistinct(col("j.host")).as("n_hosts"))
      .select(col("doc_id"), col("n_lines"), col("sum_bytes"),
        col("n_hosts"), col("shard_bytes"))
      .orderBy(col("doc_id"))
  }

  private val s17Lz4IngestSql =
    """WITH dims AS (
      |  SELECT doc_id, 40 + doc_id % 30 AS n FROM documents),
      |lines AS (
      |  SELECT doc_id, n, k,
      |    '{"doc":' || doc_id || ',"seq":' || k || ',"host":"h' ||
      |      (k % 7) || '.example.com","bytes":' ||
      |      ((k*37 + doc_id % 11) % 1000) || '}' AS line,
      |    (k*37 + doc_id % 11) % 1000 AS b
      |  FROM dims, unnest(generate_series(0, n - 1)) t(k))
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
      |  CAST(sum(b) AS BIGINT) AS sum_bytes,
      |  CAST(count(DISTINCT k % 7) AS BIGINT) AS n_hosts,
      |  CAST(sum(strlen(line) + 1) AS BIGINT) AS shard_bytes
      |FROM lines GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // S18: snappy-framed shard ingestion (PageCodec.snappyFramed) — the
  // second compressed-shard codec (.tsv.sz) next to s17's LZ4, decoded
  // by snappy-java's SnappyFramedInputStream (every chunk's masked
  // CRC-32C verified; SnappySpec). Same scale contract: one shard per
  // task in mapPartitions, then Spark-native split + hash aggregate.
  // Oracle reconstructs every TSV row string in SQL (chr(9) tabs) and
  // recomputes row counts, the token-field sum, distinct langs, and
  // the exact uncompressed byte total.
  private def s18SnappyIngest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docIds(s, dir)
      .mapPartitions(_.flatMap { id =>
        val content = PageCodec.snappyFramed(ShardFixtures.snappy(id))
        new String(content, java.nio.charset.StandardCharsets.UTF_8)
          .split("\n").iterator
          .map(r => (id, content.length.toLong, r))
      })
      .toDF("doc_id", "shard_bytes", "row")
      .select(col("doc_id"), col("shard_bytes"),
        split(col("row"), "\t").as("f"))
      .groupBy(col("doc_id"), col("shard_bytes"))
      .agg(count(lit(1)).as("n_rows"),
        sum(element_at(col("f"), 4).cast("long")).as("sum_tokens"),
        countDistinct(element_at(col("f"), 3)).as("n_langs"))
      .select(col("doc_id"), col("n_rows"), col("sum_tokens"),
        col("n_langs"), col("shard_bytes"))
      .orderBy(col("doc_id"))
  }

  private val s18SnappyIngestSql =
    """WITH dims AS (
      |  SELECT doc_id, 50 + doc_id % 40 AS n FROM documents),
      |tsv AS (
      |  SELECT doc_id, n, k,
      |    (k*53 + doc_id % 13) % 2000 AS tok,
      |    strlen(doc_id || chr(9) || k || chr(9) || 'lang' || (k % 5) ||
      |      chr(9) || ((k*53 + doc_id % 13) % 2000)) + 1 AS rb
      |  FROM dims, unnest(generate_series(0, n - 1)) t(k))
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(tok) AS BIGINT) AS sum_tokens,
      |  CAST(count(DISTINCT k % 5) AS BIGINT) AS n_langs,
      |  CAST(sum(rb) AS BIGINT) AS shard_bytes
      |FROM tsv GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // S19: multi-member gzip shard ingestion (PageCodec.gzipMembers) —
  // the .jsonl.gz / pigz / .warc.gz member-per-chunk shape: the RFC
  // 1952 member headers are parsed (FNAME kept, FHCRC verified), each
  // body inflates through the JDK Inflater, whose remaining input
  // marks the member end, and every member's CRC-32 and ISIZE are
  // verified with java.util.zip.CRC32 (InflateSpec). Same per-task
  // scale contract; the member fan-out keeps doc-level constants
  // (member count, byte total, first member name) computed once in the
  // task, so the aggregate can't double-count them.
  private def s19GzipIngest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docIds(s, dir)
      .mapPartitions(_.flatMap { id =>
        val members = PageCodec.gzipMembers(ShardFixtures.gzip(id))
        val total = members.map(_.content.length.toLong).sum
        val first = members.head.name.getOrElse("")
        members.iterator.flatMap { m =>
          new String(m.content, java.nio.charset.StandardCharsets.UTF_8)
            .split("\n").iterator
            .map(l => (id, members.size.toLong, total, first, l))
        }
      })
      .toDF("doc_id", "n_members", "total_bytes", "first_name", "line")
      .select(col("doc_id"), col("n_members"), col("total_bytes"),
        col("first_name"),
        from_json(col("line"), org.apache.spark.sql.types.StructType
          .fromDDL(
            "doc BIGINT, member BIGINT, seq BIGINT, score BIGINT"))
          .as("j"))
      .groupBy(col("doc_id"), col("n_members"), col("total_bytes"),
        col("first_name"))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("j.score")).as("sum_score"),
        countDistinct(col("j.member")).as("n_members_seen"))
      .select(col("doc_id"), col("n_members"), col("n_lines"),
        col("sum_score"), col("n_members_seen"), col("total_bytes"),
        col("first_name"))
      .orderBy(col("doc_id"))
  }

  private val s19GzipIngestSql =
    """WITH dims AS (
      |  SELECT doc_id, 2 + doc_id % 3 AS nm FROM documents),
      |mem AS (
      |  SELECT doc_id, nm, m, 20 + (doc_id + m*7) % 15 AS nl
      |  FROM dims, unnest(generate_series(0, nm - 1)) t(m)),
      |lines AS (
      |  SELECT doc_id, nm, m, k,
      |    (k*41 + m*17 + doc_id % 19) % 500 AS sc,
      |    strlen('{"doc":' || doc_id || ',"member":' || m ||
      |      ',"seq":' || k || ',"score":' ||
      |      ((k*41 + m*17 + doc_id % 19) % 500) || '}') + 1 AS lb
      |  FROM mem, unnest(generate_series(0, nl - 1)) t2(k))
      |SELECT doc_id, CAST(nm AS BIGINT) AS n_members,
      |  CAST(count(*) AS BIGINT) AS n_lines,
      |  CAST(sum(sc) AS BIGINT) AS sum_score,
      |  CAST(count(DISTINCT m) AS BIGINT) AS n_members_seen,
      |  CAST(sum(lb) AS BIGINT) AS total_bytes,
      |  'shard-' || doc_id || '-0.jsonl' AS first_name
      |FROM lines GROUP BY doc_id, nm ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // S20: bzip2 shard ingestion (PageCodec.bzip2Streams) — the
  // wiki-dump / archive-corpus shape (.jsonl.bz2), decoded stream by
  // stream by commons-compress (per-block and combined stream CRCs
  // verified; Bzip2Spec), whose compressed count is each stream's
  // exact length, so n_streams counts the pbzip2 concatenation the
  // id%4==3 shards carry. Same per-task scale contract as s17-s19.
  private def s20Bzip2Ingest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docIds(s, dir)
      .mapPartitions(_.flatMap { id =>
        val (content, streams) =
          PageCodec.bzip2Streams(ShardFixtures.bzip2(id))
        new String(content, java.nio.charset.StandardCharsets.UTF_8)
          .split("\n").iterator
          .map(l => (id, streams.toLong, content.length.toLong, l))
      })
      .toDF("doc_id", "n_streams", "total_bytes", "line")
      .select(col("doc_id"), col("n_streams"), col("total_bytes"),
        from_json(col("line"), org.apache.spark.sql.types.StructType
          .fromDDL("doc BIGINT, seq BIGINT, cat STRING, w BIGINT"))
          .as("j"))
      .groupBy(col("doc_id"), col("n_streams"), col("total_bytes"))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("j.w")).as("sum_w"),
        countDistinct(col("j.cat")).as("n_cats"))
      .select(col("doc_id"), col("n_streams"), col("n_lines"),
        col("sum_w"), col("n_cats"), col("total_bytes"))
      .orderBy(col("doc_id"))
  }

  private val s20Bzip2IngestSql =
    """WITH dims AS (
      |  SELECT doc_id, 60 + doc_id % 50 AS n FROM documents),
      |lines AS (
      |  SELECT doc_id, n, k,
      |    (k*29 + doc_id % 17) % 800 AS w,
      |    strlen('{"doc":' || doc_id || ',"seq":' || k || ',"cat":"c' ||
      |      (k % 6) || '","w":' || ((k*29 + doc_id % 17) % 800) || '}')
      |      + 1 AS lb
      |  FROM dims, unnest(generate_series(0, n - 1)) t(k))
      |SELECT doc_id,
      |  CAST(CASE WHEN doc_id % 4 = 3 THEN 2 ELSE 1 END AS BIGINT)
      |    AS n_streams,
      |  CAST(count(*) AS BIGINT) AS n_lines,
      |  CAST(sum(w) AS BIGINT) AS sum_w,
      |  CAST(count(DISTINCT k % 6) AS BIGINT) AS n_cats,
      |  CAST(sum(lb) AS BIGINT) AS total_bytes
      |FROM lines GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // S21: Avro OCF shard ingestion (operators.Avro) — the Kafka-dump /
  // data-lake row format, decoded by the from-scratch OCF reader whose
  // deflate/snappy block codecs route through PageCodec.avroBlock (the
  // JDK inflater and snappy-java; avro-java cross-validated in AvroSpec;
  // the fixture corpus is avro-java-WRITTEN, foreign-origin). The
  // `quarters` field is an exact multiple of 0.25, so scaling by 4
  // yields exact integers in both engines — no float comparison.
  private def s21AvroIngest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docIds(s, dir)
      .mapPartitions(_.map { id =>
        val f = graft.operators.Avro.decode(
          graft.operators.Avro.fixturePayload(id))
        var sumSeq = 0L
        var sumQ4 = 0L
        var nNullNotes = 0L
        var nFlags = 0L
        val hosts = scala.collection.mutable.Set.empty[String]
        f.rows.foreach { r =>
          sumSeq += r(1).asInstanceOf[Int].toLong
          hosts += r(2).asInstanceOf[String]
          sumQ4 += (r(3).asInstanceOf[Double] * 4.0).toLong
          if (r(4).asInstanceOf[Boolean]) nFlags += 1
          if (r(5) == null) nNullNotes += 1
        }
        (id, f.rows.length.toLong, sumSeq, hosts.size.toLong, sumQ4,
          nFlags, nNullNotes, f.codec)
      })
      .toDF("doc_id", "n_rows", "sum_seq", "n_hosts", "sum_quarters_x4",
        "n_flags", "n_null_notes", "codec")
      .orderBy(col("doc_id"))
  }

  private val s21AvroIngestSql =
    """WITH dims AS (
      |  SELECT doc_id, 40 + doc_id % 35 AS n FROM documents),
      |rows_ AS (
      |  SELECT doc_id, n, k,
      |    (k*31 + doc_id % 9) % 250 AS q4,
      |    CASE WHEN (k + doc_id) % 3 = 0 THEN 1 ELSE 0 END AS fl,
      |    CASE WHEN k % 5 = 0 THEN 1 ELSE 0 END AS nn
      |  FROM dims, unnest(generate_series(0, n - 1)) t(k))
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(k) AS BIGINT) AS sum_seq,
      |  CAST(count(DISTINCT k % 7) AS BIGINT) AS n_hosts,
      |  CAST(sum(q4) AS BIGINT) AS sum_quarters_x4,
      |  CAST(sum(fl) AS BIGINT) AS n_flags,
      |  CAST(sum(nn) AS BIGINT) AS n_null_notes,
      |  CASE doc_id % 3 WHEN 0 THEN 'null' WHEN 1 THEN 'deflate'
      |       ELSE 'snappy' END AS codec
      |FROM rows_ GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // S22: parquet footer scan (operators.ParquetFooter) — the engine
  // reads its OWN storage format's metadata from scratch (PAR1 framing,
  // thrift compact protocol, FileMetaData/RowGroup/ColumnMetaData/
  // Statistics), the layer footer-driven planning stands on: per-file
  // row counts and key-column min/max/null-count WITHOUT touching any
  // data page. The oracle re-derives every fact by FULL SCAN in DuckDB
  // — a genuinely independent engine agreeing with a from-scratch
  // metadata parse of Spark-written files. parquet-mr cross-validation
  // lives in ParquetFooterSpec. Scale shape: ~KB of footer per file
  // regardless of file size; tables fan out one-per-task.
  private def s22ParquetFooter(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    s.createDataset(tables).repartition(tables.size)
      .mapPartitions(_.map { tbl =>
        val f = graft.operators.ParquetFooter.readFile(
          java.nio.file.Paths.get(dir, s"$tbl.parquet"))
        val keyField = f.schema(1) // root is schema(0)
        val keyCols = f.rowGroups.map(_.columns.head)
        val lo = keyCols.flatMap(c => c.minValue.map(b =>
          graft.operators.ParquetFooter.statLong(c.physicalType, b))).min
        val hi = keyCols.flatMap(c => c.maxValue.map(b =>
          graft.operators.ParquetFooter.statLong(c.physicalType, b))).max
        val nulls = keyCols.flatMap(_.nullCount).sum
        (tbl, f.numRows, f.schema.head.numChildren.toLong,
          keyField.name, lo, hi, nulls)
      })
      .toDF("tbl", "num_rows", "n_fields", "key_col", "key_min",
        "key_max", "key_nulls")
      .orderBy(col("tbl"))
  }

  private val s22ParquetFooterSql = {
    val specs = Seq(
      ("region", 2, "r_regionkey"), ("nation", 3, "n_nationkey"),
      ("customer", 5, "c_custkey"), ("supplier", 4, "s_suppkey"),
      ("part", 6, "p_partkey"), ("orders", 6, "o_orderkey"),
      ("lineitem", 11, "l_orderkey"), ("events", 6, "event_id"),
      ("documents", 5, "doc_id"), ("embeddings", 3, "vec_id"))
    specs.map { case (t, nf, k) =>
      s"""SELECT '$t' AS tbl, CAST(count(*) AS BIGINT) AS num_rows,
         |  CAST($nf AS BIGINT) AS n_fields, '$k' AS key_col,
         |  CAST(min($k) AS BIGINT) AS key_min,
         |  CAST(max($k) AS BIGINT) AS key_max,
         |  CAST(count(*) - count($k) AS BIGINT) AS key_nulls
         |FROM $t""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY tbl")
  }

  // ---------------------------------------------------------------------
  // S23: ORC tail scan (operators.OrcMeta) — the second columnar
  // format's metadata read from scratch (protobuf wire format,
  // postscript, ZSTD-framed footer chunks through zstd-jni behind
  // PageCodec.orcDecompress), answering row counts and column
  // ranges from KBs of tail per file; the oracle re-derives every fact
  // by full scan of the parquet-side events table (the ORC fixture is
  // a lossless round-trip of it). orc-core cross-validation lives in
  // OrcMetaSpec.
  /** Build-once zstd-compressed ORC fixture — Spark 4's DEFAULT ORC
    * codec, pinned explicitly so the query exercises the zstd chunk
    * path even if the session default drifts. The directory name
    * carries the codec so a cached snappy-era fixture can never
    * satisfy this build.
    */
  def ensureOrcMetaFixture(s: SparkSession, dir: String): String = {
    val tmp = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-orcmeta-zstd-${graft.Tables.fingerprint(dir, "events")}")
      .getAbsolutePath
    if (!new java.io.File(tmp, "_SUCCESS").exists()) {
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"))
        .write.mode("overwrite").option("compression", "zstd").orc(tmp)
    }
    tmp
  }

  private def s23OrcMeta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tmp = ensureOrcMetaFixture(s, dir)
    val files = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".orc")).map(_.getAbsolutePath).toSeq
      .sorted
    s.createDataset(files).repartition(math.max(files.size, 1))
      .mapPartitions(_.map { path =>
        val t = graft.operators.OrcMeta.readFile(
          java.nio.file.Paths.get(path))
        require(t.compression == PageCodec.OrcZstd,
          "fixture must be zstd-framed")
        val ev = t.columns(1).intStats.get // event_id
        val us = t.columns(2).intStats.get // user_id
        (t.numberOfRows, ev.min.get, ev.max.get, ev.sum.get,
          us.min.get, us.max.get)
      })
      .toDF("rows", "ev_min", "ev_max", "ev_sum", "u_min", "u_max")
      .agg(sum(col("rows")).as("num_rows"),
        min(col("ev_min")).as("event_id_min"),
        max(col("ev_max")).as("event_id_max"),
        sum(col("ev_sum")).as("event_id_sum"),
        min(col("u_min")).as("user_id_min"),
        max(col("u_max")).as("user_id_max"))
  }

  private val s23OrcMetaSql =
    """SELECT CAST(count(*) AS BIGINT) AS num_rows,
      |  CAST(min(event_id) AS BIGINT) AS event_id_min,
      |  CAST(max(event_id) AS BIGINT) AS event_id_max,
      |  CAST(sum(event_id) AS BIGINT) AS event_id_sum,
      |  CAST(min(user_id) AS BIGINT) AS user_id_min,
      |  CAST(max(user_id) AS BIGINT) AS user_id_max
      |FROM events""".stripMargin

  // ---------------------------------------------------------------------
  // S24: xz shard ingestion (PageCodec.xz) — the highest-ratio
  // compressed-shard codec (.jsonl.xz), decoded by tukaani's
  // XZInputStream (block checks, index and footer verified; XzSpec);
  // check_type is the low nibble of stream-header byte 7. The fixture
  // corpus rotates preset and check type per id. Same per-task scale
  // contract as the rest of the compressed-shard family.
  private def s24XzIngest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docIds(s, dir)
      .mapPartitions(_.flatMap { id =>
        val (content, checkType) = PageCodec.xz(ShardFixtures.xz(id))
        new String(content, java.nio.charset.StandardCharsets.UTF_8)
          .split("\n").iterator
          .map(l => (id, checkType.toLong, content.length.toLong, l))
      })
      .toDF("doc_id", "check_type", "total_bytes", "line")
      .select(col("doc_id"), col("check_type"), col("total_bytes"),
        from_json(col("line"), org.apache.spark.sql.types.StructType
          .fromDDL("doc BIGINT, seq BIGINT, tag STRING, v BIGINT"))
          .as("j"))
      .groupBy(col("doc_id"), col("check_type"), col("total_bytes"))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("j.v")).as("sum_v"),
        countDistinct(col("j.tag")).as("n_tags"))
      .select(col("doc_id"), col("n_lines"), col("sum_v"),
        col("n_tags"), col("check_type"), col("total_bytes"))
      .orderBy(col("doc_id"))
  }

  private val s24XzIngestSql =
    """WITH dims AS (
      |  SELECT doc_id, 45 + doc_id % 40 AS n FROM documents),
      |lines AS (
      |  SELECT doc_id, n, k,
      |    (k*43 + doc_id % 23) % 900 AS v,
      |    strlen('{"doc":' || doc_id || ',"seq":' || k || ',"tag":"t' ||
      |      (k % 8) || '","v":' || ((k*43 + doc_id % 23) % 900) || '}')
      |      + 1 AS lb
      |  FROM dims, unnest(generate_series(0, n - 1)) t(k))
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
      |  CAST(sum(v) AS BIGINT) AS sum_v,
      |  CAST(count(DISTINCT k % 8) AS BIGINT) AS n_tags,
      |  CAST(CASE doc_id % 3 WHEN 0 THEN 4 WHEN 1 THEN 1 ELSE 10 END
      |    AS BIGINT) AS check_type,
      |  CAST(sum(lb) AS BIGINT) AS total_bytes
      |FROM lines GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // S25: Arrow IPC shard ingestion (operators.ArrowIpc) — the
  // interchange format training loaders hand tables around in (feather
  // v2), decoded by the from-scratch reader: flatbuffers wire format,
  // footer Block index, encapsulated messages, validity bitmaps and
  // utf8 offset buffers (arrow-vector cross-validated in ArrowIpcSpec;
  // fixtures are arrow-vector-WRITTEN, foreign-origin). The `q` field
  // is an exact multiple of 0.25 so scaling by 4 stays integer-exact
  // in both engines.
  private def s25ArrowIngest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docIds(s, dir)
      .mapPartitions(_.map { id =>
        val f = graft.operators.ArrowIpc.decode(
          graft.operators.ArrowIpc.fixturePayload(id))
        var sumN = 0L
        var sumQ4 = 0L
        var nFlags = 0L
        var nNullOpt = 0L
        var sumOpt = 0L
        val tags = scala.collection.mutable.Set.empty[String]
        f.rows.foreach { r =>
          sumN += r(1).asInstanceOf[Int].toLong
          tags += r(2).asInstanceOf[String]
          sumQ4 += (r(3).asInstanceOf[Double] * 4.0).toLong
          if (r(4).asInstanceOf[Boolean]) nFlags += 1
          if (r(5) == null) nNullOpt += 1
          else sumOpt += r(5).asInstanceOf[Long]
        }
        (id, f.rows.length.toLong, f.nBatches.toLong, sumN,
          tags.size.toLong, sumQ4, nFlags, nNullOpt, sumOpt)
      })
      .toDF("doc_id", "n_rows", "n_batches", "sum_n", "n_tags",
        "sum_q_x4", "n_flags", "n_null_opt", "sum_opt")
      .orderBy(col("doc_id"))
  }

  private val s25ArrowIngestSql =
    """WITH dims AS (
      |  SELECT doc_id, 30 + doc_id % 45 AS n FROM documents),
      |rows_ AS (
      |  SELECT doc_id, n, k,
      |    (k*19 + doc_id % 7) % 1000 AS nn,
      |    (k*13 + doc_id % 5) % 400 AS q4,
      |    CASE WHEN (k + doc_id) % 2 = 0 THEN 1 ELSE 0 END AS fl,
      |    CASE WHEN k % 4 = 0 THEN 1 ELSE 0 END AS nul,
      |    CASE WHEN k % 4 = 0 THEN 0
      |         ELSE (k*7 + doc_id % 3) % 500 END AS ov
      |  FROM dims, unnest(generate_series(0, n - 1)) t(k))
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(CASE WHEN doc_id % 3 = 1 THEN 2 ELSE 1 END AS BIGINT)
      |    AS n_batches,
      |  CAST(sum(nn) AS BIGINT) AS sum_n,
      |  CAST(count(DISTINCT k % 9) AS BIGINT) AS n_tags,
      |  CAST(sum(q4) AS BIGINT) AS sum_q_x4,
      |  CAST(sum(fl) AS BIGINT) AS n_flags,
      |  CAST(sum(nul) AS BIGINT) AS n_null_opt,
      |  CAST(sum(ov) AS BIGINT) AS sum_opt
      |FROM rows_ GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // S26: zstd shard ingestion (PageCodec.zstdFrames) — the dominant
  // modern lake/shard codec (.jsonl.zst), decoded frame by frame by
  // zstd-jni (XXH64 content checksums verified; ZstdSpec). The walk
  // steps with libzstd's findFrameCompressedSize and skips skippable
  // frames, so n_frames counts data frames. The fixture level rotates
  // through the fast/default/lazy/btopt match-finder classes; id%4==3
  // shards carry a skippable-frame leader plus two concatenated frames
  // (the pzstd/seekable shape) and id%2==0 frames carry checksums.
  // Same fan-out + per-task decode scale contract as s17-s25.
  private def s26ZstdIngest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docIds(s, dir)
      .mapPartitions(_.flatMap { id =>
        val (content, frames) = PageCodec.zstdFrames(ShardFixtures.zstd(id))
        new String(content, java.nio.charset.StandardCharsets.UTF_8)
          .split("\n").iterator
          .map(l => (id, frames.toLong, content.length.toLong, l))
      })
      .toDF("doc_id", "n_frames", "total_bytes", "line")
      .select(col("doc_id"), col("n_frames"), col("total_bytes"),
        from_json(col("line"), org.apache.spark.sql.types.StructType
          .fromDDL("doc BIGINT, seq BIGINT, lab STRING, x BIGINT"))
          .as("j"))
      .groupBy(col("doc_id"), col("n_frames"), col("total_bytes"))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("j.x")).as("sum_x"),
        countDistinct(col("j.lab")).as("n_labs"))
      .select(col("doc_id"), col("n_lines"), col("sum_x"),
        col("n_labs"), col("n_frames"), col("total_bytes"))
      .orderBy(col("doc_id"))
  }

  private val s26ZstdIngestSql =
    """WITH dims AS (
      |  SELECT doc_id, 70 + doc_id % 60 AS n FROM documents),
      |lines AS (
      |  SELECT doc_id, n, k,
      |    (k*47 + doc_id % 21) % 1200 AS x,
      |    strlen('{"doc":' || doc_id || ',"seq":' || k || ',"lab":"z' ||
      |      (k % 9) || '","x":' || ((k*47 + doc_id % 21) % 1200) || '}')
      |      + 1 AS lb
      |  FROM dims, unnest(generate_series(0, n - 1)) t(k))
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
      |  CAST(sum(x) AS BIGINT) AS sum_x,
      |  CAST(count(DISTINCT k % 9) AS BIGINT) AS n_labs,
      |  CAST(CASE WHEN doc_id % 4 = 3 THEN 2 ELSE 1 END AS BIGINT)
      |    AS n_frames,
      |  CAST(sum(lb) AS BIGINT) AS total_bytes
      |FROM lines GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // S27: parquet DATA scan from scratch (operators.ParquetData) — the
  // engine reads its OWN storage format's PAGES, not just the footer
  // (s22): thrift PageHeader walk, dictionary + v1 data pages, the
  // RLE/bit-packed hybrid definition levels and index streams, PLAIN
  // longs/doubles and dictionary-encoded strings, ZSTD page
  // decompression through zstd-jni behind PageCodec — then the
  // recovered rows flow through Spark-native groupBy/agg. The oracle
  // full-scans the same events data on the parquet side in DuckDB, so
  // a slipped level, wrong dictionary index, misaligned null, or
  // byte-order bug in any page fails the value compare. Same fan-out
  // contract as s22/s23: one FILE per task.
  /** Build-once zstd-compressed parquet fixture (explicitly pinned so
    * the page path exercises the zstd page codec regardless of the
    * session default); 2 files so the file fan-out is real.
    */
  def ensureParquetDataFixture(s: SparkSession, dir: String): String = {
    val tmp = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-pqdata-zstd-${graft.Tables.fingerprint(dir, "events")}")
      .getAbsolutePath
    if (!new java.io.File(tmp, "_SUCCESS").exists()) {
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
        .repartition(2, col("event_id"))
        .write.mode("overwrite").option("compression", "zstd")
        .parquet(tmp)
    }
    tmp
  }

  private def s27ParquetScan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tmp = ensureParquetDataFixture(s, dir)
    val files = new java.io.File(tmp).listFiles()
      .filter(f => f.getName.endsWith(".parquet"))
      .map(_.getAbsolutePath).toSeq.sorted
    s.createDataset(files).repartition(math.max(files.size, 1))
      .mapPartitions(_.flatMap { path =>
        val bytes = java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(path))
        graft.operators.ParquetData.readRows(bytes,
          Seq("event_id", "user_id", "event_type", "value"))
          .map(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long],
            r(2).asInstanceOf[String], r(3).asInstanceOf[Double]))
      })
      .toDF("event_id", "user_id", "event_type", "value")
      .groupBy(col("event_type"))
      .agg((sum(round(col("value") * 100).cast("long")) / 100.0)
        .as("sum_value"),
        countDistinct(col("user_id")).as("n_users"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"),
        count(lit(1)).as("n"))
      .orderBy(col("event_type"))
  }

  private val s27ParquetScanSql =
    """SELECT event_type,
      |  sum(CAST(round(value*100) AS BIGINT))/100.0 AS sum_value,
      |  count(DISTINCT user_id) AS n_users,
      |  min(event_id) AS min_id, max(event_id) AS max_id,
      |  count(*) AS n
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------------
  // S28: the `graftpq` DataSource V2 (sources.GraftParquet) end-to-end —
  // the from-scratch parquet stack surfaced the Spark-FIRST way: not a
  // mapPartitions ingest (s27's shape) but a registered source whose
  // scan Catalyst plans like any other — schema inferred from our
  // footer reader, filters pushed into the ScanBuilder (row-group stats
  // pruning driver-side), columns pruned down to the leaves the query
  // touches, one InputPartition per row group with byte-range chunk
  // reads. The oracle re-derives the same answer from full scans in
  // DuckDB, so the whole plan-prune-decode chain is value-checked.
  private def s28Dsv2Scan(s: SparkSession, dir: String): DataFrame = {
    val tmp = ensureParquetDataFixture(s, dir)
    s.read.format("graftpq").load(tmp)
      .filter(col("value") >= 0 && col("user_id") >= 100)
      .groupBy(col("event_type"))
      .agg((sum(round(col("value") * 100).cast("long")) / 100.0)
        .as("sum_value"),
        min(col("user_id")).as("min_user"),
        count(lit(1)).as("n"))
      .orderBy(col("event_type"))
  }

  private val s28Dsv2ScanSql =
    """SELECT event_type,
      |  sum(CAST(round(value*100) AS BIGINT))/100.0 AS sum_value,
      |  min(user_id) AS min_user, count(*) AS n
      |FROM events WHERE value >= 0 AND user_id >= 100
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------------
  // S29: ORC stripe-data scan from scratch (operators.OrcData) — the
  // second columnar format's DATA, not just its tail (s23): stripe
  // directory and StripeFooter protobufs, integer RLEv2 in all four
  // sub-encodings, boolean/byte RLE present streams, dictionary AND
  // direct strings, every stream's chunk framing through this repo's
  // own zstd decoder — then the recovered rows flow through
  // Spark-native groupBy/agg. The oracle full-scans the parquet-side
  // events table (the fixture is a lossless ORC round-trip of it), so
  // a slipped run header, wrong patch gap, misaligned present bit, or
  // dictionary-index bug fails the value compare. Same fan-out
  // contract as s22/s23: one FILE per task.
  private def s29OrcData(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tmp = ensureOrcMetaFixture(s, dir)
    val files = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".orc")).map(_.getAbsolutePath).toSeq
      .sorted
    s.createDataset(files).repartition(math.max(files.size, 1))
      .mapPartitions(_.flatMap { path =>
        val bytes = java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(path))
        graft.operators.OrcData.readRows(bytes,
          Seq("event_id", "user_id", "event_type"))
          .map(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long],
            r(2).asInstanceOf[String]))
      })
      .toDF("event_id", "user_id", "event_type")
      .groupBy(col("event_type"))
      .agg(sum(col("event_id")).as("sum_id"),
        countDistinct(col("user_id")).as("n_users"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"),
        count(lit(1)).as("n"))
      .orderBy(col("event_type"))
  }

  private val s29OrcDataSql =
    """SELECT event_type, CAST(sum(event_id) AS BIGINT) AS sum_id,
      |  count(DISTINCT user_id) AS n_users,
      |  min(event_id) AS min_id, max(event_id) AS max_id,
      |  count(*) AS n
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------------
  // S30: the `graftorc` DataSource V2 (sources.GraftOrc) end-to-end —
  // the from-scratch ORC stack surfaced the Spark-FIRST way, the twin
  // of s28's graftpq: not a mapPartitions ingest (s29's shape) but a
  // registered source Catalyst plans like any other — schema inferred
  // from our protobuf footer walk, filters pushed into the ScanBuilder
  // (per-stripe Metadata stats pruning driver-side), columns pruned to
  // the streams the query touches, one InputPartition per stripe with
  // a byte-range positional read. The oracle re-derives the same
  // answer from full scans in DuckDB, so the whole
  // plan-prune-decode chain is value-checked.
  private def s30OrcDsv2(s: SparkSession, dir: String): DataFrame = {
    val tmp = ensureOrcMetaFixture(s, dir)
    s.read.format("graftorc").load(tmp)
      .filter(col("event_id") >= 0 && col("user_id") >= 100)
      .groupBy(col("event_type"))
      .agg(sum(col("event_id")).as("sum_id"),
        min(col("user_id")).as("min_user"),
        max(col("event_id")).as("max_id"),
        count(lit(1)).as("n"))
      .orderBy(col("event_type"))
  }

  private val s30OrcDsv2Sql =
    """SELECT event_type, CAST(sum(event_id) AS BIGINT) AS sum_id,
      |  min(user_id) AS min_user, max(event_id) AS max_id,
      |  count(*) AS n
      |FROM events WHERE event_id >= 0 AND user_id >= 100
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------------
  // S31: the from-scratch parquet WRITER (operators.ParquetWrite)
  // end-to-end — the engine WRITES its storage format without
  // parquet-mr (thrift-compact footer, v1 PLAIN pages behind
  // RLE-hybrid definition levels, our own snappy compressor, modern
  // min_value/max_value chunk statistics), distributed one file per
  // partition where the data is. The read-back goes through Spark's
  // OWN parquet-mr reader — the independent implementation — so a
  // wrong field id, broken def-level run, bad stat encoding or
  // misplaced page offset fails the scan or the value compare; the
  // oracle re-derives the aggregate from the source table in DuckDB.
  private def s31ParquetWrite(s: SparkSession, dir: String): DataFrame = {
    val tmp = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-pqwrite-${graft.Tables.fingerprint(dir, "events")}")
      .getAbsolutePath
    if (!new java.io.File(tmp, "_SUCCESS").exists()) {
      graft.operators.ParquetWrite.writeDataFrame(
        t(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("value"))
          .repartition(s.sparkContext.defaultParallelism),
        tmp, codec = 1)
    }
    s.read.parquet(tmp)
      .groupBy(col("event_type"))
      .agg((sum(round(col("value") * 100).cast("long")) / 100.0)
        .as("sum_value"),
        countDistinct(col("user_id")).as("n_users"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"),
        count(lit(1)).as("n"))
      .orderBy(col("event_type"))
  }

  private val s31ParquetWriteSql =
    """SELECT event_type,
      |  sum(CAST(round(value*100) AS BIGINT))/100.0 AS sum_value,
      |  count(DISTINCT user_id) AS n_users,
      |  min(event_id) AS min_id, max(event_id) AS max_id,
      |  count(*) AS n
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------------
  // S32: `graftpq` over RICH types — DECIMAL in all three physical
  // storages (INT32 / INT64 / FIXED_LEN_BYTE_ARRAY per LogicalTypes.md
  // precision rules), the standard 3-level LIST (null lists, null
  // elements) and a one-level STRUCT (null structs) — the column shapes
  // every real warehouse file has. The fixture derives every value
  // EXACTLY (string-built decimals: no double-rounding ambiguity
  // between engines), Spark's writer emits it zstd-compressed, the
  // from-scratch DSv2 source plans + decodes it (Dremel level
  // reassembly), and the oracle re-derives the same aggregate from the
  // source table in DuckDB.

  def ensureRichParquetFixture(s: SparkSession, dir: String): String = {
    val tmp = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-pqrich-${graft.Tables.fingerprint(dir, "events")}")
      .getAbsolutePath
    if (!new java.io.File(tmp, "_SUCCESS").exists()) {
      t(s, dir, "events")
        .select(col("event_id"),
          concat((col("event_id") % 1000).cast("string"), lit("."),
            lpad((col("event_id") % 997).cast("string"), 3, "0"))
            .cast("decimal(12,3)").as("amount"),
          concat((col("event_id") % 100).cast("string"), lit("."),
            lpad((col("event_id") % 97).cast("string"), 2, "0"))
            .cast("decimal(7,2)").as("fee"),
          concat(col("event_id").cast("string"), lit("."),
            lpad((col("event_id") % 999983).cast("string"), 6, "0"))
            .cast("decimal(28,6)").as("big"),
          when(col("event_id") % 11 === 0, lit(null))
            .otherwise(array(col("event_type"),
              when(col("event_id") % 7 === 0, lit(null))
                .otherwise((col("user_id") % 5).cast("string"))))
            .as("tags"),
          when(col("event_id") % 13 === 0, lit(null))
            .otherwise(struct(col("user_id").as("u"),
              col("event_type").as("t"))).as("meta"))
        .repartition(2, col("event_id"))
        .write.mode("overwrite").option("compression", "zstd")
        .parquet(tmp)
    }
    tmp
  }

  private def s32RichScan(s: SparkSession, dir: String): DataFrame = {
    val tmp = ensureRichParquetFixture(s, dir)
    s.read.format("graftpq").load(tmp)
      .groupBy(col("meta").getField("t").as("t"))
      // final sums leave as DOUBLE: each decimal sum is exact, and the
      // decimal→double conversion of the same exact value is identical
      // in both engines, whereas decimal-typed OUTPUT columns hit
      // asymmetric decimal handling in the compare harness
      .agg(count(lit(1)).as("n"),
        sum(col("amount")).cast("double").as("sum_amount"),
        sum(col("fee")).cast("double").as("sum_fee"),
        sum(col("big")).cast("double").as("sum_big"),
        sum(coalesce(size(col("tags")), lit(0))).as("n_tag_entries"),
        sum(when(col("tags").isNull, 1).otherwise(0)).as("n_null_tags"),
        min(col("meta").getField("u")).as("min_u"))
      .orderBy(col("t"))
  }

  private val s32RichScanSql =
    """WITH rich AS (
      |  SELECT
      |    CASE WHEN event_id % 13 = 0 THEN NULL ELSE event_type END AS t,
      |    CASE WHEN event_id % 13 = 0 THEN NULL ELSE user_id END AS u,
      |    CAST(concat(CAST(event_id % 1000 AS VARCHAR), '.',
      |      lpad(CAST(event_id % 997 AS VARCHAR), 3, '0'))
      |      AS DECIMAL(12,3)) AS amount,
      |    CAST(concat(CAST(event_id % 100 AS VARCHAR), '.',
      |      lpad(CAST(event_id % 97 AS VARCHAR), 2, '0'))
      |      AS DECIMAL(7,2)) AS fee,
      |    CAST(concat(CAST(event_id AS VARCHAR), '.',
      |      lpad(CAST(event_id % 999983 AS VARCHAR), 6, '0'))
      |      AS DECIMAL(28,6)) AS big,
      |    CASE WHEN event_id % 11 = 0 THEN 0 ELSE 2 END AS tag_n,
      |    CASE WHEN event_id % 11 = 0 THEN 1 ELSE 0 END AS tag_null
      |  FROM events)
      |SELECT t, count(*) AS n,
      |  CAST(sum(amount) AS DOUBLE) AS sum_amount,
      |  CAST(sum(fee) AS DOUBLE) AS sum_fee,
      |  CAST(sum(big) AS DOUBLE) AS sum_big,
      |  CAST(sum(tag_n) AS BIGINT) AS n_tag_entries,
      |  CAST(sum(tag_null) AS BIGINT) AS n_null_tags,
      |  min(u) AS min_u
      |FROM rich GROUP BY t ORDER BY t NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------------
  // S33: `graftorc` over TIMESTAMP + DECIMAL + BINARY — the ORC twin of
  // s32. TIMESTAMP exercises the two-stream decode (seconds since the
  // 2015 base + packed trailing-zero nanos), DECIMAL the unbounded
  // zigzag varint + SECONDARY scale streams, BINARY the LENGTH+DATA
  // pair; decimals string-built so both engines parse the same exact
  // value. The oracle re-derives the aggregate from the source table.

  def ensureRichOrcFixture(s: SparkSession, dir: String): String = {
    val tmp = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-orcrich-${graft.Tables.fingerprint(dir, "events")}")
      .getAbsolutePath
    if (!new java.io.File(tmp, "_SUCCESS").exists()) {
      t(s, dir, "events")
        .select(col("event_id"), col("ts"), col("event_type"),
          concat((col("event_id") % 1000).cast("string"), lit("."),
            lpad((col("event_id") % 997).cast("string"), 3, "0"))
            .cast("decimal(12,3)").as("amount"),
          when(col("event_id") % 7 === 0, lit(null))
            .otherwise(encode(col("event_type"), "UTF-8")).as("bin"))
        .repartition(2, col("event_id"))
        .write.mode("overwrite").option("compression", "zstd")
        .orc(tmp)
    }
    tmp
  }

  private def s33OrcRich(s: SparkSession, dir: String): DataFrame = {
    val tmp = ensureRichOrcFixture(s, dir)
    s.read.format("graftorc").load(tmp)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        max(col("ts")).as("max_ts"),
        min(col("ts")).as("min_ts"),
        sum(col("amount")).cast("double").as("sum_amount"),
        sum(coalesce(length(col("bin")), lit(0)).cast("long"))
          .as("bin_bytes"))
      .orderBy(col("event_type"))
  }

  private val s33OrcRichSql =
    """SELECT event_type, count(*) AS n,
      |  max(ts) AS max_ts, min(ts) AS min_ts,
      |  CAST(sum(CAST(concat(CAST(event_id % 1000 AS VARCHAR), '.',
      |    lpad(CAST(event_id % 997 AS VARCHAR), 3, '0'))
      |    AS DECIMAL(12,3))) AS DOUBLE) AS sum_amount,
      |  CAST(sum(CASE WHEN event_id % 7 = 0 THEN 0
      |    ELSE strlen(event_type) END) AS BIGINT) AS bin_bytes
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------------
  // S34: `graftpq` over a Maintenance-COMMITTED table — the two
  // skipping paths composed: the commit protocol records file-level
  // [min,max] in `_graft_log/filestats.tsv` at append time, and the
  // DSv2 source consumes them to drop whole files before any footer
  // read (row-group footer stats then prune within survivors;
  // GraftParquetSpec pins the no-footer-IO behavior with a
  // torn-footer fixture). Three range-sliced commits give the manifest
  // disjoint per-file ranges; the oracle recomputes from the source
  // table.

  def ensureGraftTableFixture(s: SparkSession, dir: String): String = {
    val tmp = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-pqtbl-${graft.Tables.fingerprint(dir, "events")}")
      .getAbsolutePath
    val done = new java.io.File(tmp, "_fixture_done")
    if (!done.exists()) {
      graft.streaming.WorkDirs.deleteRecursively(new java.io.File(tmp))
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
      val maxId = ev.agg(max(col("event_id"))).head.getLong(0)
      val cut1 = maxId / 3
      val cut2 = 2 * maxId / 3
      graft.operators.Maintenance.commitAppend(s, tmp,
        ev.filter(col("event_id") < cut1).coalesce(1))
      graft.operators.Maintenance.commitAppend(s, tmp,
        ev.filter(col("event_id") >= cut1 && col("event_id") < cut2)
          .coalesce(1))
      graft.operators.Maintenance.commitAppend(s, tmp,
        ev.filter(col("event_id") >= cut2).coalesce(1))
      new java.io.FileOutputStream(done).close()
    }
    tmp
  }

  /** Build-once PARTITIONED committed table (hive `bucket=N` dirs —
    * the reference's own fact layout, `query.sql:4` partitions fact by
    * coin_id): two commits so partition dirs AND per-commit manifest
    * stats both exist to prune against.
    */
  def ensurePartitionedTableFixture(s: SparkSession, dir: String)
      : String = {
    val tmp = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-pqptbl-${graft.Tables.fingerprint(dir, "events")}")
      .getAbsolutePath
    val done = new java.io.File(tmp, "_fixture_done")
    if (!done.exists()) {
      graft.streaming.WorkDirs.deleteRecursively(new java.io.File(tmp))
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), (col("user_id") % 4).cast("int").as("bucket"))
      val maxId = ev.agg(max(col("event_id"))).head.getLong(0)
      val cut = maxId / 2
      graft.operators.Maintenance.commitAppend(s, tmp,
        ev.filter(col("event_id") < cut).coalesce(1),
        partitionBy = Seq("bucket"))
      graft.operators.Maintenance.commitAppend(s, tmp,
        ev.filter(col("event_id") >= cut).coalesce(1))
      new java.io.FileOutputStream(done).close()
    }
    tmp
  }

  // S36: the manifest bridge over the flagship PARTITIONED table shape
  // — graftpq walks the hive dirs, prunes whole partition dirs from the
  // pushed bucket equality (dir values + the manifest's min=max
  // partition stats) and files from commit-time id stats, then surfaces
  // `bucket` as a typed constant column the aggregate groups against.
  private def s36PartitionedScan(s: SparkSession, dir: String)
      : DataFrame = {
    val tmp = ensurePartitionedTableFixture(s, dir)
    s.read.format("graftpq").load(tmp)
      .filter(col("bucket") === 2 && col("user_id") >= 50)
      .groupBy(col("event_type"))
      .agg((sum(round(col("value") * 100).cast("long")) / 100.0)
        .as("sum_value"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"),
        count(lit(1)).as("n"))
      .orderBy(col("event_type"))
  }

  private val s36PartitionedScanSql =
    """SELECT event_type,
      |  sum(CAST(round(value*100) AS BIGINT))/100.0 AS sum_value,
      |  min(event_id) AS min_id, max(event_id) AS max_id,
      |  count(*) AS n
      |FROM events WHERE user_id % 4 = 2 AND user_id >= 50
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Build-once parquet fixture with a MAP column (null maps, empty
    * maps, null values, a data-dependent key) — the s37 input.
    */
  def ensureMapParquetFixture(s: SparkSession, dir: String): String = {
    val tmp = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-pqmap-${graft.Tables.fingerprint(dir, "events")}")
      .getAbsolutePath
    if (!new java.io.File(tmp, "_SUCCESS").exists()) {
      t(s, dir, "events")
        .select(col("event_id"), col("event_type"),
          when(col("event_id") % 10 === 0, lit(null))
            .otherwise(when(col("event_id") % 10 === 1,
              map().cast("map<string,bigint>"))
              .otherwise(map(
                lit("uid"), col("user_id").cast("long"),
                lit("cents"), round(col("value") * 100).cast("long"),
                concat(lit("t_"), col("event_type")),
                (col("event_id") % 7).cast("long"),
                lit("opt"), when(col("event_id") % 3 === 0, lit(null))
                  .otherwise((col("event_id") % 5).cast("long")))))
            .as("attrs"))
        .repartition(2, col("event_id"))
        .write.mode("overwrite").option("compression", "zstd")
        .parquet(tmp)
    }
    tmp
  }

  // S37: MAP columns through the from-scratch graftpq plane — the
  // 3-level `key_value` Dremel shape decoded as two leaf streams
  // (required keys, optional values) sharing the map's rep/def
  // skeleton. Null maps, empty maps and null VALUES are all distinct
  // states the level streams must keep apart; the oracle re-derives
  // every entry from the source table's closed forms.
  private def s37MapScan(s: SparkSession, dir: String): DataFrame = {
    val tmp = ensureMapParquetFixture(s, dir)
    s.read.format("graftpq").load(tmp)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("attrs").isNull, 1).otherwise(0)).as("n_null_maps"),
        sum(coalesce(size(col("attrs")), lit(0))).as("n_entries"),
        sum(coalesce(element_at(col("attrs"), "cents"), lit(0L)))
          .as("sum_cents"),
        sum(coalesce(element_at(col("attrs"), "uid"), lit(0L)))
          .as("sum_uid"),
        sum(when(element_at(col("attrs"), "opt").isNull, 1).otherwise(0))
          .as("n_null_opt"))
      .orderBy(col("event_type"))
  }

  private val s37MapScanSql =
    """WITH m AS (
      |  SELECT event_type,
      |    CASE WHEN event_id % 10 = 0 THEN 1 ELSE 0 END AS is_null_map,
      |    CASE WHEN event_id % 10 IN (0,1) THEN 0 ELSE 4 END AS entries,
      |    CASE WHEN event_id % 10 IN (0,1) THEN 0
      |         ELSE CAST(round(value*100) AS BIGINT) END AS cents,
      |    CASE WHEN event_id % 10 IN (0,1) THEN 0 ELSE user_id END AS uid,
      |    CASE WHEN event_id % 10 IN (0,1) OR event_id % 3 = 0 THEN 1
      |         ELSE 0 END AS null_opt
      |  FROM events)
      |SELECT event_type, count(*) AS n,
      |  CAST(sum(is_null_map) AS BIGINT) AS n_null_maps,
      |  CAST(sum(entries) AS BIGINT) AS n_entries,
      |  CAST(sum(cents) AS BIGINT) AS sum_cents,
      |  CAST(sum(uid) AS BIGINT) AS sum_uid,
      |  CAST(sum(null_opt) AS BIGINT) AS n_null_opt
      |FROM m GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Build-once ORC fixture with nested LIST / STRUCT / MAP columns
    * (null and empty collections, null elements and values) — the s39
    * input, the ORC twin of [[ensureMapParquetFixture]].
    */
  def ensureNestedOrcFixture(s: SparkSession, dir: String): String = {
    val tmp = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-orcnested-${graft.Tables.fingerprint(dir, "events")}")
      .getAbsolutePath
    if (!new java.io.File(tmp, "_SUCCESS").exists()) {
      t(s, dir, "events")
        .select(col("event_id"), col("event_type"),
          when(col("event_id") % 10 === 0, lit(null))
            .otherwise(when(col("event_id") % 10 === 1,
              array().cast("array<bigint>"))
              .otherwise(array(col("user_id").cast("long"),
                when(col("event_id") % 3 === 0, lit(null))
                  .otherwise(round(col("value") * 100).cast("long")))))
            .as("xs"),
          when(col("event_id") % 8 === 0, lit(null))
            .otherwise(struct(
              col("user_id").cast("long").as("uid"),
              when(col("event_id") % 5 === 0, lit(null))
                .otherwise(round(col("value") * 100).cast("long"))
                .as("cents"))).as("st"),
          when(col("event_id") % 9 === 0, lit(null))
            .otherwise(when(col("event_id") % 9 === 1,
              map().cast("map<string,bigint>"))
              .otherwise(map(
                lit("uid"), col("user_id").cast("long"),
                lit("opt"), when(col("event_id") % 4 === 0, lit(null))
                  .otherwise((col("event_id") % 11).cast("long")))))
            .as("attrs"))
        .repartition(2, col("event_id"))
        .write.mode("overwrite").option("compression", "zstd")
        .orc(tmp)
    }
    tmp
  }

  // S39: nested LIST/STRUCT/MAP through the from-scratch graftorc
  // plane — ORC's child-only-when-parent-present convention (PRESENT +
  // LENGTH streams, no Dremel levels) reassembled recursively; null
  // lists, empty lists, null elements, null structs, null struct
  // FIELDS, null maps and null map values are all distinct states the
  // oracle re-derives from the source table's closed forms.
  private def s39OrcNested(s: SparkSession, dir: String): DataFrame = {
    val tmp = ensureNestedOrcFixture(s, dir)
    s.read.format("graftorc").load(tmp)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("xs").isNull, 1).otherwise(0)).as("n_null_lists"),
        sum(coalesce(size(col("xs")), lit(0))).as("n_elems"),
        sum(coalesce(get(col("xs"), lit(0)), lit(0L)))
          .as("sum_first"),
        sum(coalesce(col("st.cents"), lit(0L))).as("sum_cents"),
        sum(when(col("st").isNull, 1).otherwise(0)).as("n_null_structs"),
        sum(coalesce(element_at(col("attrs"), "opt"), lit(0L)))
          .as("sum_opt"))
      .orderBy(col("event_type"))
  }

  private val s39OrcNestedSql =
    """WITH m AS (
      |  SELECT event_type,
      |    CASE WHEN event_id % 10 = 0 THEN 1 ELSE 0 END AS null_list,
      |    CASE WHEN event_id % 10 IN (0,1) THEN 0 ELSE 2 END AS elems,
      |    CASE WHEN event_id % 10 IN (0,1) THEN 0 ELSE user_id
      |      END AS first_elem,
      |    CASE WHEN event_id % 8 = 0 OR event_id % 5 = 0 THEN 0
      |      ELSE CAST(round(value*100) AS BIGINT) END AS cents,
      |    CASE WHEN event_id % 8 = 0 THEN 1 ELSE 0 END AS null_struct,
      |    CASE WHEN event_id % 9 IN (0,1) OR event_id % 4 = 0 THEN 0
      |      ELSE event_id % 11 END AS opt
      |  FROM events)
      |SELECT event_type, count(*) AS n,
      |  CAST(sum(null_list) AS BIGINT) AS n_null_lists,
      |  CAST(sum(elems) AS BIGINT) AS n_elems,
      |  CAST(sum(first_elem) AS BIGINT) AS sum_first,
      |  CAST(sum(cents) AS BIGINT) AS sum_cents,
      |  CAST(sum(null_struct) AS BIGINT) AS n_null_structs,
      |  CAST(sum(opt) AS BIGINT) AS sum_opt
      |FROM m GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Build-once parquet fixture with a LIST-of-STRUCT column (null
    * lists, empty lists, null struct elements, null fields) — the s40
    * input.
    */
  def ensureListStructFixture(s: SparkSession, dir: String): String = {
    val tmp = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-pqliststruct-${graft.Tables.fingerprint(dir, "events")}")
      .getAbsolutePath
    if (!new java.io.File(tmp, "_SUCCESS").exists()) {
      t(s, dir, "events")
        .select(col("event_id"), col("event_type"),
          when(col("event_id") % 10 === 0, lit(null))
            .otherwise(when(col("event_id") % 10 === 1,
              array().cast("array<struct<uid:bigint,cents:bigint>>"))
              .otherwise(array(
                struct(col("user_id").cast("long").as("uid"),
                  round(col("value") * 100).cast("long").as("cents")),
                when(col("event_id") % 3 === 0,
                  lit(null).cast("struct<uid:bigint,cents:bigint>"))
                  .otherwise(struct(
                    (col("user_id") % 7).cast("long").as("uid"),
                    when(col("event_id") % 4 === 0, lit(null))
                      .otherwise((col("event_id") % 11).cast("long"))
                      .as("cents"))))))
            .as("legs"))
        .repartition(2, col("event_id"))
        .write.mode("overwrite").option("compression", "zstd")
        .parquet(tmp)
    }
    tmp
  }

  // S40: LIST-of-STRUCT through the from-scratch graftpq plane — the
  // element struct's leaves share the list's Dremel skeleton and the
  // per-slot def levels keep element-null / field-null / value apart;
  // the oracle re-derives every leg from the source table's closed
  // forms.
  private def s40ListStruct(s: SparkSession, dir: String): DataFrame = {
    val tmp = ensureListStructFixture(s, dir)
    s.read.format("graftpq").load(tmp)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("legs").isNull, 1).otherwise(0)).as("n_null"),
        sum(coalesce(size(col("legs")), lit(0))).as("n_legs"),
        sum(coalesce(get(col("legs"), lit(0)).getField("cents"),
          lit(0L))).as("sum_first_cents"),
        sum(when(size(col("legs")) === 2 &&
          get(col("legs"), lit(1)).isNull, 1).otherwise(0))
          .as("n_null_second"),
        sum(coalesce(get(col("legs"), lit(1)).getField("cents"),
          lit(0L))).as("sum_second_cents"))
      .orderBy(col("event_type"))
  }

  private val s40ListStructSql =
    """WITH m AS (
      |  SELECT event_type,
      |    CASE WHEN event_id % 10 = 0 THEN 1 ELSE 0 END AS is_null,
      |    CASE WHEN event_id % 10 IN (0,1) THEN 0 ELSE 2 END AS legs,
      |    CASE WHEN event_id % 10 IN (0,1) THEN 0
      |      ELSE CAST(round(value*100) AS BIGINT) END AS first_cents,
      |    CASE WHEN event_id % 10 NOT IN (0,1) AND event_id % 3 = 0
      |      THEN 1 ELSE 0 END AS null_second,
      |    CASE WHEN event_id % 10 IN (0,1) OR event_id % 3 = 0
      |        OR event_id % 4 = 0 THEN 0
      |      ELSE event_id % 11 END AS second_cents
      |  FROM events)
      |SELECT event_type, count(*) AS n,
      |  CAST(sum(is_null) AS BIGINT) AS n_null,
      |  CAST(sum(legs) AS BIGINT) AS n_legs,
      |  CAST(sum(first_cents) AS BIGINT) AS sum_first_cents,
      |  CAST(sum(null_second) AS BIGINT) AS n_null_second,
      |  CAST(sum(second_cents) AS BIGINT) AS sum_second_cents
      |FROM m GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Build-once SORTED OrcWrite fixture with small stripes and row
    * groups (stripeRows 4096, rowIndexStride 1024) — the s41 input:
    * a selective event_id filter must prune stripes from the Metadata
    * stats AND row groups from the ROW_INDEX stats, the reader
    * seeking mid-stripe.
    */
  def ensureSortedOrcFixture(s: SparkSession, dir: String): String = {
    val tmp = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-orcsorted-${graft.Tables.fingerprint(dir, "events")}")
      .getAbsolutePath
    if (!new java.io.File(tmp, "_SUCCESS").exists()) {
      graft.operators.OrcWrite.writeDataFrame(
        t(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("event_type"),
            round(col("value") * 100).cast("long").as("cents"))
          .repartition(1).sortWithinPartitions("event_id"),
        tmp, stripeRows = 4096, compression = 5, rowIndexStride = 1024)
    }
    tmp
  }

  // S41: ORC row-group SEEKS end-to-end — graftorc over a sorted
  // OrcWrite file with a mid-file event_id range: Metadata stats drop
  // whole stripes, RowIndexEntry stats drop row groups inside the
  // survivors, and the reader enters each stripe at the surviving
  // span's seek positions. The oracle re-applies the range to the
  // source table.
  private def s41OrcRowgroup(s: SparkSession, dir: String): DataFrame = {
    val tmp = ensureSortedOrcFixture(s, dir)
    s.read.format("graftorc").load(tmp)
      .filter(col("event_id") >= 3000 && col("event_id") < 4500)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("cents")).as("sum_cents"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"))
      .orderBy(col("event_type"))
  }

  private val s41OrcRowgroupSql =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT)
      |    AS sum_cents,
      |  min(event_id) AS min_id, max(event_id) AS max_id
      |FROM events WHERE event_id >= 3000 AND event_id < 4500
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Build-once SORTED ParquetWrite fixture with small pages
    * (rowGroupRows 8192, pageRows 1024) — the s42 input: a selective
    * event_id range must prune row groups from footer stats AND PAGES
    * from the writer's ColumnIndex/OffsetIndex, the reader walking
    * past non-surviving page bodies without decompressing them.
    */
  def ensureSortedPqFixture(s: SparkSession, dir: String): String = {
    val tmp = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-pqsorted-${graft.Tables.fingerprint(dir, "events")}")
      .getAbsolutePath
    if (!new java.io.File(tmp, "_SUCCESS").exists()) {
      graft.operators.ParquetWrite.writeDataFrame(
        t(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("event_type"),
            round(col("value") * 100).cast("long").as("cents"))
          .repartition(1).sortWithinPartitions("event_id"),
        tmp, codec = 6, rowGroupRows = 8192, pageRows = 1024)
    }
    tmp
  }

  // S42: parquet PAGE-INDEX pruning end-to-end — graftpq over a sorted
  // ParquetWrite file with a mid-file event_id range: footer stats drop
  // whole row groups, the ColumnIndex/OffsetIndex pair narrows the
  // survivors to page-grain row spans (parquet-mr RowRanges semantics),
  // and the reader skips pruned page bodies without decompressing a
  // byte. The oracle re-applies the range to the source table.
  private def s42PqPageindex(s: SparkSession, dir: String): DataFrame = {
    val tmp = ensureSortedPqFixture(s, dir)
    s.read.format("graftpq").load(tmp)
      .filter(col("event_id") >= 3000 && col("event_id") < 4500)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("cents")).as("sum_cents"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"))
      .orderBy(col("event_type"))
  }

  /** Build-once parquet fixture with SPLIT-BLOCK BLOOM FILTERS on a
    * high-cardinality unsorted key (md5 of event_id) — the s46 input:
    * every row group's [min,max] covers the whole key domain, so only
    * the blooms can prune point lookups.
    */
  def ensureBloomPqFixture(s: SparkSession, dir: String): String = {
    val tmp = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-pqbloom-${graft.Tables.fingerprint(dir, "events")}")
      .getAbsolutePath
    if (!new java.io.File(tmp, "_SUCCESS").exists()) {
      t(s, dir, "events")
        .select(col("event_id"), col("event_type"),
          md5(col("event_id").cast("string")).as("key"),
          round(col("value") * 100).cast("long").as("cents"))
        .coalesce(1)
        .write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#key", "true")
        .option("parquet.block.size", "4096")
        .option("compression", "snappy").parquet(tmp)
    }
    tmp
  }

  private def md5Hex(v: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(v.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  // S46: split-block bloom filters end-to-end — point lookups on a
  // high-cardinality UNSORTED key through graftpq: min/max stats keep
  // every row group (full-domain overlap), the chunk blooms prove
  // absent members out and keep only the groups that might hold the
  // present ones; Spark re-evaluates row-exactly. The member list
  // carries one absent key on purpose. The oracle applies the
  // equivalent event_id IN (…) predicate.
  private def s46PqBloom(s: SparkSession, dir: String): DataFrame = {
    val tmp = ensureBloomPqFixture(s, dir)
    val members = Seq("9", "170", "777", "4242", "99999999" /* absent */)
      .map(md5Hex)
    s.read.format("graftpq").load(tmp)
      .filter(col("key").isin(members: _*))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("cents")).as("sum_cents"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"))
      .orderBy(col("event_type"))
  }

  private val s46PqBloomSql =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT)
      |    AS sum_cents,
      |  min(event_id) AS min_id, max(event_id) AS max_id
      |FROM events WHERE event_id IN (9, 170, 777, 4242)
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** The ORC twin of [[ensureBloomPqFixture]]: orc-core-written
    * BLOOM_FILTER_UTF8 streams on the same high-cardinality unsorted
    * md5 key — the s47 input.
    */
  def ensureBloomOrcFixture(s: SparkSession, dir: String): String = {
    val tmp = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-orcbloom-${graft.Tables.fingerprint(dir, "events")}")
      .getAbsolutePath
    if (!new java.io.File(tmp, "_SUCCESS").exists()) {
      t(s, dir, "events")
        .select(col("event_id"), col("event_type"),
          md5(col("event_id").cast("string")).as("key"),
          round(col("value") * 100).cast("long").as("cents"))
        .coalesce(1)
        .write.mode("overwrite")
        .option("orc.bloom.filter.columns", "key")
        .option("orc.row.index.stride", "2048")
        .option("compression", "zstd").orc(tmp)
    }
    tmp
  }

  // S47: ORC bloom filters end-to-end — the graftorc twin of s46:
  // BLOOM_FILTER_UTF8 streams probed per ROW GROUP with orc-core's own
  // hash scheme (Murmur3-64 seed 104729 over UTF-8 bytes); absent
  // members prove groups out where the min/max stats can't, present
  // ones answer row-exactly. Same member list and oracle as s46.
  private def s47OrcBloom(s: SparkSession, dir: String): DataFrame = {
    val tmp = ensureBloomOrcFixture(s, dir)
    val members = Seq("9", "170", "777", "4242", "99999999" /* absent */)
      .map(md5Hex)
    s.read.format("graftorc").load(tmp)
      .filter(col("key").isin(members: _*))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("cents")).as("sum_cents"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"))
      .orderBy(col("event_type"))
  }

  // S45: the wider pushdown family end-to-end — IN (disjunction over
  // stats), LIKE-prefix (StringStartsWith fences) and IS NOT NULL all
  // prune groups/pages at the graftpq scan, and Spark re-evaluates
  // them row-exactly; the oracle re-applies the same predicates.
  private def s45PqFilters(s: SparkSession, dir: String): DataFrame = {
    val tmp = ensureSortedPqFixture(s, dir)
    s.read.format("graftpq").load(tmp)
      .filter(col("user_id").isin(10, 20, 30, 40) &&
        col("event_type").startsWith("c") &&
        col("cents").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("cents")).as("sum_cents"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"))
      .orderBy(col("event_type"))
  }

  private val s45PqFiltersSql =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT)
      |    AS sum_cents,
      |  min(event_id) AS min_id, max(event_id) AS max_id
      |FROM events
      |WHERE user_id IN (10,20,30,40) AND event_type LIKE 'c%'
      |  AND round(value*100) IS NOT NULL
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  private val s42PqPageindexSql =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT)
      |    AS sum_cents,
      |  min(event_id) AS min_id, max(event_id) AS max_id
      |FROM events WHERE event_id >= 3000 AND event_id < 4500
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Build-once parquet fixture with DEEP nested columns — a
    * list-of-list, a struct containing a list, and a map whose value
    * is a struct containing a list, with nulls/empties at every level
    * — the s43 input (every shape the generic TreePlan assembler
    * covers beyond the one-level specialized plans).
    */
  def ensureDeepPqFixture(s: SparkSession, dir: String): String = {
    val tmp = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-pqdeep-${graft.Tables.fingerprint(dir, "events")}")
      .getAbsolutePath
    if (!new java.io.File(tmp, "_SUCCESS").exists()) {
      deepNestedEvents(s, dir)
        .repartition(2, col("event_id"))
        .write.mode("overwrite").option("compression", "zstd")
        .parquet(tmp)
    }
    tmp
  }

  /** The shared deep-nested projection over events (the s43/s44
    * input shapes: list-of-list, struct-containing-list, map values
    * that are structs containing lists — nulls/empties everywhere).
    */
  private def deepNestedEvents(s: SparkSession, dir: String)
      : DataFrame = {
    val id = col("event_id")
    t(s, dir, "events")
      .select(id, col("event_type"),
          when(id % 10 === 0, lit(null))
            .otherwise(when(id % 10 === 1,
              array().cast("array<array<bigint>>"))
              .otherwise(array(
                array(col("user_id").cast("long"),
                  round(col("value") * 100).cast("long")),
                when(id % 4 === 0, lit(null).cast("array<bigint>"))
                  .otherwise(when(id % 4 === 1,
                    array().cast("array<bigint>"))
                    .otherwise(array((id % 7).cast("long")))))))
            .as("ll"),
          when(id % 8 === 0, lit(null))
            .otherwise(struct(
              col("user_id").cast("long").as("uid"),
              when(id % 5 === 0, lit(null).cast("array<bigint>"))
                .otherwise(array(
                  round(col("value") * 100).cast("long"),
                  when(id % 3 === 0, lit(null))
                    .otherwise((id % 9).cast("long")))).as("xs")))
            .as("st"),
          when(id % 6 === 0, lit(null))
            .otherwise(map(lit("v"),
              when(id % 7 === 0,
                lit(null).cast("struct<a:bigint,ys:array<bigint>>"))
                .otherwise(struct((id % 23).cast("long").as("a"),
                  array((id % 3).cast("long")).as("ys")))))
            .as("ms"))
  }

  /** Build-once fixture WRITTEN by the from-scratch ParquetWrite tree
    * shredder (the s44 input) — the write-side twin of
    * [[ensureDeepPqFixture]], same deep shapes, our pages/levels.
    */
  def ensureDeepWriteFixture(s: SparkSession, dir: String): String = {
    val tmp = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-pqdeepw-${graft.Tables.fingerprint(dir, "events")}")
      .getAbsolutePath
    if (!new java.io.File(tmp, "_SUCCESS").exists()) {
      graft.operators.ParquetWrite.writeDataFrame(
        deepNestedEvents(s, dir).repartition(2, col("event_id")),
        tmp, codec = 6, rowGroupRows = 8192, pageRows = 2048)
    }
    tmp
  }

  // S43: DEEP-nested parquet through the generic graftpq node-tree
  // assembler — list-of-list, struct-containing-list, map values that
  // are structs containing lists: each leaf's level streams parse into
  // nested slots, siblings zip by their shared list skeleton, and def
  // thresholds keep null-ancestor / null-value / empty-collection
  // apart at EVERY level. The oracle re-derives each aggregate from
  // the source table's closed forms.
  private def s43PqDeepnested(s: SparkSession, dir: String): DataFrame =
    deepNestedAgg(
      s.read.format("graftpq").load(ensureDeepPqFixture(s, dir)))

  // S44: the WRITE-side twin — the same deep shapes land through
  // ParquetWrite's generic tree shredder (arbitrary-depth Dremel
  // level streams, our pages and codecs) and the INDEPENDENT reader
  // (Spark/parquet-mr) scans them; the oracle re-derives the same
  // closed forms, so a shredding bug cannot cancel against a
  // matching read-side bug.
  private def s44PqDeepwrite(s: SparkSession, dir: String): DataFrame =
    deepNestedAgg(s.read.parquet(ensureDeepWriteFixture(s, dir)))

  private def deepNestedAgg(df: DataFrame): DataFrame = {
    val ll = col("ll")
    df.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(when(ll.isNull, 1).otherwise(0)).as("n_null_ll"),
        sum(coalesce(size(ll), lit(0))).as("n_inner"),
        sum(coalesce(get(get(ll, lit(0)), lit(0)), lit(0L)))
          .as("sum_ll00"),
        sum(when(coalesce(size(ll), lit(0)) === 2 &&
          get(ll, lit(1)).isNull, 1).otherwise(0)).as("n_null_inner"),
        sum(coalesce(get(get(ll, lit(1)), lit(0)), lit(0L)))
          .as("sum_ll2"),
        sum(coalesce(col("st").getField("uid"), lit(0L))).as("sum_uid"),
        sum(coalesce(get(col("st").getField("xs"), lit(0)), lit(0L)))
          .as("sum_xs0"),
        sum(coalesce(element_at(col("ms"), "v").getField("a"), lit(0L)))
          .as("sum_ms_a"),
        sum(coalesce(get(element_at(col("ms"), "v").getField("ys"),
          lit(0)), lit(0L))).as("sum_ms_ys0"))
      .orderBy(col("event_type"))
  }

  private val s43PqDeepnestedSql =
    """WITH m AS (
      |  SELECT event_type,
      |    CASE WHEN event_id % 10 = 0 THEN 1 ELSE 0 END AS null_ll,
      |    CASE WHEN event_id % 10 IN (0,1) THEN 0 ELSE 2 END AS inner_n,
      |    CASE WHEN event_id % 10 IN (0,1) THEN 0
      |         ELSE user_id END AS ll00,
      |    CASE WHEN event_id % 10 NOT IN (0,1) AND event_id % 4 = 0
      |         THEN 1 ELSE 0 END AS null_inner,
      |    CASE WHEN event_id % 10 NOT IN (0,1)
      |          AND event_id % 4 NOT IN (0,1)
      |         THEN event_id % 7 ELSE 0 END AS ll2v,
      |    CASE WHEN event_id % 8 <> 0 THEN user_id ELSE 0 END AS st_uid,
      |    CASE WHEN event_id % 8 <> 0 AND event_id % 5 <> 0
      |         THEN CAST(round(value*100) AS BIGINT)
      |         ELSE 0 END AS st_xs0,
      |    CASE WHEN event_id % 6 <> 0 AND event_id % 7 <> 0
      |         THEN event_id % 23 ELSE 0 END AS ms_a,
      |    CASE WHEN event_id % 6 <> 0 AND event_id % 7 <> 0
      |         THEN event_id % 3 ELSE 0 END AS ms_ys0
      |  FROM events)
      |SELECT event_type, count(*) AS n,
      |  CAST(sum(null_ll) AS BIGINT) AS n_null_ll,
      |  CAST(sum(inner_n) AS BIGINT) AS n_inner,
      |  CAST(sum(ll00) AS BIGINT) AS sum_ll00,
      |  CAST(sum(null_inner) AS BIGINT) AS n_null_inner,
      |  CAST(sum(ll2v) AS BIGINT) AS sum_ll2,
      |  CAST(sum(st_uid) AS BIGINT) AS sum_uid,
      |  CAST(sum(st_xs0) AS BIGINT) AS sum_xs0,
      |  CAST(sum(ms_a) AS BIGINT) AS sum_ms_a,
      |  CAST(sum(ms_ys0) AS BIGINT) AS sum_ms_ys0
      |FROM m GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Build-once committed table carrying OUTSTANDING deletion vectors
    * (two stacked DV deletes over two range-sliced commits) — the s38
    * input. The vectors spread across both files and every row group,
    * so the scan-side skip machinery runs everywhere, not on one edge.
    */
  def ensureDvTableFixture(s: SparkSession, dir: String): String = {
    val tmp = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-pqdvtbl-${graft.Tables.fingerprint(dir, "events")}")
      .getAbsolutePath
    val done = new java.io.File(tmp, "_fixture_done")
    if (!done.exists()) {
      graft.streaming.WorkDirs.deleteRecursively(new java.io.File(tmp))
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
      val maxId = ev.agg(max(col("event_id"))).head.getLong(0)
      val cut = maxId / 2
      graft.operators.Maintenance.commitAppend(s, tmp,
        ev.filter(col("event_id") < cut).coalesce(1))
      graft.operators.Maintenance.commitAppend(s, tmp,
        ev.filter(col("event_id") >= cut).coalesce(1))
      // stacked: the second delete only matches still-visible rows
      graft.operators.Maintenance.deleteWithVectors(s, tmp,
        col("event_id") % 5 === 3)
      graft.operators.Maintenance.deleteWithVectors(s, tmp,
        col("user_id") % 9 === 4)
      new java.io.FileOutputStream(done).close()
    }
    tmp
  }

  // S38: `graftpq` over a committed table with OUTSTANDING deletion
  // vectors — the vector datasets load driver-side at planning, each
  // row-group split ships only its own position slice, and the reader
  // hops the deleted rows; the pushed user_id filter still prunes
  // files/groups (min/max proofs stay valid under deletion). The
  // oracle re-applies both delete predicates to the source table.
  private def s38DvScan(s: SparkSession, dir: String): DataFrame = {
    val tmp = ensureDvTableFixture(s, dir)
    s.read.format("graftpq").load(tmp)
      .filter(col("user_id") >= 50)
      .groupBy(col("event_type"))
      .agg((sum(round(col("value") * 100).cast("long")) / 100.0)
        .as("sum_value"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"),
        count(lit(1)).as("n"))
      .orderBy(col("event_type"))
  }

  private val s38DvScanSql =
    """SELECT event_type,
      |  sum(CAST(round(value*100) AS BIGINT))/100.0 AS sum_value,
      |  min(event_id) AS min_id, max(event_id) AS max_id,
      |  count(*) AS n
      |FROM events
      |WHERE user_id >= 50
      |  AND NOT (event_id % 5 = 3) AND NOT (user_id % 9 = 4)
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  private def s34TableScan(s: SparkSession, dir: String): DataFrame = {
    val tmp = ensureGraftTableFixture(s, dir)
    s.read.format("graftpq").load(tmp)
      .filter(col("user_id") >= 100)
      .groupBy(col("event_type"))
      .agg((sum(round(col("value") * 100).cast("long")) / 100.0)
        .as("sum_value"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"),
        count(lit(1)).as("n"))
      .orderBy(col("event_type"))
  }

  private val s34TableScanSql =
    """SELECT event_type,
      |  sum(CAST(round(value*100) AS BIGINT))/100.0 AS sum_value,
      |  min(event_id) AS min_id, max(event_id) AS max_id,
      |  count(*) AS n
      |FROM events WHERE user_id >= 100
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------------
  // S35: the from-scratch ORC WRITER (operators.OrcWrite) end-to-end —
  // the ORC twin of s31: the engine WRITES its second storage format
  // without orc-core (hand-built protobuf postscript/footer/stripe
  // footers, RLEv2 DIRECT integer runs, boolean-RLE present streams,
  // DIRECT_V2 strings), distributed one file per partition where the
  // data is. The read-back goes through Spark's OWN orc-core reader —
  // the independent implementation — so a wrong proto field id, broken
  // RLE run or misplaced stream offset fails the scan or the value
  // compare; the oracle re-derives the aggregate from the source table.
  private def s35OrcWrite(s: SparkSession, dir: String): DataFrame = {
    val tmp = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-orcwz-${graft.Tables.fingerprint(dir, "events")}")
      .getAbsolutePath
    if (!new java.io.File(tmp, "_SUCCESS").exists()) {
      graft.operators.OrcWrite.writeDataFrame(
        t(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("value"))
          .repartition(s.sparkContext.defaultParallelism),
        tmp, compression = 5) // every section through our own zstd
    }
    s.read.orc(tmp)
      .groupBy(col("event_type"))
      .agg((sum(round(col("value") * 100).cast("long")) / 100.0)
        .as("sum_value"),
        countDistinct(col("user_id")).as("n_users"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"),
        count(lit(1)).as("n"))
      .orderBy(col("event_type"))
  }

  private val s35OrcWriteSql =
    """SELECT event_type,
      |  sum(CAST(round(value*100) AS BIGINT))/100.0 AS sum_value,
      |  count(DISTINCT user_id) AS n_users,
      |  min(event_id) AS min_id, max(event_id) AS max_id,
      |  count(*) AS n
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------------
  // S15: XML ingestion through Spark 4's NATIVE XML data source — the
  // crawl-adjacent feed shape (sitemaps, RSS, product feeds) next to the
  // archive family. Unlike s12–s14 (byte-framing formats that need a
  // parser per task), XML is a first-class Spark source since 4.0: the
  // fixture is a deterministic multi-file sitemap corpus and the query is
  // a declarative `format("xml")` scan with an EXPLICIT schema (rowTag
  // streaming parse — files split across tasks, no whole-corpus DOM) plus
  // attribute extraction (`_seq`), date parsing, and an exact integer
  // rollup. The oracle recomputes every row from the fixture formulas.

  /** Build-once sitemap fixture: 4 files × 125 `<url>` entries, every
    * field a closed-form function of the url ordinal. `_SUCCESS` written
    * last guards torn fixtures (same contract as [[ensureCsvFixture]]).
    */
  def ensureXmlFixture(s: SparkSession, dir: String): String = {
    val tmp = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-xml-${graft.Tables.fingerprint(dir, "documents")}")
    val done = new java.io.File(tmp, "_SUCCESS")
    if (!done.exists()) {
      tmp.mkdirs()
      val freqs = Array("daily", "weekly", "monthly")
      for (f <- 0 until 4) {
        val sb = new StringBuilder
        sb ++= "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<urlset>\n"
        for (j <- 0 until 125) {
          val i = f * 125 + j
          val lastmod = java.time.LocalDate.of(2024, 1, 1).plusDays(i % 365)
          sb ++= s"""  <url seq="$i"><loc>https://host${i % 7}.example.com/page/$i</loc>"""
          sb ++= s"<lastmod>$lastmod</lastmod>"
          sb ++= s"<priority>0.${1 + i % 9}</priority>"
          sb ++= s"<changefreq>${freqs(i % 3)}</changefreq></url>\n"
        }
        sb ++= "</urlset>\n"
        java.nio.file.Files.write(
          new java.io.File(tmp, s"sitemap-$f.xml").toPath,
          sb.toString.getBytes("UTF-8"))
      }
      done.createNewFile()
    }
    tmp.getAbsolutePath
  }

  private def s15XmlIngest(s: SparkSession, dir: String): DataFrame = {
    val tmp = ensureXmlFixture(s, dir)
    val schema = StructType(Seq(
      StructField("_seq", LongType),
      StructField("loc", StringType),
      StructField("lastmod", DateType),
      StructField("priority", DoubleType),
      StructField("changefreq", StringType)))
    s.read.format("xml").option("rowTag", "url").schema(schema).load(tmp)
      .withColumn("host", regexp_extract(col("loc"), "https://([^/]+)/", 1))
      .groupBy(col("host"), col("changefreq"))
      .agg(count(lit(1)).as("n_urls"),
        min(col("_seq")).as("min_seq"),
        max(col("lastmod")).as("max_lastmod"),
        sum(round(col("priority") * 10).cast("long")).as("prio_tenths"))
      .orderBy(col("host"), col("changefreq"))
  }

  private val s15XmlIngestSql =
    """WITH u AS (
      |  SELECT i, 'host' || (i % 7) || '.example.com' AS host,
      |    CASE i % 3 WHEN 0 THEN 'daily' WHEN 1 THEN 'weekly'
      |         ELSE 'monthly' END AS changefreq,
      |    DATE '2024-01-01' + CAST(i % 365 AS INTEGER) AS lastmod,
      |    1 + i % 9 AS tenths
      |  FROM unnest(generate_series(0, 499)) t(i))
      |SELECT host, changefreq, count(*) AS n_urls,
      |  CAST(min(i) AS BIGINT) AS min_seq,
      |  max(lastmod) AS max_lastmod,
      |  CAST(sum(tenths) AS BIGINT) AS prio_tenths
      |FROM u GROUP BY host, changefreq ORDER BY host, changefreq""".stripMargin

  // ---------------------------------------------------------------------
  // S16: JSON-lines ingestion with CORRUPT-RECORD handling — the other
  // half of a production JSON source next to p1_decode_json's clean
  // parse: real feeds carry torn lines, and the PERMISSIVE +
  // columnNameOfCorruptRecord contract (bad line → all fields null, raw
  // text in the corrupt column, nothing thrown, nothing silently
  // dropped) is what keeps a 100-TB ingest from dying on one bad byte.
  // The fixture makes every 13th line torn mid-string; the rollup buckets
  // corrupt lines explicitly so the oracle checks BOTH that no torn line
  // parsed and that no good line was lost.

  /** Build-once JSONL fixture: 4 files × 125 lines, every 13th line torn
    * (same `_SUCCESS` torn-fixture guard as [[ensureCsvFixture]]).
    */
  def ensureJsonlFixture(s: SparkSession, dir: String): String = {
    val tmp = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-jsonl-${graft.Tables.fingerprint(dir, "documents")}")
    val done = new java.io.File(tmp, "_SUCCESS")
    if (!done.exists()) {
      tmp.mkdirs()
      for (f <- 0 until 4) {
        val sb = new StringBuilder
        for (j <- 0 until 125) {
          val i = f * 125 + j
          if (i % 13 == 0)
            sb ++= s"""{"id": $i, "kind": "k${i % 4}", "sco\n"""
          else
            sb ++= s"""{"id": $i, "kind": "k${i % 4}", "score": ${i * 7 % 1000}}\n"""
        }
        java.nio.file.Files.write(
          new java.io.File(tmp, s"part-$f.jsonl").toPath,
          sb.toString.getBytes("UTF-8"))
      }
      done.createNewFile()
    }
    tmp.getAbsolutePath
  }

  private def s16JsonlIngest(s: SparkSession, dir: String): DataFrame = {
    val tmp = ensureJsonlFixture(s, dir)
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("kind", StringType),
      StructField("score", LongType),
      StructField("_bad", StringType)))
    s.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_bad")
      .json(tmp)
      .withColumn("bucket",
        when(col("_bad").isNotNull, lit("_corrupt")).otherwise(col("kind")))
      // aggregate only fields from CLEAN lines: PERMISSIVE with partial
      // results (spark.sql.json.enablePartialResults, default true since
      // 3.4) may keep the already-parsed prefix fields of a torn line in
      // some Spark versions — masking on _bad pins the -1 NULL-sentinel
      // contract regardless of how much of the torn line parsed
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        coalesce(sum(when(col("_bad").isNull, col("score"))), lit(-1L))
          .as("sum_score"),
        coalesce(min(when(col("_bad").isNull, col("id"))), lit(-1L))
          .as("min_id"))
      .orderBy(col("bucket"))
  }

  private val s16JsonlIngestSql =
    """WITH lines AS (
      |  SELECT i, i % 13 = 0 AS corrupt, 'k' || (i % 4) AS kind,
      |    (i * 7) % 1000 AS score
      |  FROM unnest(generate_series(0, 499)) t(i)),
      |b AS (
      |  SELECT CASE WHEN corrupt THEN '_corrupt' ELSE kind END AS bucket,
      |    CASE WHEN corrupt THEN NULL ELSE score END AS score,
      |    CASE WHEN corrupt THEN NULL ELSE i END AS id
      |  FROM lines)
      |SELECT bucket, count(*) AS n,
      |  coalesce(CAST(sum(score) AS BIGINT), -1) AS sum_score,
      |  coalesce(min(id), -1) AS min_id
      |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin

  /** Build-once ParquetWrite fixture with a NULLABLE column and small
    * row groups — the s48 input: every statistic the aggregate
    * pushdown consumes (row counts, null counts, int min/max) comes
    * from OUR writer's footers.
    */
  def ensureAggPqFixture(s: SparkSession, dir: String): String = {
    val tmp = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-pqagg-${graft.Tables.fingerprint(dir, "events")}")
      .getAbsolutePath
    if (!new java.io.File(tmp, "_SUCCESS").exists()) {
      graft.operators.ParquetWrite.writeDataFrame(
        t(s, dir, "events")
          .select(col("event_id"),
            when(col("event_id") % 9 === 0, lit(null))
              .otherwise(col("user_id")).as("opt"),
            col("event_type"),
            round(col("value") * 100).cast("long").as("cents"))
          .repartition(1).sortWithinPartitions("event_id"),
        tmp, codec = 6, rowGroupRows = 8192, pageRows = 2048)
    }
    tmp
  }

  // S48: AGGREGATE PUSHDOWN end-to-end — COUNT(*) / COUNT(nullable) /
  // MIN / MAX over graftpq answer ENTIRELY from footer statistics
  // (Spark's V2 partial-pushdown contract: the scan emits per-file
  // partial rows, the final Aggregate merges them); at 100 TB this is
  // one footer tail per file and zero data bytes. GraftParquetSpec
  // proves the zero-IO claim by poisoning the whole data region; the
  // oracle recomputes the same aggregates from the source table.
  private def s48PqAgg(s: SparkSession, dir: String): DataFrame = {
    val tmp = ensureAggPqFixture(s, dir)
    s.read.format("graftpq").load(tmp)
      .agg(count(lit(1)).as("n"),
        count(col("opt")).as("n_opt"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"),
        min(col("cents")).as("min_cents"),
        max(col("cents")).as("max_cents"))
  }

  private val s48PqAggSql =
    """SELECT count(*) AS n,
      |  count(CASE WHEN event_id % 9 = 0 THEN NULL ELSE user_id END)
      |    AS n_opt,
      |  min(event_id) AS min_id, max(event_id) AS max_id,
      |  min(CAST(round(value*100) AS BIGINT)) AS min_cents,
      |  max(CAST(round(value*100) AS BIGINT)) AS max_cents
      |FROM events""".stripMargin

  /** Build-once 4-row parquet DIM for the s49 star join — file-backed
    * (a local relation would fold its filter away and leave dynamic
    * pruning nothing to key off).
    */
  def ensureDppDimFixture(s: SparkSession): String = {
    val tmp = new java.io.File(sys.props("java.io.tmpdir"),
      "graft-dppdim").getAbsolutePath
    if (!new java.io.File(tmp, "_SUCCESS").exists()) {
      import s.implicits._
      (0 until 4).map(b => (b, s"b$b"))
        .toDF("bucket", "tag").coalesce(1)
        .write.mode("overwrite").parquet(tmp)
    }
    tmp
  }

  // S49: DYNAMIC PARTITION PRUNING end-to-end — the star-join shape at
  // 100 TB: the dim filter executes first (broadcast), its distinct
  // join keys arrive at the graftpq fact scan as a runtime IN
  // (SupportsRuntimeV2Filtering), and whole partition dirs drop before
  // any fact IO. The oracle folds the 1-row dim into the equivalent
  // bucket predicate.
  private def s49DppJoin(s: SparkSession, dir: String): DataFrame = {
    val fact = ensurePartitionedTableFixture(s, dir)
    val dim = s.read.parquet(ensureDppDimFixture(s))
      .filter(col("tag") === "b2")
    s.read.format("graftpq").load(fact)
      .join(org.apache.spark.sql.functions.broadcast(dim), "bucket")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("sum_cents"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"))
      .orderBy(col("event_type"))
  }

  private val s49DppJoinSql =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT)
      |    AS sum_cents,
      |  min(event_id) AS min_id, max(event_id) AS max_id
      |FROM events WHERE user_id % 4 = 2
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // S50: ORC AGGREGATE PUSHDOWN end-to-end — beyond the parquet twin
  // (s48), ORC's IntegerStatistics carry an exact SUM (dropped by the
  // writer on overflow, so presence proves exactness) and its
  // StringStatistics distinguish exact minimum/maximum from truncated
  // bounds — so SUM(cents) and MIN(event_type) answer from the
  // Metadata section alongside the counts and int extremes, zero data
  // bytes read. GraftOrcSpec proves zero-IO by poisoning every stripe.
  private def s50OrcAgg(s: SparkSession, dir: String): DataFrame = {
    val tmp = ensureSortedOrcFixture(s, dir)
    s.read.format("graftorc").load(tmp)
      .agg(count(lit(1)).as("n"),
        count(col("user_id")).as("n_user"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"),
        sum(col("cents")).as("sum_cents"),
        min(col("event_type")).as("min_type"),
        max(col("event_type")).as("max_type"))
  }

  private val s50OrcAggSql =
    """SELECT count(*) AS n, count(user_id) AS n_user,
      |  min(event_id) AS min_id, max(event_id) AS max_id,
      |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT)
      |    AS sum_cents,
      |  min(event_type) AS min_type, max(event_type) AS max_type
      |FROM events""".stripMargin

  // S51/S52: the DSv2 WRITE path end-to-end — `df.write.format(
  // "graftpq"/"graftorc").save(dir)` runs the from-scratch writers
  // task-parallel (bounded-queue streaming, rename-on-task-commit),
  // and the INDEPENDENT readers (parquet-mr / orc-core via Spark)
  // decode the result — so a user writes AND reads both formats
  // through the engine's own data plane with the stock DataFrame API.
  private def s51PqV2Write(s: SparkSession, dir: String): DataFrame = {
    val tmp = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-pqv2w-${graft.Tables.fingerprint(dir, "events")}")
      .getAbsolutePath
    if (!new java.io.File(tmp, "_SUCCESS").exists())
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          round(col("value") * 100).cast("long").as("cents"))
        .repartition(4)
        .write.format("graftpq").mode("overwrite").save(tmp)
    s.read.parquet(tmp)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("cents")).as("sum_cents"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"))
      .orderBy(col("event_type"))
  }

  private def s52OrcV2Write(s: SparkSession, dir: String): DataFrame = {
    val tmp = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-orcv2w-${graft.Tables.fingerprint(dir, "events")}")
      .getAbsolutePath
    if (!new java.io.File(tmp, "_SUCCESS").exists())
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          round(col("value") * 100).cast("long").as("cents"))
        .repartition(4)
        .write.format("graftorc").mode("overwrite").save(tmp)
    s.read.orc(tmp)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("cents")).as("sum_cents"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"))
      .orderBy(col("event_type"))
  }

  private val sV2WriteSql =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT)
      |    AS sum_cents,
      |  min(event_id) AS min_id, max(event_id) AS max_id
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // S53: VERSION-TAILING streaming source end-to-end — readStream over
  // a committed table through `graftpq`'s MicroBatchStream: offsets
  // are commit versions, each trigger plans exactly the files the new
  // versions ADDED (O(new versions), never a directory listing — the
  // Delta streaming-source IO shape at 100 TB), decoded by the same
  // from-scratch row-group readers. Two appends stream out through one
  // AvailableNow run; the oracle recomputes the aggregate over the
  // whole source table.
  private def s53PqStream(s: SparkSession, dir: String): DataFrame = {
    val work = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-pqstream-${java.util.UUID.randomUUID()}").getAbsolutePath
    val table = s"$work/t"
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
    graft.operators.Maintenance.commitAppend(s, table,
      ev.filter(col("event_id") % 2 === 0).repartition(2))
    graft.operators.Maintenance.commitAppend(s, table,
      ev.filter(col("event_id") % 2 === 1).repartition(2))
    val q = s.readStream.format("graftpq").load(table)
      .writeStream.format("parquet")
      .option("path", s"$work/out")
      .option("checkpointLocation", s"$work/_chk")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val fed = s.read.parquet(s"$work/out")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("cents")).as("sum_cents"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"))
      .orderBy(col("event_type"))
    graft.streaming.WorkDirs.materializeAndClean(fed, work)
  }

  /** Build-once PLAIN hive-partitioned dir (Spark's own partitionBy
    * writer, no commit log) — the s54 input.
    */
  def ensureHivePqFixture(s: SparkSession, dir: String): String = {
    val tmp = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-pqhive-${graft.Tables.fingerprint(dir, "events")}")
      .getAbsolutePath
    if (!new java.io.File(tmp, "_SUCCESS").exists()) {
      t(s, dir, "events")
        .select(col("event_id"), col("event_type"),
          (col("user_id") % 4).cast("int").as("bucket"),
          round(col("value") * 100).cast("long").as("cents"))
        .write.mode("overwrite").partitionBy("bucket").parquet(tmp)
    }
    tmp
  }

  // S54: hive partition DISCOVERY — a PLAIN `df.write.partitionBy`
  // directory (no commit log, any writer) reads through graftpq with
  // typed partition columns inferred from the dir chain, the bucket
  // equality pruning whole partition dirs before any IO; the oracle
  // folds the bucket predicate back onto the source table.
  private def s54PqHive(s: SparkSession, dir: String): DataFrame = {
    val tmp = ensureHivePqFixture(s, dir)
    s.read.format("graftpq").load(tmp)
      .filter(col("bucket") === 3 && col("event_id") % 2 === 0)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("cents")).as("sum_cents"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"))
      .orderBy(col("event_type"))
  }

  private val s54PqHiveSql =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT)
      |    AS sum_cents,
      |  min(event_id) AS min_id, max(event_id) AS max_id
      |FROM events WHERE user_id % 4 = 3 AND event_id % 2 = 0
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Build-once PLAIN hive-partitioned ORC dir — the s55 input. */
  def ensureHiveOrcFixture(s: SparkSession, dir: String): String = {
    val tmp = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-orchive-${graft.Tables.fingerprint(dir, "events")}")
      .getAbsolutePath
    if (!new java.io.File(tmp, "_SUCCESS").exists()) {
      t(s, dir, "events")
        .select(col("event_id"), col("event_type"),
          (col("user_id") % 4).cast("int").as("bucket"),
          round(col("value") * 100).cast("long").as("cents"))
        .write.mode("overwrite").partitionBy("bucket").orc(tmp)
    }
    tmp
  }

  // S55: the ORC twin of s54 — hive partition discovery over a plain
  // `df.write.partitionBy(...).orc` layout, partition values spliced
  // as typed constants by the graftorc reader and the bucket equality
  // pruning whole files before any IO.
  private def s55OrcHive(s: SparkSession, dir: String): DataFrame = {
    val tmp = ensureHiveOrcFixture(s, dir)
    s.read.format("graftorc").load(tmp)
      .filter(col("bucket") === 3 && col("event_id") % 2 === 0)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("cents")).as("sum_cents"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"))
      .orderBy(col("event_type"))
  }

  // S56: streaming a PARTITIONED committed table — the reference's own
  // fact-table shape (partitioned by coin_id, query.sql:4) under the
  // version-tailing source: each trigger resolves its files by the
  // commit log's TABLE-RELATIVE paths alone (zero directory walks —
  // GraftParquetSpec poisons a sibling partition dir to prove it), and
  // the `bucket` partition values stream through as typed columns.
  private def s56PqStreamPart(s: SparkSession, dir: String): DataFrame = {
    val table = ensurePartitionedTableFixture(s, dir)
    val work = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-pqstreampart-${java.util.UUID.randomUUID()}")
      .getAbsolutePath
    val q = s.readStream.format("graftpq").load(table)
      .writeStream.format("parquet")
      .option("path", s"$work/out")
      .option("checkpointLocation", s"$work/_chk")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val fed = s.read.parquet(s"$work/out")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("bucket").cast("long")).as("sum_bucket"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"))
      .orderBy(col("event_type"))
    graft.streaming.WorkDirs.materializeAndClean(fed, work)
  }

  private val s56PqStreamPartSql =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(user_id % 4) AS BIGINT) AS sum_bucket,
      |  min(event_id) AS min_id, max(event_id) AS max_id
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Build-once hive-partitioned dir written by the ENGINE's OWN DSv2
    * write path (`partitionBy` through graftpq) — the s57 input.
    */
  def ensurePartWritePqFixture(s: SparkSession, dir: String): String = {
    val tmp = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-pqpartw-${graft.Tables.fingerprint(dir, "events")}")
      .getAbsolutePath
    if (!new java.io.File(tmp, "_SUCCESS").exists()) {
      t(s, dir, "events")
        .select(col("event_id"), col("event_type"),
          (col("user_id") % 4).cast("int").as("bucket"),
          round(col("value") * 100).cast("long").as("cents"))
        // repartition BY the partition column: each task sees few
        // distinct values, so few writers stay open — the posture
        // that holds at 100 TB
        .repartition(4, col("bucket"))
        .write.format("graftpq").partitionBy("bucket")
        .mode("overwrite").save(tmp)
    }
    tmp
  }

  // S57: PARTITIONED DSv2 WRITE — `df.write.format("graftpq")
  // .partitionBy("bucket")` lands hive `bucket=N/` dirs through the
  // from-scratch writer (partition column stripped from the files,
  // values in the dir names), and the INDEPENDENT reader (Spark's own
  // parquet source with its own partition discovery) decodes the
  // layout — write-side proof the engine emits exactly the layout the
  // ecosystem (and its own s54 discovery + s56 stream) consumes.
  private def s57PqPartWrite(s: SparkSession, dir: String): DataFrame = {
    val tmp = ensurePartWritePqFixture(s, dir)
    s.read.parquet(tmp)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(col("cents")).as("sum_cents"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"))
      .orderBy(col("bucket"))
  }

  private val s57PqPartWriteSql =
    """SELECT CAST(user_id % 4 AS INTEGER) AS bucket, count(*) AS n,
      |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT)
      |    AS sum_cents,
      |  min(event_id) AS min_id, max(event_id) AS max_id
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // S58: STRING MIN/MAX aggregate pushdown — chunk stats carry no
  // exactness flag and foreign writers may truncate binary stats, so
  // string extremes push ONLY when every footer's created_by proves
  // the file came from this engine's own writer (which never
  // truncates, spec-pinned); the s48 fixture is exactly that, so
  // min/max(event_type) answer from footer metadata with zero data IO
  // alongside the numeric extremes.
  private def s58PqAggString(s: SparkSession, dir: String): DataFrame = {
    val tmp = ensureAggPqFixture(s, dir)
    s.read.format("graftpq").load(tmp)
      .agg(count(lit(1)).as("n"),
        min(col("event_type")).as("min_type"),
        max(col("event_type")).as("max_type"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"))
  }

  private val s58PqAggStringSql =
    """SELECT count(*) AS n,
      |  min(event_type) AS min_type, max(event_type) AS max_type,
      |  min(event_id) AS min_id, max(event_id) AS max_id
      |FROM events""".stripMargin

  /** Build-once COMMITTED partitioned table with a nullable column —
    * the s59 input (its commit log carries the exact agg-stats
    * manifest every append records).
    */
  def ensureAggTableFixture(s: SparkSession, dir: String): String = {
    val tmp = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-pqaggtbl-${graft.Tables.fingerprint(dir, "events")}")
      .getAbsolutePath
    val done = new java.io.File(tmp, "_fixture_done")
    if (!done.exists()) {
      graft.streaming.WorkDirs.deleteRecursively(new java.io.File(tmp))
      val ev = t(s, dir, "events")
        .select(col("event_id"),
          when(col("event_id") % 9 === 0, lit(null))
            .otherwise(col("user_id")).as("opt"),
          round(col("value") * 100).cast("long").as("cents"),
          (col("user_id") % 4).cast("int").as("bucket"))
      val maxId = ev.agg(max(col("event_id"))).head.getLong(0)
      val cut = maxId / 2
      graft.operators.Maintenance.commitAppend(s, tmp,
        ev.filter(col("event_id") < cut).coalesce(1),
        partitionBy = Seq("bucket"))
      graft.operators.Maintenance.commitAppend(s, tmp,
        ev.filter(col("event_id") >= cut).coalesce(1))
      new java.io.FileOutputStream(done).close()
    }
    tmp
  }

  // S59: MANIFEST-SERVED aggregate pushdown over a COMMITTED table —
  // COUNT(*) / COUNT(nullable) / MIN / MAX grouped by the partition
  // column answer from the commit log's exact agg-stats manifest
  // (`aggstats.tsv`, recorded at append time) and the log's file
  // listing: ZERO file IO, not even footer tails (GraftParquetSpec
  // poisons entire data files to prove it) — at 100 TB this turns the
  // one remaining O(files) planning sweep into one manifest read.
  private def s59PqAggCommit(s: SparkSession, dir: String): DataFrame = {
    val tmp = ensureAggTableFixture(s, dir)
    s.read.format("graftpq").load(tmp)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        count(col("opt")).as("n_opt"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"),
        min(col("cents")).as("min_cents"),
        max(col("cents")).as("max_cents"))
      .orderBy(col("bucket"))
  }

  private val s59PqAggCommitSql =
    """SELECT CAST(user_id % 4 AS INTEGER) AS bucket, count(*) AS n,
      |  count(CASE WHEN event_id % 9 = 0 THEN NULL ELSE user_id END)
      |    AS n_opt,
      |  min(event_id) AS min_id, max(event_id) AS max_id,
      |  min(CAST(round(value*100) AS BIGINT)) AS min_cents,
      |  max(CAST(round(value*100) AS BIGINT)) AS max_cents
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // S60: TOP-N pushdown — `ORDER BY event_id DESC LIMIT 25` over the
  // id-sorted fixture plans a HANDFUL of row groups (group dominance
  // from chunk stats: k rows provably ranking strictly before a
  // group's every row drop it), where a plain scan would read all of
  // them and feed a cluster-wide sort; Spark's TakeOrderedAndProject
  // above still re-sorts the superset, so the answer is exact.
  private def s60PqTopn(s: SparkSession, dir: String): DataFrame = {
    val tmp = ensureAggPqFixture(s, dir)
    s.read.format("graftpq").load(tmp)
      .select(col("event_id"), col("event_type"), col("cents"))
      .orderBy(col("event_id").desc)
      .limit(25)
  }

  private val s60PqTopnSql =
    """SELECT event_id, event_type,
      |  CAST(round(value*100) AS BIGINT) AS cents
      |FROM events ORDER BY event_id DESC LIMIT 25""".stripMargin

  // S61: the ORC twin of s60 — ORDER BY event_id ASC LIMIT 25 over
  // sorted stripes plans only the head stripe via the same shared
  // dominance pass, exact IntegerStatistics standing in for chunk
  // stats.
  private def s61OrcTopn(s: SparkSession, dir: String): DataFrame = {
    val tmp = ensureSortedOrcFixture(s, dir)
    s.read.format("graftorc").load(tmp)
      .select(col("event_id"), col("event_type"), col("cents"))
      .orderBy(col("event_id"))
      .limit(25)
  }

  private val s61OrcTopnSql =
    """SELECT event_id, event_type,
      |  CAST(round(value*100) AS BIGINT) AS cents
      |FROM events ORDER BY event_id ASC LIMIT 25""".stripMargin

  // S62: the STREAMING SINK closes the loop — a committed source table
  // tails out through the graftpq streaming SOURCE and lands in a NEW
  // committed table through the graftpq streaming SINK (per-epoch
  // commit-protocol versions, exactly-once via txn markers), entirely
  // inside the engine's data plane; the oracle recomputes the
  // aggregate over the original events.
  private def s62PqStreamSink(s: SparkSession, dir: String): DataFrame = {
    val work = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-pqsink-${java.util.UUID.randomUUID()}").getAbsolutePath
    val src = s"$work/src"
    val sink = s"$work/sink"
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
    graft.operators.Maintenance.commitAppend(s, src,
      ev.filter(col("event_id") % 2 === 0).repartition(2))
    graft.operators.Maintenance.commitAppend(s, src,
      ev.filter(col("event_id") % 2 === 1).repartition(2))
    val q = s.readStream.format("graftpq").load(src)
      .writeStream.format("graftpq")
      .option("path", sink)
      .option("checkpointLocation", s"$work/_chk")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val fed = graft.operators.Maintenance.readTable(s, sink)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("cents")).as("sum_cents"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"))
      .orderBy(col("event_type"))
    graft.streaming.WorkDirs.materializeAndClean(fed, work)
  }

  // S63: CONSUMED partition predicates compose with the aggregate
  // pushdown — `WHERE bucket = 2` is row-exact (a col=value dir IS the
  // value of every row in it), so the scan consumes it, no post-scan
  // Filter survives, and COUNT/COUNT(col)/MIN/MAX over the surviving
  // partition answer from the commit log's manifest with zero file IO
  // — the classic 100 TB ops query (`count(*) WHERE date = X`) as one
  // metadata read.
  private def s63PqPartFilterAgg(s: SparkSession, dir: String)
      : DataFrame = {
    val tmp = ensureAggTableFixture(s, dir)
    s.read.format("graftpq").load(tmp)
      .where(col("bucket") === 2)
      .agg(count(lit(1)).as("n"),
        count(col("opt")).as("n_opt"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"),
        min(col("cents")).as("min_cents"),
        max(col("cents")).as("max_cents"))
  }

  private val s63PqPartFilterAggSql =
    """SELECT count(*) AS n,
      |  count(CASE WHEN event_id % 9 = 0 THEN NULL ELSE user_id END)
      |    AS n_opt,
      |  min(event_id) AS min_id, max(event_id) AS max_id,
      |  min(CAST(round(value*100) AS BIGINT)) AS min_cents,
      |  max(CAST(round(value*100) AS BIGINT)) AS max_cents
      |FROM events WHERE user_id % 4 = 2""".stripMargin

  // S64: the ORC partition-GROUP-BY aggregate tier — over a plain
  // hive `.orc` layout, GROUP BY the discovered partition column plus
  // COUNT/SUM/MIN/MAX answer entirely from dir values + stripe
  // statistics (IntegerStatistics exact sums included), zero data
  // bytes — parity with the parquet partition tier (s59/s63).
  private def s64OrcPartAgg(s: SparkSession, dir: String): DataFrame = {
    val tmp = ensureHiveOrcFixture(s, dir)
    s.read.format("graftorc").load(tmp)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(col("cents")).as("sum_cents"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"))
      .orderBy(col("bucket"))
  }

  private val s64OrcPartAggSql =
    """SELECT CAST(user_id % 4 AS INTEGER) AS bucket, count(*) AS n,
      |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT)
      |    AS sum_cents,
      |  min(event_id) AS min_id, max(event_id) AS max_id
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // S65: DSv2 batch APPEND into a COMMITTED table — `df.write
  // .format("graftpq").mode("append").save(table)` lands as a proper
  // commit-protocol version (live registry, add-delta snapshot,
  // pruning stats, agg manifest), so the appended rows are visible to
  // every LOG-served read; before this route the files published by
  // rename alone and were silently invisible. The oracle recomputes
  // the grouped aggregate over the original events.
  private def s65PqCommitAppend(s: SparkSession, dir: String)
      : DataFrame = {
    val work = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-pqcommitappend-${java.util.UUID.randomUUID()}")
      .getAbsolutePath
    val table = s"$work/table"
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
    // bootstrap through the protocol, extend through the DSv2 writer
    graft.operators.Maintenance.commitAppend(s, table,
      ev.filter(col("event_id") % 2 === 0).repartition(2))
    ev.filter(col("event_id") % 2 === 1).repartition(2)
      .write.format("graftpq").mode("append").save(table)
    val fed = graft.operators.Maintenance.readTable(s, table)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("cents")).as("sum_cents"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"))
      .orderBy(col("event_type"))
    graft.streaming.WorkDirs.materializeAndClean(fed, work)
  }

  /** Engine-written parquet sorted by a UNIQUE string key (type +
    * zero-padded id — lexicographic order equals (type, id) order, so
    * a string TOP-N is deterministic), multiple row groups so the
    * dominance pass has groups to drop.
    */
  def ensureStringSortedPqFixture(s: SparkSession, dir: String)
      : String = {
    val tmp = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-pqstrsorted-${graft.Tables.fingerprint(dir, "events")}")
      .getAbsolutePath
    if (!new java.io.File(tmp, "_SUCCESS").exists()) {
      graft.operators.ParquetWrite.writeDataFrame(
        t(s, dir, "events")
          .select(concat(col("event_type"), lit("_"),
              lpad(col("event_id").cast("string"), 10, "0")).as("skey"),
            col("event_id"),
            round(col("value") * 100).cast("long").as("cents"))
          .repartition(1).sortWithinPartitions("skey"),
        tmp, codec = 6, rowGroupRows = 8192, pageRows = 2048)
    }
    tmp
  }

  private val stringSortedSelectSql =
    """event_type || '_' || lpad(CAST(event_id AS VARCHAR), 10, '0')
      |    AS skey,
      |  event_id, CAST(round(value*100) AS BIGINT) AS cents""".stripMargin

  // S66: STRING TOP-N pushdown — `ORDER BY skey DESC LIMIT 25` over
  // data sorted by the string key plans only the dominating tail row
  // groups: parquet chunk stats carry no exactness flag, so string
  // bounds count only behind the per-file exact-writer gate (this
  // engine's writer never truncates binary stats — spec-pinned);
  // foreign files are kept unconditionally, slower but never wrong.
  private def s66PqTopnString(s: SparkSession, dir: String)
      : DataFrame = {
    val tmp = ensureStringSortedPqFixture(s, dir)
    s.read.format("graftpq").load(tmp)
      .orderBy(col("skey").desc)
      .limit(25)
  }

  private val s66PqTopnStringSql =
    s"""SELECT $stringSortedSelectSql
      |FROM events ORDER BY skey DESC LIMIT 25""".stripMargin

  /** The ORC twin: engine-written, sorted by the same unique string
    * key; ORC StringStatistics distinguish exact minimum/maximum from
    * truncated lowerBound/upperBound by field presence, so exactness
    * is per-stat rather than per-writer.
    */
  def ensureStringSortedOrcFixture(s: SparkSession, dir: String)
      : String = {
    val tmp = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-orcstrsorted-${graft.Tables.fingerprint(dir, "events")}")
      .getAbsolutePath
    if (!new java.io.File(tmp, "_SUCCESS").exists()) {
      graft.operators.OrcWrite.writeDataFrame(
        t(s, dir, "events")
          .select(concat(col("event_type"), lit("_"),
              lpad(col("event_id").cast("string"), 10, "0")).as("skey"),
            col("event_id"),
            round(col("value") * 100).cast("long").as("cents"))
          .repartition(1).sortWithinPartitions("skey"),
        tmp, stripeRows = 4096, compression = 5, rowIndexStride = 1024)
    }
    tmp
  }

  // S67: the ORC string TOP-N — ASC head over sorted stripes, exact
  // StringStatistics standing in for the parquet exact-writer gate.
  private def s67OrcTopnString(s: SparkSession, dir: String)
      : DataFrame = {
    val tmp = ensureStringSortedOrcFixture(s, dir)
    s.read.format("graftorc").load(tmp)
      .orderBy(col("skey"))
      .limit(25)
  }

  private val s67OrcTopnStringSql =
    s"""SELECT $stringSortedSelectSql
      |FROM events ORDER BY skey ASC LIMIT 25""".stripMargin

  /** A COMMITTED table whose every live file is engine-written
    * (staged through [[graft.operators.ParquetWrite]], committed via
    * the protocol), so the agg manifest records exact STRING extremes
    * behind the writer gate.
    */
  def ensureStringAggTableFixture(s: SparkSession, dir: String)
      : String = {
    val tmp = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-pqstraggtbl-${graft.Tables.fingerprint(dir, "events")}")
      .getAbsolutePath
    // completeness marker stamped AFTER the last commit (the commit
    // log's version file appears after the FIRST, so guarding on it
    // would make a build interrupted between the two commits look
    // complete forever)
    val ok = new java.io.File(tmp, "_fixture_complete")
    if (!ok.exists()) {
      graft.streaming.WorkDirs.deleteRecursively(new java.io.File(tmp))
      val schema = new org.apache.spark.sql.types.StructType()
        .add("event_id", org.apache.spark.sql.types.LongType)
        .add("event_type", org.apache.spark.sql.types.StringType)
        .add("cents", org.apache.spark.sql.types.LongType)
      for (half <- 0 until 2) {
        val stage = new java.io.File(sys.props("java.io.tmpdir"),
          s"graft-pqstraggtbl-stage-${java.util.UUID.randomUUID()}")
          .getAbsolutePath
        graft.operators.ParquetWrite.writeDataFrame(
          t(s, dir, "events")
            .filter(col("event_id") % 2 === half)
            .select(col("event_id"), col("event_type"),
              round(col("value") * 100).cast("long").as("cents"))
            .repartition(1),
          stage, codec = 6, rowGroupRows = 8192, pageRows = 2048)
        graft.operators.Maintenance.commitStagedAppend(s, tmp, stage,
          schema, Nil, None, None)
      }
      new java.io.FileOutputStream(ok).close()
    }
    tmp
  }

  // S68: MANIFEST-SERVED STRING extremes — min/max over a string
  // column of a committed engine-written table answer from the commit
  // log's agg manifest with ZERO file IO: the commit recorded exact
  // UTF-8 byte extremes behind the writer gate (this engine's writer
  // never truncates binary stats), where a foreign-written table
  // falls to footer tails and a pre-feature manifest falls through.
  private def s68PqAggCommitString(s: SparkSession, dir: String)
      : DataFrame = {
    val tmp = ensureStringAggTableFixture(s, dir)
    s.read.format("graftpq").load(tmp)
      .agg(min(col("event_type")).as("mn"),
        max(col("event_type")).as("mx"),
        count(lit(1)).as("n"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"))
  }

  private val s68PqAggCommitStringSql =
    """SELECT min(event_type) AS mn, max(event_type) AS mx,
      |  count(*) AS n,
      |  min(event_id) AS min_id, max(event_id) AS max_id
      |FROM events""".stripMargin

  val queries: Map[String, Q] = Map(
    "s16_jsonl_ingest" -> s16JsonlIngest _,
    "s15_xml_ingest" -> s15XmlIngest _,
    "s4_seq_ingest" -> s4SeqIngest _,
    "s7_csv_scan" -> s7CsvScan _,
    "s8_commit_stats" -> s8CommitStats _,
    "s8_commit_latency" -> s8CommitLatency _,
    "s10_orc_scan" -> s10OrcScan _,
    "s12_warc_ingest" -> s12WarcIngest _,
    "s13_tar_ingest" -> s13TarIngest _,
    "s14_zip_ingest" -> s14ZipIngest _,
    "s17_lz4_ingest" -> s17Lz4Ingest _,
    "s18_snappy_ingest" -> s18SnappyIngest _,
    "s19_gzip_ingest" -> s19GzipIngest _,
    "s20_bzip2_ingest" -> s20Bzip2Ingest _,
    "s21_avro_ingest" -> s21AvroIngest _,
    "s22_parquet_footer" -> s22ParquetFooter _,
    "s23_orc_meta" -> s23OrcMeta _,
    "s24_xz_ingest" -> s24XzIngest _,
    "s25_arrow_ingest" -> s25ArrowIngest _,
    "s26_zstd_ingest" -> s26ZstdIngest _,
    "s27_parquet_scan" -> s27ParquetScan _,
    "s28_dsv2_scan" -> s28Dsv2Scan _,
    "s29_orc_data" -> s29OrcData _,
    "s30_orc_dsv2" -> s30OrcDsv2 _,
    "s31_parquet_write" -> s31ParquetWrite _,
    "s32_rich_scan" -> s32RichScan _,
    "s33_orc_rich" -> s33OrcRich _,
    "s34_table_scan" -> s34TableScan _,
    "s35_orc_write" -> s35OrcWrite _,
    "s36_partitioned_scan" -> s36PartitionedScan _,
    "s37_map_scan" -> s37MapScan _,
    "s38_dv_scan" -> s38DvScan _,
    "s39_orc_nested" -> s39OrcNested _,
    "s40_pq_liststruct" -> s40ListStruct _,
    "s41_orc_rowgroup" -> s41OrcRowgroup _,
    "s42_pq_pageindex" -> s42PqPageindex _,
    "s43_pq_deepnested" -> s43PqDeepnested _,
    "s44_pq_deepwrite" -> s44PqDeepwrite _,
    "s45_pq_filters" -> s45PqFilters _,
    "s46_pq_bloom" -> s46PqBloom _,
    "s47_orc_bloom" -> s47OrcBloom _,
    "s48_pq_agg" -> s48PqAgg _,
    "s49_dpp_join" -> s49DppJoin _,
    "s50_orc_agg" -> s50OrcAgg _,
    "s51_pq_v2write" -> s51PqV2Write _,
    "s52_orc_v2write" -> s52OrcV2Write _,
    "s53_pq_stream" -> s53PqStream _,
    "s54_pq_hive" -> s54PqHive _,
    "s55_orc_hive" -> s55OrcHive _,
    "s56_pq_stream_part" -> s56PqStreamPart _,
    "s57_pq_part_write" -> s57PqPartWrite _,
    "s58_pq_agg_string" -> s58PqAggString _,
    "s59_pq_agg_commit" -> s59PqAggCommit _,
    "s60_pq_topn" -> s60PqTopn _,
    "s61_orc_topn" -> s61OrcTopn _,
    "s62_pq_stream_sink" -> s62PqStreamSink _,
    "s63_pq_part_filter_agg" -> s63PqPartFilterAgg _,
    "s64_orc_part_agg" -> s64OrcPartAgg _,
    "s65_pq_commit_append" -> s65PqCommitAppend _,
    "s66_pq_topn_string" -> s66PqTopnString _,
    "s67_orc_topn_string" -> s67OrcTopnString _,
    "s68_pq_agg_commit_string" -> s68PqAggCommitString _
  )

  val oracle: Map[String, String] = Map(
    "s16_jsonl_ingest" -> s16JsonlIngestSql,
    "s15_xml_ingest" -> s15XmlIngestSql,
    "s4_seq_ingest" -> s4SeqIngestSql,
    "s7_csv_scan" -> s7CsvScanSql,
    "s8_commit_stats" -> s8CommitStatsSql,
    "s8_commit_latency" -> s8CommitLatencySql,
    "s10_orc_scan" -> s10OrcScanSql,
    "s12_warc_ingest" -> s12WarcIngestSql,
    "s13_tar_ingest" -> s13TarIngestSql,
    "s14_zip_ingest" -> s14ZipIngestSql,
    "s17_lz4_ingest" -> s17Lz4IngestSql,
    "s18_snappy_ingest" -> s18SnappyIngestSql,
    "s19_gzip_ingest" -> s19GzipIngestSql,
    "s20_bzip2_ingest" -> s20Bzip2IngestSql,
    "s21_avro_ingest" -> s21AvroIngestSql,
    "s22_parquet_footer" -> s22ParquetFooterSql,
    "s23_orc_meta" -> s23OrcMetaSql,
    "s24_xz_ingest" -> s24XzIngestSql,
    "s25_arrow_ingest" -> s25ArrowIngestSql,
    "s26_zstd_ingest" -> s26ZstdIngestSql,
    "s27_parquet_scan" -> s27ParquetScanSql,
    "s28_dsv2_scan" -> s28Dsv2ScanSql,
    "s29_orc_data" -> s29OrcDataSql,
    "s30_orc_dsv2" -> s30OrcDsv2Sql,
    "s31_parquet_write" -> s31ParquetWriteSql,
    "s32_rich_scan" -> s32RichScanSql,
    "s33_orc_rich" -> s33OrcRichSql,
    "s34_table_scan" -> s34TableScanSql,
    "s35_orc_write" -> s35OrcWriteSql,
    "s36_partitioned_scan" -> s36PartitionedScanSql,
    "s37_map_scan" -> s37MapScanSql,
    "s38_dv_scan" -> s38DvScanSql,
    "s39_orc_nested" -> s39OrcNestedSql,
    "s40_pq_liststruct" -> s40ListStructSql,
    "s41_orc_rowgroup" -> s41OrcRowgroupSql,
    "s42_pq_pageindex" -> s42PqPageindexSql,
    "s43_pq_deepnested" -> s43PqDeepnestedSql,
    "s44_pq_deepwrite" -> s43PqDeepnestedSql, // same closed forms
    "s45_pq_filters" -> s45PqFiltersSql,
    "s46_pq_bloom" -> s46PqBloomSql,
    "s47_orc_bloom" -> s46PqBloomSql, // same members, same closed forms
    "s48_pq_agg" -> s48PqAggSql,
    "s49_dpp_join" -> s49DppJoinSql,
    "s50_orc_agg" -> s50OrcAggSql,
    "s51_pq_v2write" -> sV2WriteSql,
    "s52_orc_v2write" -> sV2WriteSql, // same aggregate, same closed forms
    "s53_pq_stream" -> sV2WriteSql, // full-table stream, same aggregate
    "s54_pq_hive" -> s54PqHiveSql,
    "s55_orc_hive" -> s54PqHiveSql, // same layout, same closed forms
    "s56_pq_stream_part" -> s56PqStreamPartSql,
    "s57_pq_part_write" -> s57PqPartWriteSql,
    "s58_pq_agg_string" -> s58PqAggStringSql,
    "s59_pq_agg_commit" -> s59PqAggCommitSql,
    "s60_pq_topn" -> s60PqTopnSql,
    "s61_orc_topn" -> s61OrcTopnSql,
    "s62_pq_stream_sink" -> sV2WriteSql, // full-loop stream, same agg
    "s63_pq_part_filter_agg" -> s63PqPartFilterAggSql,
    "s64_orc_part_agg" -> s64OrcPartAggSql,
    "s65_pq_commit_append" -> sV2WriteSql, // protocol-fed, same agg
    "s66_pq_topn_string" -> s66PqTopnStringSql,
    "s67_orc_topn_string" -> s67OrcTopnStringSql,
    "s68_pq_agg_commit_string" -> s68PqAggCommitStringSql
  )
}
