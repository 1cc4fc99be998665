package graftbench

/** Every per-layer metric the traced run reports, with its unit, in the
  * order `BENCHMARK.json` lists them. A workload that does not exercise a
  * layer reports 0 for it (README.md, "Per-layer metrics").
  */
object Layers {
  val hops: Seq[String] = Seq("bronze", "fact")
  val triggerParts: Seq[String] = Seq("latestOffset", "getBatch",
    "queryPlanning", "addBatch", "walCommit", "commitOffsets")
  val dmlKinds: Seq[String] = Seq("append", "merge", "delete", "update",
    "compact", "vacuum", "read_asof", "history")
  /** The `SparkEntry.queries` families query_mix runs one member of. */
  val queryFamilies: Seq[String] = Seq("a", "j", "w", "p", "o", "set", "an",
    "ts", "tx", "dd", "sim", "mm", "gr", "s")

  val all: Seq[(String, String)] =
    Seq("sources.plan_ms" -> "ms", "sources.exec_ms" -> "ms",
      "sources.rg_read_ratio" -> "ratio", "sources.useful_row_ratio" -> "ratio",
      "sources.read_mb_per_op" -> "MB",
      "sources.decode_mb_s.graftpq_snappy" -> "MB/s",
      "sources.decode_mb_s.spark_pq_zstd" -> "MB/s",
      "sources.decode_mb_s.graftorc_zstd" -> "MB/s") ++
    dmlKinds.map(k => s"maintenance.${k}_ms" -> "ms") ++
    Seq("maintenance.driver_ms" -> "ms",
      "maintenance.jobs_per_commit" -> "count",
      "maintenance.snapshot_ms" -> "ms",
      "maintenance.log_files_per_commit" -> "count",
      "maintenance.log_bytes_per_commit" -> "bytes",
      "maintenance.data_files_per_commit" -> "count",
      "maintenance.write_amp" -> "ratio",
      "maintenance.space_amp" -> "ratio",
      "write.mb_per_op" -> "MB", "write.mb_s" -> "MB/s") ++
    hops.flatMap(h => Seq(s"streaming.$h.trigger_ms" -> "ms",
      s"streaming.$h.trigger_p90_ms" -> "ms") ++
      triggerParts.map(p => s"streaming.$h.${p}_ms" -> "ms") ++
      Seq(s"streaming.$h.busy_ratio" -> "ratio",
        s"streaming.$h.backlog_max" -> "count")) ++
    Seq("streaming.bronze.state_rows" -> "count",
      "streaming.bronze.state_mb" -> "MB",
      "streaming.bronze.state_commit_ms" -> "ms",
      "gen.late_ms_max" -> "ms", "gen.ticks" -> "count") ++
    queryFamilies.map(f => s"queries.${f}_ms" -> "ms") ++
    Seq("spark.jobs_per_op" -> "count", "spark.tasks_per_op" -> "count",
      "spark.task_s_per_op" -> "s", "spark.driver_gap_ms_per_op" -> "ms",
      "spark.gc_ms_per_op" -> "ms", "spark.shuffle_mb_per_op" -> "MB",
      "trace.overhead_ratio" -> "ratio")
}
