package graft.util

import org.apache.spark.sql.DataFrame

/** Lineage truncation for ITERATIVE plans (PageRank, large-star/small-star
  * components): without truncation each round's plan nests the previous
  * round's and analysis/scheduling goes quadratic.
  *
  * Two modes, chosen per session:
  *
  *   - default (`spark.graft.graph.reliableCheckpoint=false`):
  *     `localCheckpoint()` every round — cheapest truncation; blocks live
  *     in executor storage. Right for local[...] and for short jobs on
  *     stable clusters.
  *   - `spark.graft.graph.reliableCheckpoint=true`: a RELIABLE
  *     `checkpoint()` to the session's checkpoint dir every
  *     `spark.graft.graph.checkpointInterval` rounds (default 3; lineage
  *     is allowed to grow between them). On a 1000-executor cluster an
  *     executor loss destroys localCheckpoint blocks and fails the whole
  *     iteration — reliable checkpoints survive it at the cost of a
  *     DFS write per interval. Requires `SparkContext.setCheckpointDir`;
  *     if unset the helper logs once and falls back to localCheckpoint
  *     rather than failing mid-iteration.
  */
object IterCheckpoint extends org.apache.spark.internal.Logging {

  @volatile private var warnedNoDir = false
  @volatile private var warnedBadFlag = false

  /** Truncate `df`'s lineage for iteration `round` (0-based) under the
    * session's checkpoint policy. Always eager in the modes that
    * materialize (both checkpoint flavors run a job), a no-op on the
    * skipped rounds between reliable checkpoints.
    */
  def truncate(df: DataFrame, round: Int): DataFrame = {
    val s = df.sparkSession
    // case-insensitive compare, not .toBoolean: a typo'd conf value must
    // degrade to the default mid-iteration, not throw (same defensive
    // stance as checkpointInterval's toIntOption below) — but a value
    // that is neither true nor false silently disables a durability
    // feature, so it at least warns once
    val rawReliable = s.conf
      .get("spark.graft.graph.reliableCheckpoint", "false").trim
    if (!rawReliable.equalsIgnoreCase("true") &&
        !rawReliable.equalsIgnoreCase("false") && !warnedBadFlag) {
      warnedBadFlag = true
      logWarning("spark.graft.graph.reliableCheckpoint=" +
        s"'$rawReliable' is not a boolean; treating as false " +
        "(reliable checkpointing DISABLED)")
    }
    val reliable = rawReliable.equalsIgnoreCase("true")
    if (!reliable) df.localCheckpoint()
    else {
      val interval = s.conf
        .get("spark.graft.graph.checkpointInterval", "3")
        .toIntOption.filter(_ > 0).getOrElse(3)
      if ((round + 1) % interval != 0) df
      else if (s.sparkContext.getCheckpointDir.isEmpty) {
        if (!warnedNoDir) {
          warnedNoDir = true
          logWarning("reliableCheckpoint=true but no " +
            "checkpoint dir is set (SparkContext.setCheckpointDir); " +
            "falling back to localCheckpoint")
        }
        df.localCheckpoint()
      } else df.checkpoint()
    }
  }
}
