package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over near-duplicate candidate pairs — the cluster
  * resolution step every dedup pipeline needs between "these pairs are
  * near-dups" and "keep one document per cluster".
  *
  * Algorithm: the large-star / small-star alternation (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14) — the edge set
  * contracts toward a disjoint union of stars centered on each component's
  * minimum id in O(log n) rounds REGARDLESS of component diameter, unlike
  * plain min-label propagation whose round count equals the diameter (a
  * 10k-long chain needs 14 star rounds, not 10k propagation rounds).
  * Each round is two groupBy(min)+join passes over the edge set, shuffles
  * keyed on vertex id, fully distributed; only scalar convergence counts
  * ever reach the driver. Edges stay oriented big-id → small-id throughout,
  * so the fixpoint is exactly "every non-root points at its component min".
  */
object Components extends org.apache.spark.internal.Logging {

  /** (id, comp) for every vertex appearing in `pairs`; comp = the smallest
    * vertex id reachable. Vertices only in self-pairs are singletons.
    *
    * @param requireConvergence when true (the default), throws
    *        IllegalStateException if the star fixpoint is not reached
    *        within `maxIters` rounds — a silently split cluster is worse
    *        than a failed job for dedup. Opt OUT explicitly to accept an
    *        unconverged result (returned after a logged warning).
    */
  def resolve(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
      maxIters: Int = 20, requireConvergence: Boolean = true,
      maxDriverEdges: Long = DefaultMaxDriverEdges): DataFrame =
    resolveStats(pairs, idA, idB, maxIters, requireConvergence,
      maxDriverEdges)._1

  /** Candidate-pair graphs at or below this many edges resolve on the
    * driver (exact union-find, one job) instead of iterating distributed
    * star rounds (~6 jobs/round): after LSH banding + verification the
    * edge set is the DUPLICATES, orders of magnitude smaller than the
    * corpus, and per-round job overhead dominates small graphs. 1M edges
    * ≈ 16 MB on the driver. Same size-guard convention as
    * IdAssign.orderedIds; specs pass 0 to force the distributed path.
    */
  val DefaultMaxDriverEdges = 1000000L

  /** [[resolve]] plus the round count and convergence flag — the spec
    * surface for the O(log n) bound (driver-resolved graphs report
    * 0 rounds, converged).
    */
  def resolveStats(pairs: DataFrame, idA: String = "id_a",
      idB: String = "id_b", maxIters: Int = 20,
      requireConvergence: Boolean = true,
      maxDriverEdges: Long = DefaultMaxDriverEdges): (DataFrame, Int, Boolean) = {
    // materialize the pair set once: `pairs` is usually the tail of an
    // expensive LSH-candidate + verify plan, and verts + the oriented edge
    // set would otherwise each re-run that whole plan. The pair set is the
    // DUPLICATES — corpus-small by construction — so block-manager
    // materialization is cheap
    val p = pairs.localCheckpoint()
    // localCheckpoint (eager) every round: iterative self-referencing
    // DataFrames double their logical plan per iteration, and analysis cost
    // goes super-linear without lineage truncation
    val verts = p.select(col(idA).as("id"))
      .unionByName(p.select(col(idB).as("id")))
      .distinct().localCheckpoint()
    // edges oriented big → small; self-loops drop out (their vertices stay
    // in `verts` and resurface as singletons in the final left-join)
    var e = p
      .select(greatest(col(idA), col(idB)).as("u"),
        least(col(idA), col(idB)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct().localCheckpoint()
    var converged = false
    var rounds = 0
    // carried across rounds so the fixpoint probe costs ONE count job per
    // round (the previous round's size is already known)
    var eCount = e.count()
    if (eCount <= maxDriverEdges) {
      // small graph: exact union-find on the driver, labels = component
      // min via a final min-root remap — identical output contract to the
      // star fixpoint, ~20 small jobs collapsed into one collect
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { // path compression
          val n = parent.getOrElse(c, c); parent(c) = r; c = n
        }
        r
      }
      e.collect().foreach { row =>
        val (ru, rv) = (find(row.getLong(0)), find(row.getLong(1)))
        if (ru != rv) parent(math.max(ru, rv)) = math.min(ru, rv)
      }
      // union-by-min keeps every root the smallest id seen so far, so
      // find() already lands on the component minimum
      val spark = pairs.sparkSession
      import spark.implicits._
      val labels = verts.as[Long].collect().toSeq
        .map(id => (id, find(id))).toDF("id", "comp")
      return (labels.orderBy(col("id")), 0, true)
    }
    while (!converged && rounds < maxIters) {
      // large-star: each vertex u links every LARGER neighbor v to
      // m = min(N(u) ∪ {u}) — long chains fold onto their minima
      val sym = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
      val minN = sym.groupBy(col("u"))
        .agg(min(least(col("v"), col("u"))).as("m"))
      val ls = sym.join(minN, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
      // small-star: each vertex u links its smaller neighbors (and itself)
      // to m = min(N_small(u)) — stars of stars flatten one level
      val minS = ls.groupBy(col("u")).agg(min(col("v")).as("m"))
      // lineage truncation is policy-driven: localCheckpoint per round on
      // local[...]; spark.graft.graph.reliableCheckpoint=true switches to
      // a reliable checkpoint every k rounds for executor-loss tolerance
      val next = graft.util.IterCheckpoint.truncate(
        ls.join(minS, Seq("u"))
          .select(col("v").as("x"), col("m"))
          .unionByName(minS.select(col("u").as("x"), col("m")))
          .filter(col("x") =!= col("m"))
          .select(col("x").as("u"), col("m").as("v"))
          .distinct(),
        rounds)
      // fixpoint ⟺ identical edge sets (both are distinct): equal size and
      // empty difference — scalar probes only, never data movement
      val nextCount = next.count()
      converged = nextCount == eCount && next.exceptAll(e).isEmpty
      e = next
      eCount = nextCount
      rounds += 1
    }
    if (!converged) {
      val msg = s"Components.resolve did not converge within $maxIters " +
        "star rounds — the edge set is still contracting and component " +
        "labels may be split"
      if (requireConvergence) throw new IllegalStateException(msg)
      else logWarning(msg)
    }
    // at the star fixpoint every edge is (member, component-min); the min
    // re-aggregation only matters on an unconverged best-effort result
    val labels = verts
      .join(e.groupBy(col("u")).agg(min(col("v")).as("c"))
          .select(col("u").as("id"), col("c")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("c"), col("id")).as("comp"))
    (labels, rounds, converged)
  }
}
