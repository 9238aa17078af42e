package graft.graph

import graft.util.Exact.int128
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over an undirected edge list — the step that
  * turns pairwise near-duplicate EDGES (MinHash/SimHash/embedding
  * candidates) into duplicate CLUSTERS, so a corpus dedup can keep one
  * representative per component (cf. the union-find pass every
  * large-scale dedup pipeline ends with).
  *
  * Algorithm: min-label propagation with pointer jumping. Every node
  * starts labeled with its own id; each round (1) labels flow across
  * edges (both directions) and every node keeps the minimum seen, then
  * (2) every node jumps to its label's label — the classic
  * pointer-doubling step, sound because label(v) is always a
  * same-component node with a ≤ label. Propagation alone needs
  * O(diameter) rounds; the jump contracts label chains geometrically,
  * so long chains converge in O(log diameter) rounds.
  *
  * Scale notes:
  *  - Each round is one equi-join (edges ⨝ labels, shuffle keyed by
  *    node id) + one min-aggregate — all Catalyst-planned; no driver
  *    state beyond the loop counter.
  *  - `localCheckpoint` truncates lineage each round: without it the
  *    plan doubles per iteration and the optimizer re-walks it.
  *  - For graphs with long chains at 100 TB, switch to the
  *    large-star/small-star variant (Kiveris et al., "Connected
  *    Components in MapReduce and Beyond"), which contracts diameter
  *    logarithmically; the per-round plumbing here is unchanged.
  *  - Convergence detection: labels only ever DECREASE, so the sum of
  *    all labels is a monotone potential function — fixpoint iff the
  *    sum is unchanged between rounds. That makes the probe a single
  *    scan of the just-checkpointed labels (exact decimal sum, no
  *    overflow at any id range) instead of a join against the previous
  *    round.
  */
object ConnectedComponents {

  /** @param ids   one column `id` — every node (isolated nodes keep
    *              their own id as cluster)
    * @param edges columns `id1`, `id2` — undirected pairs
    * @return (id, cluster_id) where cluster_id = min id in the component
    */
  def run(ids: DataFrame, edges: DataFrame, maxIter: Int = 20): DataFrame = {
    val bi = edges.select(col("id1").as("a"), col("id2").as("b"))
      .unionByName(edges.select(col("id2").as("a"), col("id1").as("b")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var labels = ids.select(col("id"), col("id").as("cluster_id"))
        .localCheckpoint()
      def labelSum(df: DataFrame): java.math.BigDecimal =
        Option(df.agg(sum(int128(col("cluster_id")))).head()
          .getDecimal(0)).getOrElse(java.math.BigDecimal.ZERO)
      var prevSum = labelSum(labels)
      var iter = 0
      var converged = false
      while (!converged && iter < maxIter) {
        val msgs = bi.join(labels, bi("a") === labels("id"))
          .select(bi("b").as("id"), labels("cluster_id"))
        val propagated = labels.unionByName(msgs)
          .groupBy("id").agg(min("cluster_id").as("cluster_id"))
        // pointer jump: follow cluster_id one more hop through the
        // (pre-jump) label table — left join because a label may be a
        // component-min node that only appears as its own id
        val jumpTo = propagated
          .select(col("id").as("jid"), col("cluster_id").as("jlabel"))
        val updated = propagated
          .join(jumpTo, propagated("cluster_id") === jumpTo("jid"), "left")
          .select(propagated("id"),
            least(propagated("cluster_id"), col("jlabel")).as("cluster_id"))
          .localCheckpoint()
        val newSum = labelSum(updated)
        labels = updated
        converged = newSum.compareTo(prevSum) == 0
        prevSum = newSum
        iter += 1
      }
      require(converged, s"connected components did not converge in $maxIter rounds")
      labels
    } finally bi.unpersist()
  }

  // =======================================================================
  // Large-star / small-star contraction (Kiveris et al., "Connected
  // Components in MapReduce and Beyond") — the long-chain scale path.
  // =======================================================================

  /** One large-star round: every node u connects its STRICTLY LARGER
    * neighbors to m = min(Γ(u) ∪ {u}). Edges stay canonical (h > l).
    *
    * NOT deduplicated (one fewer edge-scale exchange
    * per alternation): two apexes u, u' can emit the same (v, m) row,
    * but every consumer is duplicate-insensitive — [[smallStar]]'s
    * per-h min ignores multiplicity and its final `.distinct()`
    * restores the canonical edge SET before the checkpoint/fingerprint,
    * so the alternation's output (and the convergence probe) is
    * bit-identical to the deduplicated form. Pre-dedup volume is
    * bounded by |bi|/2 = |e| rows — the same scale the dedup shuffle
    * itself carried. */
  private def largeStar(e: DataFrame): DataFrame = {
    val bi = e.select(col("h").as("u"), col("l").as("v"))
      .unionByName(e.select(col("l").as("u"), col("h").as("v")))
    val mins = bi.groupBy("u").agg(min(col("v")).as("mv"))
      .select(col("u").as("mu"), least(col("mv"), col("u")).as("m"))
    bi.join(mins, bi("u") === mins("mu"))
      .filter(col("v") > col("u"))
      .select(col("v").as("h"), col("m").as("l"))
      .filter(col("h") =!= col("l"))
  }

  /** One small-star round: every node h connects its smaller neighbors
    * (and itself) to m = min of those neighbors. The canonical (h→l)
    * orientation IS the smaller-neighbor adjacency, so no re-keying. */
  private def smallStar(e: DataFrame): DataFrame = {
    val mins = e.groupBy("h").agg(min(col("l")).as("m"))
    val fromL = e.join(mins, "h")
      .filter(col("l") =!= col("m"))
      .select(col("l").as("h"), col("m").as("l"))
    fromL.unionByName(mins.select(col("h"), col("m").as("l")))
      .filter(col("h") =!= col("l"))
      .distinct()
  }

  /** Connected components by alternating large-star/small-star until the
    * edge set is a fixpoint (a min-rooted star per component). Converges
    * in O(log diameter) alternations on paths/chains — vs the
    * propagate+jump bound — and every round SHRINKS the edge set toward
    * one edge per non-min node, so per-round shuffle volume is
    * monotonically bounded: the property that makes this the 100 TB
    * long-chain variant. Same contract as [[run]].
    *
    * Convergence probe: canonical-edge multiset fingerprint
    * (count + exact decimal sum of per-edge xxhash64) — one scan of the
    * just-checkpointed frame, no join against the previous round. */
  def runStars(ids: DataFrame, edges: DataFrame, maxIter: Int = 30): DataFrame =
    starContraction(ids, edges, maxIter)._1

  /** [[runStars]] plus the number of large+small alternations taken —
    * exposed so specs can pin the O(log diameter) convergence bound. */
  def starContraction(ids: DataFrame, edges: DataFrame,
                      maxIter: Int = 30): (DataFrame, Int) = {
    // LAZY checkpoints throughout: eager localCheckpoint runs a
    // materialization job and the fingerprint scan right after it is a
    // second job — lazy, the fingerprint aggregate materializes the
    // checkpoint in the SAME job, halving the per-round job count (at
    // probe scale the loop is scheduling-floor-bound: each extra job
    // is a full barrier on an idle cluster). Lineage truncation is
    // identical — the checkpoint exists before any later round plans
    // against it, because fp() always executes first.
    var e = edges
      .select(greatest(col("id1"), col("id2")).as("h"),
        least(col("id1"), col("id2")).as("l"))
      .filter(col("h") =!= col("l"))
      .distinct()
      .localCheckpoint(false)
    def fp(df: DataFrame): (Long, java.math.BigDecimal) = {
      val r = df.agg(count(lit(1)),
        sum(int128(xxhash64(col("h"), col("l"))))).head()
      (r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
    }
    var prev = fp(e)
    var iter = 0
    var converged = prev._1 == 0L
    while (!converged && iter < maxIter) {
      val next = smallStar(largeStar(e)).localCheckpoint(false)
      val cur = fp(next)
      // fingerprint match is necessary-but-probabilistic (a ~2^-64
      // per-round hash collision could accept a non-fixpoint and emit
      // wrong labels — unlike run()'s monotone label-sum potential), so
      // the one round that CLAIMS convergence is confirmed with an
      // exact set-equality check. Runs once per call, on the final
      // contracted edge set (≤ one edge per non-root node): the cost
      // is a single small anti-join, the payoff is a deterministic
      // correctness guarantee instead of an astronomically-likely one.
      // both anti-join directions in ONE action: the symmetric
      // difference is empty iff both sides are. A count, not isEmpty:
      // isEmpty is an incremental take whose job count depends on which
      // partitions hold rows, a count runs the same jobs every time
      converged = cur == prev && {
        val old = e
        old.join(next, Seq("h", "l"), "left_anti")
          .unionByName(next.join(old, Seq("h", "l"), "left_anti"))
          .count() == 0L
      }
      e = next
      prev = cur
      iter += 1
    }
    require(converged, s"star contraction did not converge in $maxIter rounds")
    // at fixpoint every component is a star rooted at its min node:
    // non-root labels read straight off the edges, roots/isolated keep
    // their own id
    val roots = e.groupBy("h").agg(min(col("l")).as("root"))
    val labels = ids
      .join(roots, ids("id") === roots("h"), "left")
      .select(ids("id"), coalesce(col("root"), ids("id")).as("cluster_id"))
    (labels, iter)
  }
}
