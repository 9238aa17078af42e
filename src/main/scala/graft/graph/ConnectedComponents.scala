package graft.graph

import graft.util.Rounds
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._

/** Connected components over an undirected edge list — the step that
  * turns pairwise near-duplicate EDGES (MinHash/SimHash/embedding
  * candidates) into duplicate CLUSTERS, so a corpus dedup can keep one
  * representative per component (cf. the union-find pass every
  * large-scale dedup pipeline ends with).
  *
  * Algorithm: large-star/small-star contraction (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond"). Edges are kept
  * canonical, (h, l) with h > l. A large-star round links every node's
  * larger neighbors to the minimum of its neighborhood; a small-star
  * round links every node's smaller neighbors to the minimum of those.
  * Alternating the two reaches a fixpoint where every component is a
  * star rooted at its minimum node, in O(log diameter) alternations, and
  * every round shrinks the edge set toward one edge per non-root node.
  *
  * Scale notes:
  *  - Each round is a few equi-joins and min-aggregates keyed by node
  *    id, all Catalyst-planned; the driver holds only the loop counter
  *    and the convergence fingerprint.
  *  - Each alternation's edge set is a [[graft.util.Rounds]] round, so
  *    no round's plan grows with the rounds before it.
  *  - Per-round shuffle volume is bounded by the edge set, which only
  *    shrinks, so long chains at 100 TB cost O(log diameter) rounds of
  *    at most |edges| rows each.
  *  - Convergence detection: a canonical-edge multiset fingerprint
  *    (count + sum of per-edge xxhash64), the round's probe, confirmed
  *    on the claiming round by an exact set comparison.
  */
object ConnectedComponents {

  /** One large-star round: every node u connects its STRICTLY LARGER
    * neighbors to m = min(Γ(u) ∪ {u}). Edges stay canonical (h > l).
    *
    * NOT deduplicated (one fewer edge-scale exchange
    * per alternation): two apexes u, u' can emit the same (v, m) row,
    * but every consumer is duplicate-insensitive — [[smallStar]]'s
    * per-h min ignores multiplicity and its final `.distinct()`
    * restores the canonical edge SET before the round's state and probe,
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
    * in O(log diameter) alternations on paths/chains, and every round
    * SHRINKS the edge set toward one edge per non-min node, so per-round
    * shuffle volume is monotonically bounded: the property that makes
    * this the 100 TB long-chain path.
    *
    * @param ids   one column `id` — every node (isolated nodes keep
    *              their own id as cluster)
    * @param edges columns `id1`, `id2` — undirected pairs
    * @return (id, cluster_id) where cluster_id = min id in the component */
  def runStars(ids: DataFrame, edges: DataFrame, maxIter: Int = 30): DataFrame =
    starContraction(ids, edges, maxIter)._1

  /** The canonical-edge multiset fingerprint: (count, wrapping sum of
    * Spark's `xxhash64(h, l)`), one pass over an `(h, l)` round. */
  private def fingerprint(e: RDD[InternalRow]): (Long, Long) =
    e.aggregate((0L, 0L))({ case ((n, s), r) =>
      (n + 1, s + XXH64.hashLong(r.getLong(1), XXH64.hashLong(r.getLong(0), 42L)))
    }, { case ((n1, s1), (n2, s2)) => (n1 + n2, s1 + s2) })

  /** [[runStars]] plus the number of large+small alternations taken —
    * exposed so specs can pin the O(log diameter) convergence bound. */
  def starContraction(ids: DataFrame, edges: DataFrame,
                      maxIter: Int = 30): (DataFrame, Int) = {
    val canonical = edges
      .select(greatest(col("id1"), col("id2")).as("h"),
        least(col("id1"), col("id2")).as("l"))
      .filter(col("h") =!= col("l"))
      .distinct()
    val out = Rounds.iterate(canonical, maxIter)(fingerprint) { (prev, cur) =>
      // fingerprint match is necessary-but-probabilistic (a ~2^-64
      // per-round hash collision could accept a non-fixpoint and emit
      // wrong labels), so the one round that CLAIMS convergence is
      // confirmed with an exact set-equality check, on the final
      // contracted edge set (≤ one edge per non-root node): one small
      // anti-join buys a deterministic guarantee. Both directions run in
      // ONE action — the symmetric difference is empty iff both sides
      // are — and as a count: isEmpty is an incremental take whose job
      // count depends on which partitions hold rows.
      val settled = prev match {
        case None => cur.probe._1 == 0L
        case Some(p) => cur.probe == p.probe &&
          p.rows.join(cur.rows, Seq("h", "l"), "left_anti")
            .unionByName(cur.rows.join(p.rows, Seq("h", "l"), "left_anti"))
            .count() == 0L
      }
      if (settled) None else Some(smallStar(largeStar(cur.rows)))
    }
    require(out.pending.isEmpty, s"star contraction did not converge in $maxIter rounds")
    // at fixpoint every component is a star rooted at its min node:
    // non-root labels read straight off the edges, roots/isolated keep
    // their own id
    val roots = out.last.rows.groupBy("h").agg(min(col("l")).as("root"))
    val labels = ids
      .join(roots, ids("id") === roots("h"), "left")
      .select(ids("id"), coalesce(col("root"), ids("id")).as("cluster_id"))
    (labels, out.rounds)
  }
}
