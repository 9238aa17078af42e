package graft.graph

import graft.util.Exact.int128
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Hierarchy flattening — (node → root, depth) over a parent-pointer
  * forest: the recursive-CTE workload (BOM explosion, org charts,
  * category trees) expressed in Spark's iteration model, since Spark
  * has no recursive CTE.
  *
  * Algorithm: POINTER DOUBLING (the same contraction as
  * [[ConnectedComponents]]'s jump step, here carrying distance): state
  * (id, anc, d) starts at the parent pointer; each round substitutes
  * anc := anc's ancestor and adds the distances, so the known-ancestor
  * horizon doubles per round — a depth-D forest resolves in ⌈log₂ D⌉
  * rounds, not D. Roots self-loop with distance 0, which makes them
  * the join's fixpoint rather than a special case.
  *
  * Scale shape: each round is ONE equi-join of the state with itself
  * keyed by ancestor id (shuffle on node id) + localCheckpoint to
  * truncate lineage. Convergence detection reuses the CC trick: the
  * total of all distances is a monotone non-decreasing, bounded
  * potential — fixpoint iff unchanged, probed with a single exact
  * decimal-sum scan (no join against the previous round).
  */
object Hierarchy {

  /** @param nodes columns `id` and nullable `parent` (null = root);
    *   every non-null parent must itself appear as an `id` (a dangling
    *   parent would drop its subtree at the first join)
    * @return (id, root, depth) for every node */
  def flatten(nodes: DataFrame, maxIter: Int = 25): DataFrame = {
    var st = nodes.select(col("id"),
        coalesce(col("parent"), col("id")).as("anc"),
        when(col("parent").isNull, 0L).otherwise(1L).as("d"))
      .localCheckpoint()
    def dSum(df: DataFrame): java.math.BigDecimal =
      Option(df.agg(sum(int128(col("d")))).head().getDecimal(0))
        .getOrElse(java.math.BigDecimal.ZERO)
    var prev = dSum(st)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val up = st.select(col("id").as("anc"), col("anc").as("anc2"),
        col("d").as("d2"))
      st = st.join(up, "anc")
        .select(col("id"), col("anc2").as("anc"),
          (col("d") + col("d2")).as("d"))
        .localCheckpoint()
      val cur = dSum(st)
      converged = cur == prev
      prev = cur
      iter += 1
    }
    require(converged,
      s"hierarchy did not resolve within $maxIter doubling rounds — " +
        "depth exceeds 2^maxIter, or the parent graph has a cycle")
    st.select(col("id"), col("anc").as("root"), col("d").as("depth"))
  }
}
