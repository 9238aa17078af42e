package graft.graph

import graft.util.Rounds
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Hierarchy flattening — (node → root, depth) over a parent-pointer
  * forest: the recursive-CTE workload (BOM explosion, org charts,
  * category trees) expressed in Spark's iteration model, since Spark
  * has no recursive CTE.
  *
  * Algorithm: POINTER DOUBLING (the jump step of min-label connected
  * components, here carrying distance): state
  * (id, anc, d) starts at the parent pointer; each round substitutes
  * anc := anc's ancestor and adds the distances, so the known-ancestor
  * horizon doubles per round — a depth-D forest resolves in ⌈log₂ D⌉
  * rounds, not D. Roots self-loop with distance 0, which makes them
  * the join's fixpoint rather than a special case.
  *
  * Scale shape: each round is ONE equi-join of the state with itself
  * keyed by ancestor id (shuffle on node id), and its state is a
  * [[graft.util.Rounds]] round. Convergence detection: the total of all
  * distances is a monotone non-decreasing, bounded potential — fixpoint
  * iff unchanged — and it is the round's probe, so no round joins
  * against the previous one.
  */
object Hierarchy {

  /** @param nodes columns `id` and nullable `parent` (null = root);
    *   every non-null parent must itself appear as an `id` (a dangling
    *   parent would drop its subtree at the first join)
    * @return (id, root, depth) for every node */
  def flatten(nodes: DataFrame, maxIter: Int = 25): DataFrame = {
    val start = nodes.select(col("id"),
      coalesce(col("parent"), col("id")).as("anc"),
      when(col("parent").isNull, 0L).otherwise(1L).as("d"))
    // the distance total, exact: an overflow throws as ANSI `sum` does
    val out = Rounds.iterate(start, maxIter)(
      _.aggregate(0L)((s, r) => Math.addExact(s, r.getLong(2)), Math.addExact(_, _))) {
      (prev, cur) =>
        if (prev.exists(_.probe == cur.probe)) None
        else {
          val st = cur.rows
          val up = st.select(col("id").as("anc"), col("anc").as("anc2"), col("d").as("d2"))
          Some(st.join(up, "anc").select(col("id"), col("anc2").as("anc"),
            (col("d") + col("d2")).as("d")))
        }
    }
    require(out.pending.isEmpty,
      s"hierarchy did not resolve within $maxIter doubling rounds — " +
        "depth exceeds 2^maxIter, or the parent graph has a cycle")
    out.last.rows.select(col("id"), col("anc").as("root"), col("d").as("depth"))
  }
}
