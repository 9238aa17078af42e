package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed triangle counting over an undirected edge list — the
  * third classic graph kernel after connected components and PageRank
  * (clustering-coefficient / community-density signals; in a data
  * pipeline, clique-ness of a co-occurrence graph is a redundancy
  * signal the way PageRank is an authority signal).
  *
  * Algorithm: degree-ordered orientation (the MapReduce scheme of
  * Suri & Vassilvitskii, "Counting Triangles and the Curse of the Last
  * Reducer", WWW'11). Orient every undirected edge from its lower
  * endpoint to its higher endpoint under the total order
  * (degree, id); the oriented graph is acyclic and every triangle has
  * EXACTLY ONE node with two out-edges in it, so enumerating
  * wedges (u→v, u→w) and probing the third side emits each triangle
  * once — no /3 correction, no double counting.
  *
  * Why orientation matters at 100 TB: wedge generation is
  * Σ_u C(outdeg(u), 2), and orienting by degree bounds outdeg(u) by
  * O(√m) for ANY graph — a heavy-tail hub with degree 10⁶ would
  * otherwise contribute 5·10¹¹ wedges from its own star; oriented, its
  * out-neighbors are only the (few) nodes of even higher degree. This
  * is the same "curse of the last reducer" fix as salting, but
  * structural rather than statistical.
  *
  * Plan shape: two equi-joins to attach endpoint degrees (the degree
  * table is node-sized — broadcastable when nodes ≪ edges), one
  * self-join of the oriented edges on src (the wedge shuffle, keyed by
  * wedge apex), one equi-join probing the canonical edge set on the
  * (least, greatest) pair. All shuffles are hash joins on edge keys;
  * no cartesian/nested-loop node anywhere.
  */
object Triangles {

  /** Canonicalized distinct undirected edges (a < b) from any pair
    * column naming; self-loops dropped. */
  def canonical(edges: DataFrame, c1: String, c2: String): DataFrame =
    edges.select(least(col(c1), col(c2)).as("a"),
        greatest(col(c1), col(c2)).as("b"))
      .filter(col("a") =!= col("b")).distinct()

  /** Every triangle, one row each, as (u, v, w) with u the wedge apex
    * (lowest (deg, id) of the three) and v < w. Input must be
    * canonical (a < b, distinct).
    *
    * The canonical edge set is referenced four ways (both degree-union
    * branches, the orientation input, the closing-edge probe) and the
    * plan DOES rebuild it per reference (column pruning pushes a
    * different projection into each copy, so ReusedExchange can't
    * dedupe). Persisting it was still measured SLOWER at sf0.1
    * (10.9 s → 13.9–19.7 s warm): the rebuild is a cheap
    * scan+aggregate while the persist opts the dominant wedge join out
    * of AQE and serves it from slower cache scans — the same verdict
    * as pr01 (see the reuse-vs-persist rule there). Left lazy on
    * purpose. */
  /** Degree-ordered orientation of a canonical edge set: (src, dst)
    * with src the lower endpoint under the (degree, id) total order.
    * Package-private so audit tooling (graft.SkewProbe) can count
    * wedge work — Σ C(outdeg, 2) — with the library's own orientation
    * instead of a re-derivation. */
  private[graft] def orientedEdges(e: DataFrame): DataFrame = {
    val deg = e.select(col("a").as("id"))
      .unionByName(e.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    val withDeg = e
      .join(deg.select(col("id").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("id").as("b"), col("deg").as("db")), "b")
    // orient low (deg, id) → high; (deg, id) is a total order so ties
    // on degree break by id and every edge gets exactly one direction
    withDeg.select(
      when(col("da") < col("db") ||
        (col("da") === col("db") && col("a") < col("b")),
        struct(col("a").as("s"), col("b").as("t")))
        .otherwise(struct(col("b").as("s"), col("a").as("t"))).as("e"))
      .select(col("e.s").as("src"), col("e.t").as("dst"))
  }

  def enumerate(e: DataFrame): DataFrame = {
    val oriented = orientedEdges(e)
    // wedges at a shared apex; dst1 < dst2 picks each unordered
    // out-neighbor pair once, and makes (dst1, dst2) canonical for the
    // closing-edge probe
    // SHUFFLE_HASH on the wedge self-join and the closing-edge probe
    // (the pr01 rationale): sort-merge planned a
    // Sort above every exchange of the oriented/canonical edge
    // streams; hash-building one side per partition streams the other
    // unsorted. Keyed shuffles, not broadcasts — both sides are
    // edge-scale, so this is the 100 TB-safe pin.
    val w = oriented.as("e1").join(oriented.as("e2").hint("shuffle_hash"),
      col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
      .select(col("e1.src").as("u"), col("e1.dst").as("v"),
        col("e2.dst").as("w"))
    w.join(e.hint("shuffle_hash"), w("v") === e("a") && w("w") === e("b"))
      .select("u", "v", "w")
  }

  /** Per-node triangle participation counts: (id, n_tri) for every
    * node in at least one triangle. */
  def perNode(e: DataFrame): DataFrame =
    enumerate(e)
      .select(explode(array(col("u"), col("v"), col("w"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n_tri"))
}
