package graft.graph

import graft.SparkSpec
import org.apache.spark.sql.functions._

class HierarchySpec extends SparkSpec {
  import spark.implicits._

  private def flatten(nodes: Seq[(Long, Option[Long])], maxIter: Int = 25) =
    Hierarchy.flatten(nodes.toDF("id", "parent"), maxIter)
      .as[(Long, Long, Long)].collect().map(t => t._1 -> ((t._2, t._3))).toMap

  test("forest: chains, stars, and multiple roots resolve to (root, depth)") {
    val forest = Seq[(Long, Option[Long])](
      (1L, None), (2L, Some(1L)), (3L, Some(2L)), (4L, Some(3L)), // chain depth 3
      (10L, None), (11L, Some(10L)), (12L, Some(10L)),            // star
      (20L, None))                                                // isolated root
    val got = flatten(forest)
    assert(got == Map(
      1L -> ((1L, 0L)), 2L -> ((1L, 1L)), 3L -> ((1L, 2L)), 4L -> ((1L, 3L)),
      10L -> ((10L, 0L)), 11L -> ((10L, 1L)), 12L -> ((10L, 1L)),
      20L -> ((20L, 0L))))
  }

  test("deep chain resolves in log rounds, not depth rounds") {
    // depth 63 chain: 6 doubling rounds + 1 fixpoint probe suffice,
    // where level-at-a-time would need 63 — maxIter = 8 proves the
    // doubling actually happens
    val chain = (1L to 64L).map(i =>
      (i, if (i == 1) Option.empty[Long] else Some(i - 1)))
    val got = flatten(chain, maxIter = 8)
    assert(got(64L) == ((1L, 63L)) && got(33L) == ((1L, 32L)))
  }

  test("a parent cycle fails loudly instead of returning garbage") {
    val cyclic = Seq[(Long, Option[Long])](
      (1L, Some(2L)), (2L, Some(1L)), (3L, None))
    intercept[IllegalArgumentException] { flatten(cyclic, maxIter = 6) }
  }

  test("hi01's prepare step runs 13 jobs") {
    // round 0's probe, then 4 doubling rounds (depth 5 at sf0.001: 3
    // to resolve, 1 to confirm) of 3 jobs each, the self-join's stages
    // and the round's probe
    assert(prepareJobs(graft.queries.GraphQueries.hi01HierarchyFlatten) == Seq(13, 13, 13))
  }
}
