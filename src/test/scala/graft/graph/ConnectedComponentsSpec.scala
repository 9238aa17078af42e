package graft.graph

import graft.SparkSpec
import graft.util.Exact.int128
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference [[ConnectedComponentsSpec]] checks star contraction
  * against: min-label propagation with pointer jumping. Every node
  * starts labeled with its own id; each round (1) labels flow across
  * edges (both directions) and every node keeps the minimum seen, then
  * (2) every node jumps to its label's label — the classic
  * pointer-doubling step, sound because label(v) is always a
  * same-component node with a ≤ label. Labels only ever decrease, so
  * the sum of all labels is a monotone potential: fixpoint iff the sum
  * is unchanged between rounds. */
private object PropagateJump {

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
}

class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def cc(ids: Seq[Long], edges: Seq[(Long, Long)], maxIter: Int = 20) =
    PropagateJump.run(
      ids.toDF("id"), edges.toDF("id1", "id2"), maxIter)
      .as[(Long, Long)].collect().toMap

  test("chain needs multi-round propagation; min id labels the component") {
    // path 1-2-3-4-5-6 (diameter 5) + isolated 9 + pair 7-8
    val labels = cc(1L to 9L,
      Seq((2L, 1L), (2L, 3L), (4L, 3L), (4L, 5L), (6L, 5L), (7L, 8L)))
    assert((1L to 6L).forall(labels(_) == 1L))
    assert(labels(7L) == 7L && labels(8L) == 7L)
    assert(labels(9L) == 9L)
  }

  test("star and cycle collapse to one component") {
    val star = (2L to 6L).map(i => (1L, i))
    val cycle = Seq((10L, 11L), (11L, 12L), (12L, 10L))
    val labels = cc((1L to 6L) ++ (10L to 12L), star ++ cycle)
    assert((1L to 6L).forall(labels(_) == 1L))
    assert((10L to 12L).forall(labels(_) == 10L))
  }

  test("no edges: every node is its own cluster") {
    val labels = cc(Seq(3L, 5L, 8L), Seq.empty)
    assert(labels == Map(3L -> 3L, 5L -> 5L, 8L -> 8L))
  }

  test("insufficient rounds fail loudly instead of returning a wrong answer") {
    val chain = (1L until 8L).map(i => (i, i + 1))
    intercept[IllegalArgumentException] {
      cc(1L to 8L, chain, maxIter = 2)
    }
  }

  private def stars(ids: Seq[Long], edges: Seq[(Long, Long)], maxIter: Int = 30) =
    ConnectedComponents.runStars(
      ids.toDF("id"), edges.toDF("id1", "id2"), maxIter)
      .as[(Long, Long)].collect().toMap

  test("large-star/small-star matches propagate+jump on mixed graphs") {
    val ids = 1L to 12L
    val edges = Seq((2L, 1L), (2L, 3L), (4L, 3L), (4L, 5L), (6L, 5L), // path
      (7L, 8L),                                                        // pair
      (10L, 11L), (11L, 12L), (12L, 10L))                              // cycle
    assert(stars(ids, edges) == cc(ids, edges))
  }

  test("no edges / self-loops only: every node is its own cluster") {
    assert(stars(Seq(3L, 5L, 8L), Seq((3L, 3L))) ==
      Map(3L -> 3L, 5L -> 5L, 8L -> 8L))
  }

  test("10^4-node chain converges in O(log diameter) alternations") {
    val n = 10000L
    val ids = spark.range(1, n + 1).toDF("id")
    // worst-case layout for label propagation: a single path, highest
    // id adjacent to lowest
    val edges = spark.range(1, n).toDF("id1")
      .withColumn("id2", $"id1" + 1L)
    val (labels, rounds) =
      ConnectedComponents.starContraction(ids, edges, maxIter = 30)
    // every node labeled with the component min (= 1)
    assert(labels.filter($"cluster_id" =!= 1L).count() == 0)
    val bound = math.ceil(math.log(n.toDouble) / math.log(2)).toInt + 3
    assert(rounds <= bound,
      s"chain of $n took $rounds alternations; O(log d) bound is $bound")
  }

  test("star contraction launches the same jobs on every run") {
    // 2,000 nodes over several partitions, edges i -> 7i mod 2000 and a
    // chain through every 13th node: components of mixed size and depth
    val ids = spark.range(0, 2000).toDF("id")
    val edges = spark.range(0, 2000).select($"id".as("id1"), ($"id" * 7 % 2000).as("id2"))
      .unionByName(spark.range(0, 1987, 13).select($"id".as("id1"), ($"id" + 13).as("id2")))
    val runs = (1 to 3).map { _ =>
      graft.Runner.reset(spark)
      var rounds = 0
      val jobs = jobsDuring {
        rounds = ConnectedComponents.starContraction(ids, edges)._2
      }.size
      (jobs, rounds)
    }
    assert(runs.distinct.size == 1, s"(jobs, rounds) per run: $runs")
  }

  test("dd06's prepare step runs 37 jobs") {
    // the near-dup edge kernel's stage jobs, then per contraction round
    // its plan's shuffle-stage jobs and one probe job. sm04 and dd13 are
    // not pinned: their edge kernel's two cached frames are built by
    // whichever nested adaptive stage reaches them first, so they run
    // 40 or 41 jobs
    assert(prepareJobs(graft.queries.VectorQueries.dd06DupClusters) == Seq(37, 37, 37))
  }
}
