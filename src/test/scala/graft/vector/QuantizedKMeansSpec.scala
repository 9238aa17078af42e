package graft.vector

import graft.{SourceScan, SparkSpec, Tables}
import java.nio.file.Files
import org.apache.spark.sql.functions._

class QuantizedKMeansSpec extends SparkSpec {
  import spark.implicits._

  test("hand-computed 2-cluster trace: init, argmin, floor-div update, final distances") {
    val df = Seq(
      (1L, Seq(0.0f, 0.0f)), (2L, Seq(0.1f, 0.0f)),
      (3L, Seq(10.0f, 10.0f)), (4L, Seq(10.1f, 10.0f))
    ).toDF("vec_id", "embedding")
    val got = QuantizedKMeans.assignTo(df,
      QuantizedKMeans.centroids(df, k = 2, iters = 3))
      .orderBy("vec_id").as[(Long, Long, Long)].collect().toSeq
    // init: c0 = v1, c1 = v2 (k lowest ids). Iter 1 pulls v3/v4 to c1;
    // iter 2 re-homes v2 to c0; iter 3 is the fixed point with
    // c0 = (50000, 0), c1 = (10050000, 10000000) — every vector then
    // sits exactly 50000 micro-units (in one dim) from its centroid.
    assert(got == Seq(
      (1L, 0L, 2500000000L), (2L, 0L, 2500000000L),
      (3L, 1L, 2500000000L), (4L, 1L, 2500000000L)))
  }

  test("centroid update uses exact FLOOR division on negative sums") {
    // one cluster, quantized coords -3e6, -2e6, -2e6 (small integers —
    // exact in float): sum = -7e6 over 3 members, floor(-7e6/3) =
    // -2333334 (trunc would give -2333333); the final distances pin
    // which one the centroid used
    val df = Seq(
      (1L, Seq(-3.0f)), (2L, Seq(-2.0f)), (3L, Seq(-2.0f))
    ).toDF("vec_id", "embedding")
    val got = QuantizedKMeans.assignTo(df,
      QuantizedKMeans.centroids(df, k = 1, iters = 1))
      .orderBy("vec_id").as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 0L, 444443555556L), (2L, 0L, 111111555556L), (3L, 0L, 111111555556L)))
  }

  test("assignment is deterministic and partitioning-independent on the corpus") {
    val emb = Tables.embeddings(spark, sfDir)
    val a = QuantizedKMeans.assignTo(emb,
      QuantizedKMeans.centroids(emb, k = 8, iters = 3))
      .orderBy("vec_id").as[(Long, Long, Long)].collect().toSeq
    val b = QuantizedKMeans.assignTo(emb.repartition(7),
      QuantizedKMeans.centroids(emb.repartition(7), k = 8, iters = 3))
      .orderBy("vec_id").as[(Long, Long, Long)].collect().toSeq
    assert(a == b)
    // total mapping: every vector exactly once, cells within [0, k)
    assert(a.map(_._1) == a.map(_._1).distinct &&
      a.size == emb.count() && a.forall(r => r._2 >= 0 && r._2 < 8))
    // the run actually separates the corpus (not everything in one cell)
    assert(a.map(_._2).distinct.size > 1)
  }

  test("the Lloyd update rule has one Spark owner and one SQL replay") {
    // k-means and PQ training share QuantizedKMeans.lloyd, and every
    // k-means/PQ oracle shares VectorQueries.pqChain: a second copy of
    // either floor-div update can drift from the one the oracles check.
    val mains = SourceScan.mainSources
    val update = """"\(s - pmod\(s, n\)\) div n"""".r
    val owner = (p: java.nio.file.Path) => p.endsWith("graft/vector/QuantizedKMeans.scala")
    val offenders = SourceScan.overLimit(update, mains)(p => if (owner(p)) Int.MaxValue else 0)
    assert(offenders.isEmpty, s"Spark Lloyd update outside QuantizedKMeans: ${offenders.mkString(", ")}")
    assert(mains.filter(owner).exists(p => update.findFirstIn(Files.readString(p)).nonEmpty),
      "scan found no Lloyd update in QuantizedKMeans.scala")
    val replay = """% n\) \+ n\) % n\)\) // n""".r
    val sqlSites = mains.map(p => replay.findAllIn(Files.readString(p)).size).sum
    assert(sqlSites <= 1, s"the SQL Lloyd update appears $sqlSites times under src/main/scala")
  }
}
