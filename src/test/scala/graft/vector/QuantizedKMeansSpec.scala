package graft.vector

import graft.{SourceScan, SparkSpec, Tables}
import graft.queries.VectorQueries
import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The DataFrame Lloyd loop the one-job rounds replaced, kept as the
  * reference they are checked against: per round an argmin groupBy, a
  * (cell, i)-keyed sum, a regroup into arrays and a collect. */
object DataFrameLloyd {
  def lloyd(q: DataFrame, keys: Seq[String], idCol: String,
            init: DataFrame, iters: Int): DataFrame = {
    val cells = scala.collection.mutable.Map.empty[Seq[Long], Long]
    val spark = q.sparkSession
    var cents = QuantizedKMeans.codebook(spark, keys,
      init.select((keys :+ "q").map(col): _*).collect().toSeq.map { r =>
        val key = keys.indices.map(r.getLong)
        val cell = cells.getOrElse(key, 0L)
        cells(key) = cell + 1
        Row.fromSeq(key ++ Seq(cell, r.getSeq[Long](keys.size)))
      })
    val ks = keys.map(col)
    for (_ <- 1 to iters) {
      cents = QuantizedKMeans.codebook(spark, keys,
        QuantizedKMeans.nearest(q, cents, keys, Seq(idCol, "q"))
          .select(ks ++ Seq(col("cell_id"), posexplode(col("q")).as(Seq("i", "x"))): _*)
          .groupBy(ks ++ Seq(col("cell_id"), col("i")): _*)
          .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
          .select(ks ++ Seq(col("cell_id"), col("i"),
            expr("(s - pmod(s, n)) div n").as("v")): _*)
          .groupBy(ks :+ col("cell_id"): _*)
          .agg(sort_array(collect_list(struct(col("i"), col("v")))).as("sv"))
          .select(ks ++ Seq(col("cell_id"),
            transform(col("sv"), s => s.getField("v")).as("c")): _*)
          .collect().toSeq)
    }
    cents
  }
}

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

  /** A codebook's rows in (keys…, cell_id) order. */
  private def rows(book: DataFrame): Seq[Row] = book.collect().toSeq
    .sortBy(r => (0 until r.length - 1).map(r.getLong))(
      Ordering.Implicits.seqOrdering[IndexedSeq, Long])

  /** The one-job rounds and the DataFrame reference, from the same
    * init, give the same codebook. */
  private def sameAsReference(q: DataFrame, keys: Seq[String], init: DataFrame,
                              iters: Int): Seq[Row] = {
    val got = rows(QuantizedKMeans.lloyd(q, keys, init, iters))
    assert(got == rows(DataFrameLloyd.lloyd(q, keys, "vec_id", init, iters)))
    got
  }

  private def q1(values: Double*): DataFrame =
    QuantizedKMeans.quantize(values.zipWithIndex
      .map { case (v, i) => (i + 1L, Seq(v.toFloat)) }.toDF("vec_id", "embedding"),
      "vec_id", "embedding")

  test("one-job Lloyd rounds equal the DataFrame rounds: ties, an emptied cell") {
    // cells 0 and 1 start at 0 and 2e6; the two rows at 1e6 tie and go
    // to cell 0, whose round-1 mean is floor(2e6 / 3)
    val ties = q1(0.0, 2.0, 1.0, 1.0)
    assert(sameAsReference(ties, Nil, ties.orderBy("vec_id").limit(2), 2).map(r =>
      (r.getLong(0), r.getSeq[Long](1))) == Seq((0L, Seq(666666L)), (1L, Seq(2000000L))))
    // cells 0 and 1 both start at 0: every member ties to cell 0, so
    // cell 1 empties and leaves the codebook
    val empties = q1(0.0, 0.0, 5.0, 0.5)
    assert(sameAsReference(empties, Nil, empties.orderBy("vec_id").limit(3), 2)
      .map(_.getLong(0)) == Seq(0L, 2L))
  }

  test("one-job Lloyd rounds equal the DataFrame rounds: sub_id keys, repartition(7)") {
    val emb = Tables.embeddings(spark, sfDir)
    val sub = ProductQuantizer.subspaces(emb, 64, 4, "vec_id", "embedding")
    val subInit = ProductQuantizer.subspaces(
      emb.orderBy("vec_id").limit(4), 64, 4, "vec_id", "embedding")
    assert(sameAsReference(sub, Seq("sub_id"), subInit, 2).map(_.getLong(0)).distinct ==
      Seq(0L, 1L, 2L, 3L))
    val q = QuantizedKMeans.quantize(emb, "vec_id", "embedding")
    val spread = QuantizedKMeans.quantize(emb.repartition(7), "vec_id", "embedding")
    val init = q.orderBy("vec_id").limit(8)
    assert(sameAsReference(spread, Nil, init, 3) ==
      rows(DataFrameLloyd.lloyd(q, Nil, "vec_id", init, 3)))
  }

  test("a coordinate sum that overflows a long throws, as the ANSI sum does") {
    val q = Seq((1L, Seq(Long.MaxValue - 1)), (2L, Seq(Long.MaxValue - 1)))
      .toDF("vec_id", "q")
    def overflows(body: => Any): Boolean =
      Iterator.iterate[Throwable](intercept[Exception](body))(_.getCause)
        .takeWhile(_ != null).exists(_.isInstanceOf[ArithmeticException])
    assert(overflows(QuantizedKMeans.lloyd(q, Nil, q.limit(1), 1)))
    assert(overflows(DataFrameLloyd.lloyd(q, Nil, "vec_id", q.limit(1), 1)))
  }

  test("Lloyd prepare steps run one job per round after the init collect") {
    // km01: 3 rounds over the whole vector; vq02: 2 rounds keyed by sub_id
    assert(prepareJobs(VectorQueries.km01KMeans) == Seq(4, 4, 4))
    assert(prepareJobs(VectorQueries.vq02ProductQuant) == Seq(3, 3, 3))
  }

  test("the Lloyd update rule has one Spark owner and one SQL replay") {
    // k-means and PQ training share QuantizedKMeans.lloyd, and every
    // k-means/PQ oracle shares VectorQueries.pqChain: a second copy of
    // either floor-div update can drift from the one the oracles check.
    val mains = SourceScan.mainSources
    val update = """Math\.floorDiv\(""".r
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
