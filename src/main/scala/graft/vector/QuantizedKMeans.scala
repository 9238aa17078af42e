package graft.vector

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StructField, StructType}
import scala.jdk.CollectionConverters._

/** Deterministic, integer-exact Lloyd's k-means over an embedding
  * column — the coarse-quantizer trainer (IVF cells, SemDeDup buckets,
  * k-means-sharded ANN) in a form where every decision is replayable
  * bit-for-bit in any engine.
  *
  * Three choices make it portable where float k-means is not
  * (cf. `IvfIndex.build`, which wraps Spark ML KMeans — seeded,
  * float-summed, and order-sensitive in its reduction):
  *  - coordinates quantize to integer micro-units (floor(x·10⁶), the
  *    em01 convention) BEFORE any arithmetic, so squared distances are
  *    exact BIGINTs (|x|≤10 ⇒ per-dim diff² ≤ 4·10¹⁴, ×64 dims
  *    ≤ 2.6·10¹⁶ — comfortably inside int64) and sums are
  *    order-independent across partitionings and engines;
  *  - initial centroids are the k lowest-id vectors (no seed, no
  *    sampling) — the classic reproducible-baseline init;
  *  - argmin ties break by cell id, and centroid updates use exact
  *    floor division ((s − pmod(s, n)) div n), so every assignment and
  *    every new coordinate is a total deterministic function of the
  *    input.
  *
  * Scale shape (the part ML KMeans also gets right, here made
  * explicit): centroids are k×dim — broadcast; ASSIGNMENT is row-local
  * (a broadcast nested loop over k per vector, no shuffle); UPDATE is
  * one partial-agg shuffle keyed by (cell, dim) whose output is
  * k×dim rows regardless of corpus size. Per round the corpus is
  * scanned once.
  *
  * One Lloyd core ([[lloyd]], [[nearest]], [[codebook]]) serves both
  * this trainer and [[ProductQuantizer]]: a codebook may carry key
  * columns (PQ's `sub_id`), and every stage then runs per key.
  */
object QuantizedKMeans {

  /** Micro-unit quantization of one coordinate: floor(x·10⁶) as
    * BIGINT. float→double cast is exact; floor is deterministic. */
  def quant(x: Column): Column =
    floor(x.cast(DoubleType) * 1000000L).cast("long")

  /** (idCol, q: array<bigint>) — micro-unit quantization of `vecCol`. */
  def quantize(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol), transform(col(vecCol), x => quant(x)).as("q"))

  /** Exact squared L2 distance between two quantized vectors —
    * [[IntL2Expr]], the whole-stage-codegen kernel (identical integer
    * math to `aggregate(zip_with(a, b, (x,y) => (x-y)*(x-y)), 0L, _+_)`,
    * which it replaced: the interpreted HOF path measured ~2× slower
    * end-to-end on the PQ argmin joins). */
  def dist2(a: Column, b: Column): Column = IntL2Expr.l2(a, b)

  /** The codebook (keys…, cell_id, c: array<bigint>) as a
    * LocalRelation over driver rows, sorted by keys then cell_id. A
    * codebook is k×dim longs per key at any corpus size (k ≤ 64
    * everywhere in graft), so holding it on the driver is bounded and
    * its broadcast builds with no job. */
  private def codebook(spark: SparkSession, keys: Seq[String], rows: Seq[Row]): DataFrame = {
    val schema = StructType((keys :+ "cell_id").map(StructField(_, LongType, nullable = false)) :+
      StructField("c", ArrayType(LongType, containsNull = true)))
    spark.createDataFrame(
      rows.sortBy(r => (0 to keys.size).map(r.getLong))(
        Ordering.Implicits.seqOrdering[IndexedSeq, Long]).asJava, schema)
  }

  /** Exact squared distance from every `q` row to every centroid of
    * its key: (keys…, by…, cell_id, d2). The codebook broadcasts — a
    * cross join when `keys` is empty, an equi-join on `keys` otherwise —
    * so the scoring is row-local. */
  private[vector] def distances(q: DataFrame, cents: DataFrame,
                                keys: Seq[String], by: Seq[String]): DataFrame =
    (if (keys.isEmpty) q.crossJoin(broadcast(cents)) else q.join(broadcast(cents), keys))
      .select((keys ++ by).map(col) ++
        Seq(col("cell_id"), dist2(col("q"), col("c")).as("d2")): _*)

  /** Argmin of [[distances]] per (keys…, by…), ties → lowest cell:
    * (by…, keys…, cell_id, d2). */
  private[vector] def nearest(q: DataFrame, cents: DataFrame,
                              keys: Seq[String], by: Seq[String]): DataFrame =
    distances(q, cents, keys, by)
      .groupBy((keys ++ by).map(col): _*)
      .agg(min(struct(col("d2"), col("cell_id"))).as("m"))
      .select((by ++ keys).map(col) ++
        Seq(col("m.cell_id").as("cell_id"), col("m.d2").as("d2")): _*)

  /** `iters` Lloyd rounds over `q` (idCol, keys…, q: array<bigint>)
    * from the centroids `init`: per key, its rows in id order become
    * cells 0..k−1 (a collect of an orderBy().limit(), and any row-local
    * step after it, keeps that order). Each round assigns every row to
    * its [[nearest]] cell and recomputes each non-empty cell as the
    * exact floor-div mean per coordinate; a cell that loses every
    * member disappears. Each round is one job — the collect of the
    * new codebook, fed back through [[codebook]] — so every plan stays
    * flat and nothing is persisted. Returns the final codebook. */
  private[vector] def lloyd(q: DataFrame, keys: Seq[String], idCol: String,
                            init: DataFrame, iters: Int): DataFrame = {
    val cells = scala.collection.mutable.Map.empty[Seq[Long], Long]
    val spark = q.sparkSession
    var cents = codebook(spark, keys,
      init.select((keys :+ "q").map(col): _*).collect().toSeq.map { r =>
        val key = keys.indices.map(r.getLong)
        val cell = cells.getOrElse(key, 0L)
        cells(key) = cell + 1
        Row.fromSeq(key ++ Seq(cell, r.getSeq[Long](keys.size)))
      })
    val ks = keys.map(col)
    for (_ <- 1 to iters) {
      cents = codebook(spark, keys, nearest(q, cents, keys, Seq(idCol, "q"))
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

  /** Train the codebook alone: `iters` Lloyd rounds from the k
    * lowest-id vectors; returns the final (cell_id, c: array<bigint>)
    * centroids — a LocalRelation, so any number of consumers (an ADC
    * lookup table, an encode pass) read it without recomputation. */
  def centroids(df: DataFrame, k: Int, iters: Int,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && iters >= 0, s"need k >= 1, iters >= 0; got $k, $iters")
    val q = quantize(df, idCol, vecCol)
    lloyd(q, Nil, idCol, q.orderBy(col(idCol)).limit(k), iters)
  }

  /** Exact quantized squared distance from every row of `df` to EVERY
    * centroid — (idCol, cell_id, d2), the ADC lookup-table shape.
    * Centroids broadcast; the cross join is k-bounded per row. */
  def distancesTo(df: DataFrame, cents: DataFrame,
                  idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    distances(quantize(df, idCol, vecCol), cents, Nil, Seq(idCol))

  /** Argmin assignment of every row to its nearest centroid
    * (ties → lowest cell): (idCol, cell_id, d2) — over [[centroids]]'
    * codebook, the full k-means mapping with each vector's exact
    * quantized squared distance to its centroid. */
  def assignTo(df: DataFrame, cents: DataFrame,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    nearest(quantize(df, idCol, vecCol), cents, Nil, Seq(idCol))
}
