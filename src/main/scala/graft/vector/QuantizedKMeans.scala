package graft.vector

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StructField, StructType}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import scala.collection.mutable
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
  *    floor division (floorDiv(s, n)), so every assignment and
  *    every new coordinate is a total deterministic function of the
  *    input.
  *
  * Scale shape (the part ML KMeans also gets right, here made
  * explicit): centroids are k×dim and ride with the tasks; a training
  * round scans the corpus once in one job, assigning and summing
  * row-locally with no shuffle, and merges k×dim partial sums per key
  * by tree reduction regardless of corpus size. The final assignment
  * ([[assignTo]]) is a broadcast nested loop over k per vector.
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
  private[vector] def codebook(spark: SparkSession, keys: Seq[String], rows: Seq[Row]): DataFrame = {
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

  /** One Lloyd round's per-key partials: per cell position of the
    * round's codebook, a member count and exact coordinate sums. */
  private type Partials = mutable.HashMap[Seq[Long], (Array[Long], Array[Array[Long]])]

  /** Adds `b` into `a`; every sum is `Math.addExact`, so an overflow
    * throws as ANSI `sum` does. */
  private def merge(a: Partials, b: Partials): Partials = {
    b.foreach { case (key, (bn, bs)) =>
      a.get(key) match {
        case None => a(key) = (bn, bs)
        case Some((an, as)) =>
          for (p <- an.indices) {
            an(p) = Math.addExact(an(p), bn(p))
            for (i <- as(p).indices) as(p)(i) = Math.addExact(as(p)(i), bs(p)(i))
          }
      }
    }
    a
  }

  /** `iters` Lloyd rounds over `q` (keys…, q: array<bigint>), one row
    * per vector and key, from the centroids `init`: per key, its rows
    * in id order become cells 0..k−1 (a collect of an
    * orderBy().limit(), and any row-local step after it, keeps that
    * order). Each round is ONE Spark job, Spark ML's KMeans shape:
    * every partition assigns its rows to their nearest cell of the
    * codebook its tasks carry ([[IntL2Expr.sqDist]]; ties → lowest cell
    * id; a row whose key has no codebook drops, as an inner join would)
    * and sums a count and exact coordinates per (keys…, cell); a
    * `treeAggregate` merges the partials, k×dim longs per key at any
    * corpus size, and the driver takes each new coordinate as
    * `Math.floorDiv(s, n)`. A cell that loses every member disappears.
    * The row RDD is planned once and nothing is persisted. Returns the
    * final codebook; the init collect plus the rounds run 1 + iters
    * jobs when `q` plans without an exchange (km01, nn10). */
  private[vector] def lloyd(q: DataFrame, keys: Seq[String],
                            init: DataFrame, iters: Int): DataFrame = {
    val nKeys = keys.size
    val seeded = mutable.LinkedHashMap.empty[Seq[Long], mutable.ArrayBuffer[ArrayData]]
    init.select((keys :+ "q").map(col): _*).collect().foreach { r =>
      seeded.getOrElseUpdate((0 until nKeys).map(r.getLong), mutable.ArrayBuffer.empty) +=
        new GenericArrayData(r.getSeq[Any](nKeys).toArray)
    }
    // per key: cell ids ascending, and their centroids
    var book: Map[Seq[Long], (Array[Long], Array[ArrayData])] = seeded.map {
      case (key, cs) => key -> (cs.indices.map(_.toLong).toArray, cs.toArray)
    }.toMap
    lazy val rows = q.select((keys :+ "q").map(col): _*).queryExecution.toRdd
    for (_ <- 1 to iters) {
      val cents = book.map { case (key, (_, cs)) => key -> cs }
      val sums = rows.mapPartitions { it =>
        val part: Partials = mutable.HashMap.empty
        it.filterNot(r => (0 to nKeys).exists(r.isNullAt)).foreach { r =>
          val key = (0 until nKeys).map(r.getLong)
          cents.get(key).foreach { cs =>
            val x = r.getArray(nKeys)
            var best = 0
            var bestD = IntL2Expr.sqDist(x, cs(0))
            for (p <- 1 until cs.length) {
              val d = IntL2Expr.sqDist(x, cs(p))
              if (d < bestD) { best = p; bestD = d }
            }
            val (n, s) = part.getOrElseUpdate(key, (new Array[Long](cs.length),
              cs.map(c => new Array[Long](c.numElements()))))
            n(best) = Math.addExact(n(best), 1L)
            for (i <- s(best).indices) s(best)(i) = Math.addExact(s(best)(i), x.getLong(i))
          }
        }
        Iterator.single(part)
      }.treeAggregate(mutable.HashMap.empty: Partials)(merge, merge)
      book = sums.iterator.map { case (key, (n, s)) =>
        val kept = n.indices.filter(n(_) > 0)
        key -> (kept.map(book(key)._1).toArray, kept.map { p =>
          UnsafeArrayData.fromPrimitiveArray(s(p).map(Math.floorDiv(_, n(p)))): ArrayData
        }.toArray)
      }.toMap
    }
    codebook(q.sparkSession, keys, book.toSeq.flatMap { case (key, (ids, cs)) =>
      ids.indices.map(p => Row.fromSeq(key ++ Seq(ids(p), cs(p).toSeq[Any](LongType))))
    })
  }

  /** Train the codebook alone: `iters` Lloyd rounds from the k
    * lowest-id vectors; returns the final (cell_id, c: array<bigint>)
    * centroids — a LocalRelation, so any number of consumers (an ADC
    * lookup table, an encode pass) read it without recomputation. */
  def centroids(df: DataFrame, k: Int, iters: Int,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && iters >= 0, s"need k >= 1, iters >= 0; got $k, $iters")
    val q = quantize(df, idCol, vecCol)
    lloyd(q, Nil, q.orderBy(col(idCol)).limit(k), iters)
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
