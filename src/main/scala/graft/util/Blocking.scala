package graft.util

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The blocking core every candidate-pair kernel shares (hyperplane
  * LSH, MinHash, SimHash, banded semantic dedup, fuzzy join): cut each
  * row's signature into bands, equi-join rows on (band_id, band_val),
  * pair, then let the caller verify. Pairs form only inside a bucket —
  * never rows², never a nested loop — so candidate volume is set by the
  * band layout alone.
  *
  * A pair that agrees on several bands comes out of the band join once
  * per agreeing band. Kernels that join the candidates back to wide rows
  * dedup on (id1, id2); kernels that score in the join's output keep
  * only the copy from the first agreeing band ([[firstAgreeing]]), which
  * is row-local and needs no pair-keyed shuffle. */
object Blocking {

  /** One row per (input row, band): the `keep` columns, `band_id` (the
    * 0-based position in `values`) and `band_val`. Row-local: nothing
    * shuffles before the band join. */
  def bands(df: DataFrame, keep: Seq[String], values: Seq[Column]): DataFrame =
    df.withColumn("band", explode(array(values.zipWithIndex.map { case (v, b) =>
        struct(lit(b).as("band_id"), v.as("band_val")) }: _*)))
      .select(keep.map(col) :+ col("band.band_id") :+ col("band.band_val"): _*)

  /** `nBands` consecutive `width`-bit slices of a packed-long signature,
    * low bits first. The mask is an unsigned shift of all-ones, so a
    * width-64 band keeps every bit (`(1L << 64) - 1` is 0 on the JVM). */
  def packed(sig: Column, nBands: Int, width: Int): Seq[Column] = {
    require(width >= 1 && width <= 64, s"band width must be in 1..64, got $width")
    require(nBands >= 1 && nBands * width <= 64,
      s"$nBands bands of width $width do not fit one 64-bit signature")
    val mask = -1L >>> (64 - width)
    (0 until nBands).map(b => shiftright(sig, b * width).bitwiseAND(lit(mask)))
  }

  /** Pairs of `rows` that share every `keys` column, oriented
    * `id1 < id2` (no self-pairs, each unordered pair once per shared key
    * value). Every other column comes out twice, suffixed 1 and 2, so
    * `rows` needs an `id` column. */
  def selfPairs(rows: DataFrame, keys: Seq[String]): DataFrame = {
    def side(i: Int) = rows.select(rows.columns.map(c =>
      if (keys.contains(c)) col(c) else col(c).as(s"$c$i")): _*)
    side(1).join(side(2), keys).filter(col("id1") < col("id2"))
  }

  /** Emit-once test for packed signatures: the 0-based index of the
    * first of the [[packed]] bands on which `s1` and `s2` agree. Keeping
    * only the band-join row whose band_id equals it leaves each pair
    * exactly once, decided row-locally from the two signatures' XOR;
    * with capture-sized banding (24 one-bit bands, about half the corpus
    * agreeing on each) a pair-keyed dedup would instead shuffle ~nBands/2
    * copies of queries × corpus. */
  def firstAgreeing(s1: Column, s2: Column, nBands: Int, width: Int): Column =
    array_position(array(packed(s1.bitwiseXOR(s2), nBands, width).map(_ === 0): _*),
      lit(true)) - 1

  /** Emit-once test for `array<long>` band signatures: the 0-based
    * index of the first position where the two arrays agree. */
  def firstAgreeing(s1: Column, s2: Column): Column =
    array_position(zip_with(s1, s2, (a, b) => a === b), lit(true)) - 1
}
