package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fuzzy self-join (entity resolution): all pairs within Levenshtein
  * distance 1, found WITHOUT the quadratic all-pairs comparison.
  *
  * Blocking: deletion signatures (FastSS / spell-checker scheme) — each
  * string emits itself plus every single-character deletion; two
  * strings within edit distance 1 (substitute, insert, or delete one
  * char) provably share at least one signature. Candidates come from an
  * equi-join on the signature (shuffle keyed by signature, linear in
  * Σ|s|), then exact levenshtein verifies — so the result equals the
  * exact quadratic join, at sub-quadratic cost. The oracle computes the
  * ground truth the expensive way; matching it proves the blocking
  * lossless.
  */
object FuzzyJoin {

  /** Deletion signatures: the string + each single-char deletion. */
  private def signatures(c: String): org.apache.spark.sql.Column =
    expr(s"array_union(array($c), transform(sequence(1, length($c)), " +
      s"i -> concat(substr($c, 1, i - 1), substr($c, i + 1, length($c)))))")

  /** (id1, id2, dist) for all pairs with levenshtein ≤ 1 (dist 0 = exact
    * duplicates included unless the ids are unique per string). */
  def pairsWithin1(df: DataFrame, idCol: String, strCol: String): DataFrame = {
    val sigs = df.select(col(idCol).as("id"), col(strCol).as("s"),
      explode(signatures(strCol)).as("sig"))
    graft.util.Blocking.selfPairs(sigs, Seq("sig"))
      .select("id1", "id2", "s1", "s2").dropDuplicates("id1", "id2")
      .withColumn("dist", levenshtein(col("s1"), col("s2")).cast("long"))
      .filter(col("dist") <= 1)
      .select("id1", "id2", "dist")
  }
}
