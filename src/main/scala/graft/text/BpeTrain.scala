package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Distributed BPE merge LEARNING (the training side of x15's
  * merge-applying tokenizer): iteratively find the most frequent
  * adjacent symbol pair across the corpus vocabulary and fuse it.
  *
  * Layout: each word's symbol sequence is one delimited string,
  * `|s1||s2||...|` — every symbol wrapped in `|`. A pair (a,b) then
  * matches the substring `|a||b|` EXACTLY once per adjacency, and
  * greedy left-to-right merge application is a plain `replace`:
  * consecutive runs fuse pairwise (`|a||a||a||a|` → `|aa||aa|`)
  * because each replacement consumes its own delimiters — unlike the
  * classic space-joined encoding, where the shared separator makes
  * `replace` miss every second overlapping occurrence. The alphabet is
  * restricted to `[a-z]+` words so `|` can never collide with a symbol.
  *
  * Scale shape: the corpus collapses to (word, cnt) ONCE (the only
  * scan of the raw text); per merge step there is one pair-count
  * partial/final aggregation over the vocabulary (map-side combined,
  * keys are tiny symbol pairs), one TakeOrdered(1) for the argmax, and
  * one broadcast of the single winning pair back into a row-local
  * `replace`. At 100 TB the text scan dominates and happens once; the
  * iterations touch only the vocabulary, which is orders of magnitude
  * smaller than the corpus (and is persisted per step — see
  * learnMerges). Exact integer counts + a total tie-break make every
  * argmax decision engine-portable: the oracle replays all steps as
  * chained CTEs and value-matches the merge table row-for-row.
  */
object BpeTrain {

  /** Corpus vocabulary: distinct lowercase-alpha words with exact
    * frequencies. Tokenization mirrors TextFunctions.tokens (the
    * x10-pinned `\s+` split of trimmed text). */
  def vocab(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(explode(TextFunctions.tokens(lower(col(textCol)))).as("w"))
      .filter(col("w").rlike("^[a-z]+$"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))

  /** `cat` → `|c||a||t|` (see class doc for why this layout). */
  private def encode(w: org.apache.spark.sql.Column) =
    concat(lit("|"), array_join(
      transform(sequence(lit(1), length(w)), i => w.substr(i, lit(1))), "||"),
      lit("|"))

  /** Learn `nMerges` merges; returns (step, a, b, merged, n) — the
    * merge table a tokenizer would ship, in learned order. */
  def learnMerges(docs: DataFrame, textCol: String, nMerges: Int): DataFrame =
    learnMergesAndVocab(docs, textCol, nMerges)._1

  /** One merge step's argmax over an encoded vocabulary `(w, cnt,
    * enc)`: the 1-row most-frequent adjacent pair, total (n desc, a, b)
    * tie-break. Factored out so the TRAINING-side plan shape stays
    * pinnable: this frame executes as a per-step collect in the
    * prepare step and never appears in bt01/bt02's plan explain —
    * BpeTrainSpec pins its plan here
    * (row-local pair explode → partial-agg → TakeOrdered(1); no
    * Window, no extra shuffle) so a shape regression in the argmax
    * can't hide behind the LocalTableScan. */
  private[graft] def stepArgmax(v: DataFrame): DataFrame = v
    .select(col("cnt"),
      split(trim(col("enc"), "|"), "\\|\\|").as("syms"))
    .select(col("cnt"), explode(zip_with(
      slice(col("syms"), lit(1), size(col("syms")) - 1),
      slice(col("syms"), lit(2), size(col("syms")) - 1),
      (x, y) => struct(x.as("a"), y.as("b")))).as("p"))
    .groupBy(col("p.a").as("a"), col("p.b").as("b"))
    .agg(sum(col("cnt")).as("n"))
    .orderBy(col("n").desc, col("a"), col("b")).limit(1)

  /** Learn merges AND return the post-merge encoded vocabulary
    * `(w, cnt, enc)` — the artifact an ENCODER consumes (bt02): the
    * training rewrite already applies each merge to every vocabulary
    * word, so the final `enc` IS the word's BPE segmentation under the
    * learned table, at zero extra passes. */
  def learnMergesAndVocab(docs: DataFrame, textCol: String,
                          nMerges: Int): (DataFrame, DataFrame) = {
    var v = vocab(docs, textCol)
      .select(col("w"), col("cnt"), encode(col("w")).as("enc"))
    // Driver-paced argmax loop: the winning pair is ONE row per step.
    // Kept lazy, it would be paid for twice over — the 1-row frame
    // would feed a per-step crossJoin(broadcast(best)) AND the
    // returned merge table, two subtrees a BroadcastExchange never
    // ReusedExchange-dedupes, so the whole vocab pair-count
    // aggregation would execute twice per step, behind two scheduler
    // barriers (cache build + broadcast build). Collecting the argmax
    // to the driver (the CC convergence-probe pattern — a 1-row
    // aggregate, legal at any corpus size) makes each step exactly ONE
    // job: the TakeOrdered(1) collect, whose action also materializes
    // that step's vocab cache. The rewrite then inlines the winner as
    // string LITERALS — no per-step BroadcastNestedLoopJoin in the
    // plan, and the merge table is a LocalTableScan of
    // already-computed rows. Merge decisions equal the broadcast
    // form's: same aggregation, same total (n desc, a, b) tie-break.
    val found = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var exhausted = false
    // step k−1's cached vocab is dead once step k's collect completes
    // (only the latest vocab feeds the next rewrite, and only the FINAL
    // one feeds bt02's encoder join) — unpersist it instead of leaving
    // nMerges MEMORY_AND_DISK frames alive until releaseShared().
    // Non-blocking: the drop races nothing, the next
    // step's plan references only the newest cache entry.
    var prevVocab: Option[DataFrame] = None
    (1 to nMerges).foreach { step =>
      if (!exhausted) {
        // persisting the vocab keeps the plan linear in nMerges (each
        // step consumes the previous vocab for pair counting, and the
        // final vocab feeds bt02's encoder join)
        v = org.apache.spark.sql.graftbridge.GraftSqlBridge.sharedInPlan(v)
        val top = stepArgmax(v).collect()
        // this step's collect materialized v's cache; the previous
        // step's cached vocab can no longer be referenced by anything
        prevVocab.foreach(_.unpersist(false))
        prevVocab = Some(v)
        if (top.isEmpty) {
          // no adjacent pair anywhere (all words single-symbol): the
          // old crossJoin-with-empty left an EMPTY vocab and no merge
          // rows from this step on — preserve both
          exhausted = true
          v = v.limit(0)
        } else {
          val (a, b, n) =
            (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
          found += ((step, a, b, n))
          v = v.select(col("w"), col("cnt"),
            replace(col("enc"), lit(s"|$a||$b|"), lit(s"|$a$b|")).as("enc"))
        }
      }
    }
    val spark = docs.sparkSession
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("step", LongType, nullable = false),
      org.apache.spark.sql.types.StructField("a", org.apache.spark.sql.types.StringType, nullable = true),
      org.apache.spark.sql.types.StructField("b", org.apache.spark.sql.types.StringType, nullable = true),
      org.apache.spark.sql.types.StructField("merged", org.apache.spark.sql.types.StringType, nullable = true),
      org.apache.spark.sql.types.StructField("n", LongType, nullable = true)))
    val rows = found.map { case (step, a, b, n) =>
      org.apache.spark.sql.Row(step.toLong, a, b, a + b, n)
    }
    import scala.jdk.CollectionConverters._
    (spark.createDataFrame(rows.toList.asJava, schema).orderBy("step"), v)
  }
}
