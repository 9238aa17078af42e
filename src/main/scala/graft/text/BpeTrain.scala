package graft.text

import graft.util.Rounds
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

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
  * scan of the raw text); each merge step is ONE job over the
  * vocabulary: a map-side combined pair count (keys are tiny symbol
  * pairs) and a `takeOrdered(1)` argmax, whose single winning pair
  * returns as literals into a row-local `replace`. At 100 TB the text
  * scan dominates and happens once; the
  * iterations touch only the vocabulary, which is orders of magnitude
  * smaller than the corpus, and each step's vocabulary is a
  * [[graft.util.Rounds]] round, so the plan never grows with the step
  * count. Exact integer counts + a total tie-break make every
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
  private[text] def encode(w: org.apache.spark.sql.Column) =
    concat(lit("|"), array_join(
      transform(sequence(lit(1), length(w)), i => w.substr(i, lit(1))), "||"),
      lit("|"))

  /** Learn `nMerges` merges; returns (step, a, b, merged, n) — the
    * merge table a tokenizer would ship, in learned order. */
  def learnMerges(docs: DataFrame, textCol: String, nMerges: Int): DataFrame =
    learnMergesAndVocab(docs, textCol, nMerges)._1

  /** One merge step's pair counts over an encoded vocabulary's rows
    * `(w, cnt, enc)`: every adjacent symbol pair with its exact count,
    * summed by `reduceByKey` (map-side combined; `Math.addExact`, so an
    * overflow throws as ANSI `sum` does). Symbols split as
    * `split(trim(enc, '|'), '\\|\\|')` does in SQL. */
  private[graft] def pairCounts(v: RDD[InternalRow]): RDD[((String, String), Long)] =
    v.mapPartitions { it =>
      val bar = UTF8String.fromString("|")
      it.flatMap { r =>
        val syms = r.getUTF8String(2).trim(bar).toString.split("\\|\\|", -1)
        val cnt = r.getLong(1)
        (1 until syms.length).iterator.map(i => ((syms(i - 1), syms(i)), cnt))
      }
    }.reduceByKey(Math.addExact(_: Long, _: Long))

  /** The merge order: count descending, then (a, b). Symbols compare
    * as `String`s, which for the `[a-z]` alphabet is Spark's binary
    * UTF-8 string order, so the oracle's `ORDER BY n DESC, a, b` picks
    * the same pair. */
  private val mergeOrder: Ordering[((String, String), Long)] =
    Ordering.by { case ((a, b), n) => (-n, a, b) }

  /** One merge step's argmax: the most frequent adjacent pair with its
    * count, or None when no word has two symbols. ONE Spark job — the
    * pair-count shuffle stage and a `takeOrdered(1)` result stage. */
  private[graft] def stepArgmax(v: RDD[InternalRow]): Option[((String, String), Long)] =
    pairCounts(v).takeOrdered(1)(mergeOrder).headOption

  /** Learn merges AND return the post-merge encoded vocabulary
    * `(w, cnt, enc)` — the artifact an ENCODER consumes (bt02): the
    * training rewrite already applies each merge to every vocabulary
    * word, so the final `enc` IS the word's BPE segmentation under the
    * learned table, at zero extra passes.
    *
    * Driver-paced argmax loop: the winning pair is one row per step,
    * collected to the driver and inlined into the next rewrite as
    * string LITERALS, so no per-step BroadcastNestedLoopJoin enters the
    * plan and the merge table is a LocalTableScan of already-computed
    * rows. A step is one job, its [[stepArgmax]], which also writes the
    * step's vocabulary round; the first step adds the vocabulary
    * aggregation's shuffle-stage jobs. */
  def learnMergesAndVocab(docs: DataFrame, textCol: String,
                          nMerges: Int): (DataFrame, DataFrame) = {
    require(nMerges >= 1, s"nMerges must be at least 1, got $nMerges")
    val found = scala.collection.mutable.ArrayBuffer.empty[Row]
    val vocabulary = vocab(docs, textCol)
      .select(col("w"), col("cnt"), encode(col("w")).as("enc"))
    val out = Rounds.iterate(vocabulary, nMerges - 1)(stepArgmax) { (_, cur) =>
      // None: no adjacent pair anywhere (all words single-symbol), so
      // no merge rows follow
      cur.probe.map { case ((a, b), n) =>
        found += Row(found.size + 1L, a, b, a + b, n)
        cur.rows.select(col("w"), col("cnt"),
          replace(col("enc"), lit(s"|$a||$b|"), lit(s"|$a$b|")).as("enc"))
      }
    }
    // the last step's rewrite, or an empty vocab once pairs ran out
    val v = out.pending.getOrElse(out.last.rows.limit(0))
    import scala.jdk.CollectionConverters._
    val schema = StructType.fromDDL("step BIGINT NOT NULL, a STRING, b STRING, merged STRING, n BIGINT")
    (docs.sparkSession.createDataFrame(found.toList.asJava, schema).orderBy("step"), v)
  }
}
