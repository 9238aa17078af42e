package graft.text

import graft.{SparkSpec, Tables}
import graft.queries.TextQueries
import org.apache.spark.ShuffleDependency
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The DataFrame merge step the one-job RDD step replaced, kept as the
  * reference it is checked against: row-local pair explode →
  * partial/final aggregate → TakeOrdered(1), collected per step. */
object DataFrameBpe {
  def stepArgmax(v: DataFrame): DataFrame = v
    .select(col("cnt"),
      split(trim(col("enc"), "|"), "\\|\\|").as("syms"))
    .select(col("cnt"), explode(zip_with(
      slice(col("syms"), lit(1), size(col("syms")) - 1),
      slice(col("syms"), lit(2), size(col("syms")) - 1),
      (x, y) => struct(x.as("a"), y.as("b")))).as("p"))
    .groupBy(col("p.a").as("a"), col("p.b").as("b"))
    .agg(sum(col("cnt")).as("n"))
    .orderBy(col("n").desc, col("a"), col("b")).limit(1)

  /** The merge table (step, a, b, merged, n) of `nMerges` steps. */
  def merges(docs: DataFrame, nMerges: Int): Seq[(Long, String, String, String, Long)] = {
    var v = BpeTrain.vocab(docs, "text")
      .select(col("w"), col("cnt"), BpeTrain.encode(col("w")).as("enc"))
    val found = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, String, Long)]
    var exhausted = false
    for (step <- 1 to nMerges if !exhausted) {
      stepArgmax(v).collect().headOption match {
        case None => exhausted = true
        case Some(r) =>
          val (a, b) = (r.getString(0), r.getString(1))
          found += ((step.toLong, a, b, a + b, r.getLong(2)))
          v = v.select(col("w"), col("cnt"),
            replace(col("enc"), lit(s"|$a||$b|"), lit(s"|$a$b|")).as("enc"))
      }
    }
    found.toSeq
  }
}

class BpeTrainSpec extends SparkSpec {
  import spark.implicits._

  private def merges(df: org.apache.spark.sql.DataFrame, n: Int) =
    BpeTrain.learnMerges(df, "text", n)
      .select("step", "a", "b", "merged", "n")
      .as[(Long, String, String, String, Long)].collect().toSeq

  test("hand-computed merge sequence with frequency weighting") {
    // vocab: abab×2, abc×1 → pair counts (a,b)=2·2+1=5, (b,a)=2, (b,c)=1
    // step1 merges (a,b); then (ab,ab)=2 beats (ab,c)=1; then (ab,c)=1
    val docs = Seq((1L, "abab abc"), (2L, "abab")).toDF("doc_id", "text")
    assert(merges(docs, 3) == Seq(
      (1L, "a", "b", "ab", 5L),
      (2L, "ab", "ab", "abab", 2L),
      (3L, "ab", "c", "abc", 1L)))
  }

  test("consecutive runs fuse pairwise (greedy left-to-right)") {
    // 'aaaa': (a,a) counted 3 times; merging pairs greedily gives
    // (aa)(aa), so step2's top pair is (aa,aa) once — the case the
    // delimited encoding exists for (a space-joined replace would miss
    // the second overlapping occurrence and leave |aa||a||a|).
    val docs = Seq((1L, "aaaa")).toDF("doc_id", "text")
    assert(merges(docs, 2) == Seq(
      (1L, "a", "a", "aa", 3L),
      (2L, "aa", "aa", "aaaa", 1L)))
  }

  test("count ties break lexicographically by (a, b)") {
    val docs = Seq((1L, "ba xc")).toDF("doc_id", "text")
    // pairs (b,a)=1 and (x,c)=1 tie → (b,a) wins lexicographically
    assert(merges(docs, 1).head == (1L, "b", "a", "ba", 1L))
  }

  test("non-[a-z] tokens are excluded from the vocabulary") {
    val v = BpeTrain.vocab(
      Seq((1L, "good G00D 123 ok! fine")).toDF("doc_id", "text"))
      .select("w").as[String].collect().toSet
    assert(v == Set("good", "fine"))   // mixed-case lowered→'g00d' has digits
  }

  test("encoded vocabulary: symbols re-spell each word; merges compress it") {
    val docs = Seq((1L, "abab abc"), (2L, "abab")).toDF("doc_id", "text")
    val v = BpeTrain.learnMergesAndVocab(docs, "text", 2)._2
      .select(col("w"), split(trim(col("enc"), "|"), "\\|\\|").as("syms"))
      .as[(String, Seq[String])].collect().toMap
    // segmentation is lossless: concatenating symbols re-spells the word
    v.foreach { case (w, syms) => assert(syms.mkString == w, s"$w -> $syms") }
    // after (a,b) then (ab,ab): abab -> [abab], abc -> [ab, c]
    assert(v("abab") == Seq("abab") && v("abc") == Seq("ab", "c"))
  }

  test("encode accounting: words <= bpe tokens <= chars, exact on a toy corpus") {
    // the bt02 shape driver-side: per-doc (n_words, n_bpe, n_chars)
    val docs = Seq((0L, "abab abc zz"), (5L, "abc abc")).toDF("doc_id", "text")
    val encV = BpeTrain.learnMergesAndVocab(docs, "text", 2)._2
      .select(col("w"),
        size(split(trim(col("enc"), "|"), "\\|\\|")).cast("long").as("n_sym"))
    val got = docs.select(col("doc_id"),
        explode(TextFunctions.tokens(lower(col("text")))).as("w"))
      .filter(col("w").rlike("^[a-z]+$"))
      .join(encV, "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum(col("n_sym")).as("n_bpe"),
        sum(length(col("w")).cast("long")).as("n_chars"))
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long)].collect().toSeq
    // merges learned on this corpus: (a,b)x5 then (ab,c)x3 →
    // abab=[ab,ab]=2, abc=[abc]=1, zz=[z,z]=2
    assert(got == Seq((0L, 3L, 5L, 9L), (5L, 2L, 2L, 6L)))
    got.foreach { case (_, w, b, c) => assert(w <= b && b <= c) }
  }

  test("result is invariant to input partitioning") {
    val docs = Seq.tabulate(40)(i =>
      (i.toLong, if (i % 3 == 0) "abab abc" else "cddc dd")).toDF("doc_id", "text")
    val one = merges(docs.coalesce(1), 3)
    val many = merges(docs.repartition(13), 3)
    assert(one == many)
  }

  test("one-job merge steps equal the DataFrame steps: ties, exhaustion, repartition(7)") {
    val fixtures = Seq(
      Seq((1L, "ba xc")) -> 1,                       // a count tie at step 1
      Seq((1L, "abab abc"), (2L, "abab")) -> 3,
      Seq((1L, "ab cd ef"), (2L, "cd ab")) -> 4,     // ties at every step
      Seq((1L, "ab a")) -> 3)                        // runs out of pairs at step 2
    fixtures.foreach { case (rows, n) =>
      val docs = rows.toDF("doc_id", "text")
      assert(merges(docs, n) == DataFrameBpe.merges(docs, n), rows)
    }
    val corpus = Tables.documents(spark, sfDir)
    val want = DataFrameBpe.merges(corpus, 6)
    assert(want.size == 6)
    assert(merges(corpus, 6) == want && merges(corpus.repartition(7), 6) == want)
  }

  test("a merge step is a map-side combined pair count and a top-1 in ONE job") {
    val vocab = Seq(("abab", 2L, "|a||b||a||b|"), ("abc", 1L, "|a||b||c|"), ("ba", 3L, "|b||a|"))
      .toDF("w", "cnt", "enc")
    val v = vocab.queryExecution.toRdd
    // one shuffle in the lineage, combined map-side: no Window, sort or
    // second exchange sits between the vocabulary and the argmax
    def shuffles(rdd: RDD[_]): Seq[ShuffleDependency[_, _, _]] =
      rdd.dependencies.flatMap {
        case d: ShuffleDependency[_, _, _] => d +: shuffles(d.rdd)
        case d => shuffles(d.rdd)
      }
    val deps = shuffles(BpeTrain.pairCounts(v))
    assert(deps.size == 1 && deps.head.mapSideCombine && deps.head.aggregator.isDefined)
    var top: Option[((String, String), Long)] = None
    val jobs = jobsDuring { top = BpeTrain.stepArgmax(v) }
    // a true top-1: one job of two stages, where a global sort would
    // add a sampling job and a range-partition stage
    assert(jobs.size == 1 && jobs.head.stageInfos.size == 2,
      jobs.map(_.stageInfos.map(_.name)))
    // (a,b) = 2·2 + 1 = 5 beats (b,a) = 2 + 3 = 5 on the (a, b) tie-break
    val want = DataFrameBpe.stepArgmax(vocab).collect().head
    assert(top == Some((("a", "b"), 5L)) &&
      top == Some(((want.getString(0), want.getString(1)), want.getLong(2))))
    assert(!vocab.select("cnt", "enc").queryExecution.executedPlan.toString.contains("Window"))
  }

  test("bt01 and bt02 prepare steps run 2 + 1 per step jobs") {
    // the vocabulary aggregation's two shuffle stages, then per step the
    // merge step's job, which also writes the step's vocabulary round
    assert(prepareJobs(TextQueries.bt01BpeTrain) == Seq(8, 8, 8))
    assert(prepareJobs(TextQueries.bt02BpeEncode) == Seq(8, 8, 8))
  }
}
