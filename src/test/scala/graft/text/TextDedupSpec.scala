package graft.text

import graft.{Runner, SparkSpec, Tables}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._

class TextDedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy cat"),   // near-dup of 0
    (2L, "completely different words entirely unrelated text here"),
    (3L, "The quick brown fox jumps over the lazy dog."),  // exact dup of 0 after normalize
    (4L, "the quick brown fox leaps over the lazy dog")    // near-dup of 0
  ).toDF("doc_id", "text")

  test("exact dedup keeps min-id per normalized content") {
    val kept = TextDedup.exactDedup(docs).select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(0L, 1L, 2L, 4L)) // 3 collapses into 0
    val groups = TextDedup.exactGroups(docs)
      .filter(col("n_copies") > 1).select("keep_id", "n_copies")
      .as[(Long, Long)].collect().toSeq
    assert(groups == Seq((0L, 2L)))
  }

  test("exact jaccard finds near-dup pairs above threshold") {
    val pairs = TextDedup.jaccardPairs(docs, k = 3, threshold = 0.3)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)) && pairs.contains((0L, 3L)))
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("prefix-filtered jaccard matches brute force on random token sets") {
    val rnd = new scala.util.Random(23)
    val vocab = (1 to 60).map(i => s"w$i")
    // clustered sets: a base set per cluster plus small mutations →
    // plenty of pairs straddling the 2/3 threshold from both sides
    val bases = (0 until 10).map(_ =>
      rnd.shuffle(vocab).take(8 + rnd.nextInt(8)).toSet)
    val sets = (0 until 40).map { i =>
      val base = bases(i / 4)
      val mutated =
        if (i % 4 == 0) base
        else base -- rnd.shuffle(base.toSeq).take(rnd.nextInt(3)) ++
          rnd.shuffle(vocab).take(rnd.nextInt(3))
      (i.toLong, mutated)
    }
    val df = sets.map { case (id, s) => (id, s.mkString(" ")) }.toDF("doc_id", "text")
    val got = TextDedup.prefixJaccardPairs(df, num = 2, den = 3)
      .select("id1", "id2", "inter", "uni").as[(Long, Long, Long, Long)]
      .collect().toSet
    val brute = (for {
      (i, a) <- sets; (j, b) <- sets if i < j
      inter = (a & b).size; uni = (a | b).size
      if 3 * inter >= 2 * uni
    } yield (i, j, inter.toLong, uni.toLong)).toSet
    assert(got == brute)
    assert(brute.nonEmpty)
  }

  test("prefix length uses integer ceil — no double-rounding pair loss at exact boundaries") {
    // B ⊂ A with |A| = 35, |B| = |A∩B| = 28: J = 28/35 = 0.8 exactly —
    // ON the τ = 4/5 boundary (140 ≥ 140 must keep it). A's 7 private
    // tokens are df-1 (rarest), so the minimal COMMON token ranks 8th
    // in A: exact ⌈4·35/5⌉ = 28 gives prefix length 8 and keeps the
    // pair, while float ceil(0.8*35) = ceil(28.000000000000004) = 29
    // would give 7 and silently lose it.
    val shared = (21 to 48).map(i => s"c$i")                  // c21..c48
    val a = (1 to 7).map(i => s"a$i") ++ shared               // |A| = 35
    val b = shared                                            // |B| = 28
    // distractors raise df of c31..c48 above the rest so B's prefix
    // (length 28−⌈4·28/5⌉+1 = 6) is c21..c26 — containing the minimal
    // common token c21
    val noise = (0 until 6).map(i =>
      (10L + i, (31 to 48).map(j => s"c$j").mkString(" ")))
    val df = (Seq((1L, a.mkString(" ")), (2L, b.mkString(" "))) ++ noise)
      .toDF("doc_id", "text")
    val got = TextDedup.prefixJaccardPairs(df, num = 4, den = 5)
      .filter(col("id1") === 1L && col("id2") === 2L)
      .select("inter", "uni").as[(Long, Long)].collect().toSeq
    assert(got == Seq((28L, 35L)))
  }

  /** WindowExec nodes an executed plan runs: a reused exchange is a
    * leaf, and a cached frame counts once however many scans read it. */
  private def windowEvaluations(plan: SparkPlan): Int = {
    val cached = scala.collection.mutable.Set[AnyRef]()
    def walk(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case s: InMemoryTableScanExec =>
        if (cached.add(s.relation.cacheBuilder)) walk(s.relation.cachedPlan) else 0
      case w: WindowExec => 1 + w.children.map(walk).sum
      case other => other.children.map(walk).sum
    }
    walk(plan)
  }

  test("fz02 evaluates the prefix rank Window once") {
    // both sides of the candidate self-join read the prefix frame (the
    // token df-join plus the per-doc rank Window); it is evaluated once
    Runner.reset(spark)
    val df = graft.queries.PipelineQueries.fz02PrefixJaccard.fn(spark, sfDir)
    df.collect()
    assert(windowEvaluations(df.queryExecution.executedPlan) == 1)
  }

  test("minhash AllPairs candidates ⊇ high-jaccard pairs, est within 0.35 of exact") {
    val exact = TextDedup.jaccardPairs(docs, k = 3, threshold = 0.6)
      .select("id1", "id2", "jaccard").as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    val cand = TextDedup.minHashCandidates(docs, minEstJaccard = 0.4,
      pairing = TextDedup.AllPairs)
      .select("id1", "id2", "est_jaccard").as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    exact.foreach { case (pair, j) =>
      assert(cand.contains(pair), s"minhash missed exact-jaccard pair $pair (j=$j)")
      assert(math.abs(cand(pair) - j) <= 0.35,
        s"est ${cand(pair)} too far from exact $j for $pair")
    }
  }

  test("minhash Star edges connect every AllPairs duplicate cluster") {
    val all = TextDedup.minHashCandidates(docs, minEstJaccard = 0.0,
      pairing = TextDedup.AllPairs)
      .select("id1", "id2").as[(Long, Long)].collect()
    val star = TextDedup.minHashCandidates(docs, minEstJaccard = 0.0,
      pairing = TextDedup.Star)
      .select("id1", "id2").as[(Long, Long)].collect()
    // union-find over star edges must reach the same components
    def components(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) => parent(find(a)) = find(b) }
      parent.keys.map(k => k -> find(k)).toMap
    }
    val ca = components(all.toSeq)
    val cs = components(star.toSeq)
    all.foreach { case (a, b) =>
      assert(cs(a) == cs(b), s"star edges split cluster of ($a,$b)")
    }
    assert(star.length <= all.length)
  }

  test("portable minhash: exact dups est 1.0, near-dups high, unrelated absent") {
    // capture-sized banding (2-row bands): P(miss) for these fixed md5
    // permutations is structurally tiny at J≈0.8
    val cand = TextDedup.portableMinHashCandidates(docs, k = 2, nHashes = 16,
      bands = 8, minEstJaccard = 0.0)
      .select("id1", "id2", "est_jaccard").as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    // raw-text shingles: 0 and 3 differ only in case/punct → not exact
    // here, but (0,1)/(0,4) share all-but-two bigrams
    assert(cand((0L, 1L)) >= 0.5, s"near-dup est ${cand.get((0L, 1L))}")
    assert(cand((0L, 4L)) >= 0.5, s"near-dup est ${cand.get((0L, 4L))}")
    assert(!cand.keys.exists(p => p._1 == 2L || p._2 == 2L),
      "unrelated doc 2 should share no band bucket")
    // determinism: md5 permutations have no seed state to drift
    val again = TextDedup.portableMinHashCandidates(docs, k = 2, nHashes = 16,
      bands = 8, minEstJaccard = 0.0)
      .select("id1", "id2", "est_jaccard").as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    assert(cand == again)
  }

  test("simhash: normalized-identical docs have distance 0; unrelated docs don't pair") {
    val pairs = TextDedup.simHashPairs(docs, maxHamming = 7)
      .select("id1", "id2", "hamming").as[(Long, Long, Int)].collect()
      .map { case (a, b, h) => (a, b) -> h }.toMap
    assert(pairs((0L, 3L)) == 0) // same token multiset after normalization
    assert(!pairs.keys.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("simhash pigeonhole blocking is COMPLETE: equals brute-force all-pairs") {
    // the structural guarantee the 100 TB path rests on: any pair with
    // hamming <= k shares at least one of the k+1 bit-chunks, so
    // blocked candidate generation loses nothing vs the quadratic scan.
    // Proven here on real corpus data, not constructed examples.
    val corpus = graft.Tables.documents(spark, sfDir).filter(col("doc_id") % 3 === 0)
    val sigs = TextDedup.withSimHash(corpus)
    val a = sigs.select(col("id").as("id1"), col("simhash").as("sh1"))
    val b = sigs.select(col("id").as("id2"), col("simhash").as("sh2"))
    val brute = a.crossJoin(b).filter(col("id1") < col("id2"))
      .withColumn("hamming", bit_count(col("sh1").bitwiseXOR(col("sh2"))))
      .filter(col("hamming") <= 3)
      .select("id1", "id2", "hamming")
    val blocked = TextDedup.simHashPairs(corpus, maxHamming = 3)
    assert(blocked.exceptAll(brute).count() == 0 &&
      brute.exceptAll(blocked).count() == 0)
  }

  test("simhash blocking requires a chunk count dividing 64") {
    intercept[IllegalArgumentException] {
      TextDedup.simHashPairs(docs, maxHamming = 16).collect()
    }
  }

  test("demoted dd04 shape: production MinHash+LSH candidates on the documents table") {
    // The former registered query dd04_minhash_candidates (rows-only —
    // xxhash64 permutations aren't SQL-portable) lives here since r10:
    // dd08 oracle-bounds the same code at capture params and dd11 is
    // the value-exact portable twin; this pin keeps the PRODUCTION
    // parameterization (32 hashes, 8 bands, est >= 0.5, Star pairing)
    // running against the real table.
    val cand = TextDedup.minHashCandidates(Tables.documents(spark, sfDir))
      .orderBy("id1", "id2").collect()
    assert(cand.forall(r => r.getLong(0) < r.getLong(1)),
      "candidate pairs must be ordered id1 < id2")
    assert(cand.forall { r =>
      val j = r.getDouble(r.fieldIndex("est_jaccard"))
      j >= 0.5 && j <= 1.0
    }, "est_jaccard outside [minEstJaccard, 1]")
  }

  test("demoted dd05 shape: production SimHash pairs on the documents table") {
    // The former registered query dd05_simhash_pairs (rows-only —
    // xxhash64 token hashes) lives here since r10: dd09 replays the
    // full portable fingerprint under the oracle and dd10 the pair
    // join; this pin keeps the production xxhash64 path + pigeonhole
    // blocking running against the real table.
    val pairs = TextDedup.simHashPairs(Tables.documents(spark, sfDir))
      .orderBy("id1", "id2").collect()
    assert(pairs.forall(r => r.getLong(0) < r.getLong(1)),
      "pairs must be ordered id1 < id2")
    assert(pairs.forall(r => r.getAs[Number]("hamming").intValue <= 3),
      "pair beyond maxHamming=3 leaked through blocking+verify")
  }

  test("rolling hash: matches JVM reference implementation") {
    val ref = (s: String) => {
      val norm = s.toLowerCase.replaceAll("[.,!?;:]", "").replaceAll("\\s+", " ").trim
      norm.foldLeft(0L)((acc, c) => (acc * 131L + c.toLong) % 1000000007L)
    }
    val got = docs.select(col("doc_id"), TextFunctions.rollingHash(col("text")).as("h"))
      .as[(Long, Long)].collect().toMap
    val texts = docs.select("doc_id", "text").as[(Long, String)].collect().toMap
    texts.foreach { case (id, t) => assert(got(id) == ref(t), s"doc $id") }
  }

  test("fused quality score equals composed formulation bit-for-bit") {
    val corpus = Tables.documents(spark, sfDir)
      .unionByName(Seq(
        (9001L, "", "xx", "synthetic", 0L),
        (9002L, "  the  ", "xx", "synthetic", 7L),
        (9003L, "the, and. of! the?", "xx", "synthetic", 18L),
        (9004L, "one two three four", "xx", "synthetic", 18L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val mism = corpus.select(
      TextFunctions.qualityScore(col("text")).as("fast"),
      TextFunctions.qualityScoreComposed(col("text")).as("ref"))
      .filter(col("fast") =!= col("ref") ||
        (col("fast").isNull =!= col("ref").isNull))
    assert(mism.count() == 0)
  }

  test("lang-id picks marker-dominant language") {
    val df = Seq(
      (0L, "the cat and the dog is of the house"),
      (1L, "el gato la casa los perros que vive"),
      (2L, "der hund die katze und nicht der vogel")).toDF("doc_id", "text")
    val got = df.select(col("doc_id"), TextFunctions.langId(col("text")).as("l"))
      .as[(Long, String)].collect().toMap
    assert(got == Map(0L -> "en", 1L -> "es", 2L -> "de"))
  }

  test("boilerplate strip drops shared segments from EVERY doc; first-wins keeps one") {
    val docs = Seq(
      (1L, "a b c d e x1 x2 x3 x4 x5"), // shares its first segment with doc 2
      (2L, "a b c d e y1 y2 y3 y4 y5"),
      (3L, "z1 z2 z3")                  // unique single (short) segment
    ).toDF("doc_id", "text")
    val strip = TextDedup.boilerplateStrip(docs, segTokens = 5, maxDocFreq = 1)
      .orderBy("doc_id")
      .select("doc_id", "n_total", "n_kept").as[(Long, Long, Long)].collect().toSeq
    assert(strip == Seq((1L, 2L, 1L), (2L, 2L, 1L), (3L, 1L, 1L)),
      s"shared 'a b c d e' must vanish from both docs: $strip")
    // contrast: first-occurrence-wins dedup KEEPS doc 1's copy
    val dedup = TextDedup.segmentDedupRebuild(docs, segTokens = 5)
      .orderBy("doc_id")
      .select("doc_id", "n_total", "n_kept").as[(Long, Long, Long)].collect().toSeq
    assert(dedup == Seq((1L, 2L, 2L), (2L, 2L, 1L), (3L, 1L, 1L)))
    // a raised df cap keeps everything (shared segment df = 2)
    val lax = TextDedup.boilerplateStrip(docs, segTokens = 5, maxDocFreq = 2)
      .agg(org.apache.spark.sql.functions.sum(col("n_kept"))).head().getLong(0)
    assert(lax == 5L)
  }
}
