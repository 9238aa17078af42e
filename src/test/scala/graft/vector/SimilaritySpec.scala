package graft.vector

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("codegen dot equals interpreted HOF dot bit-for-bit") {
    val emb = Tables.embeddings(spark, sfDir).limit(50)
    val mism = emb.as("a").join(emb.as("b"), $"a.vec_id" < $"b.vec_id")
      .select(
        VectorFunctions.dot($"a.embedding", $"b.embedding").as("fast"),
        VectorFunctions.dotHof($"a.embedding", $"b.embedding").as("ref"))
      .filter($"fast" =!= $"ref")
    assert(mism.count() == 0)
  }

  test("cosine matches JVM sequential double reference") {
    val emb = Tables.embeddings(spark, sfDir).limit(20).cache()
    val vecs = emb.select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toMap
    val got = emb.as("a").join(emb.as("b"), $"a.vec_id" < $"b.vec_id")
      .select($"a.vec_id", $"b.vec_id",
        VectorFunctions.cosine($"a.embedding", $"b.embedding").as("c"))
      .as[(Long, Long, Double)].collect()
    got.foreach { case (i, j, c) =>
      val (a, b) = (vecs(i), vecs(j))
      var dot = 0.0; var na = 0.0; var nb = 0.0
      a.indices.foreach { k =>
        dot += a(k).toDouble * b(k).toDouble
        na += a(k).toDouble * a(k).toDouble
        nb += b(k).toDouble * b(k).toDouble
      }
      val ref = dot / (math.sqrt(na) * math.sqrt(nb))
      assert(c == ref, s"pair ($i,$j): $c != $ref") // bit-exact, not approx
    }
  }

  test("production-shaped PQ-ADC (m=8, k=64) + exact re-rank reaches recall ≥ 0.9") {
    // the nn11 recipe: finer codebooks, ADC top-20 shortlist, exact
    // full-vector re-rank — this is the pin behind the query's claim
    // that the production parameters recover what nn08's toy params
    // (recall 0.2-0.4) give away
    val rows = graft.queries.VectorQueries.nn11AdcRerank
      .fn(spark, sfDir)
      .select("q_id", "recall").as[(Long, Double)].collect().toSeq
    assert(rows.nonEmpty)
    val avg = rows.map(_._2).sum / rows.size
    assert(avg >= 0.9, s"mean re-ranked recall@5 $avg < 0.9: $rows")
    info(f"ADC+rerank mean recall@5 = $avg%.2f over ${rows.size} queries")
  }

  test("LSH top-k recall ≥ 0.4 vs brute force at k=5") {
    // since r10 this is also the home of the demoted nn02_lsh_topk
    // (production SplitMix64 signatures, default bands): nn05 oracle-
    // bounds the same code at capture params, nn07 is the portable twin
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter($"vec_id" % 100 === 0)
    val exact = SimilaritySearch.bruteForceTopK(emb, queries, 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = SimilaritySearch.lshTopK(emb, queries, 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.4, s"LSH recall $recall too low")
    info(f"LSH recall@5 = $recall%.2f (${(exact & approx).size}/${exact.size})")
  }

  test("portable LSH: planes are deterministic ±1; top-k recall ≥ 0.4 vs brute force") {
    val p1 = SimilaritySearch.portablePlanes(16, 64)
    val p2 = SimilaritySearch.portablePlanes(16, 64)
    assert(p1 == p2 && p1.flatten.forall(v => v == 1.0 || v == -1.0))
    assert(p1.flatten.count(_ == 1.0) > 300 && p1.flatten.count(_ == -1.0) > 300,
      "md5 parity should split components roughly evenly")
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter($"vec_id" % 100 === 0)
    val exact = SimilaritySearch.bruteForceTopK(emb, queries, 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = SimilaritySearch.portableLshTopK(emb, queries, 5,
      nBits = 16, nBands = 4, dim = 64)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.4, s"portable LSH recall $recall too low")
    info(f"portable LSH recall@5 = $recall%.2f")
  }

  test("width-64 bands key on the whole signature: LSH candidates are the equal-signature pairs") {
    // every vector plus an exact x2-scaled twin (id + 10^8): a twin has
    // the same 64-bit signature as its source, unrelated vectors
    // (almost surely) do not. A width-64 mask of 0 would instead make
    // every (query, corpus) pair a candidate.
    val base = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    val corpus = base.unionByName(base.select(($"vec_id" + 100000000L).as("vec_id"),
      transform($"embedding", x => (x * lit(2.0f)).cast("float")).as("embedding")))
    val queries = corpus.filter($"vec_id" % 100 === 0)
    val got = SimilaritySearch.lshCandidates(corpus, queries, nBits = 64, nBands = 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def sigs(df: org.apache.spark.sql.DataFrame, id: String, sig: String) =
      df.select($"vec_id".as(id), VectorFunctions.hyperplaneSignature($"embedding", 64).as(sig))
    val want = sigs(queries, "query_id", "q").join(sigs(corpus, "neighbor_id", "c"),
        $"q" === $"c" && $"query_id" =!= $"neighbor_id")
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(want.size >= queries.count(), s"twins missing from the equal-signature pairs: $want")
    assert(got == want, s"${got.size} candidates, ${want.size} equal-signature pairs")
    intercept[IllegalArgumentException](graft.util.Blocking.packed($"x", 1, 65))
  }

  test("IVF index round-trips through disk; loaded index answers identically") {
    val emb = graft.Tables.embeddings(spark, sfDir)
    val queries = emb.filter(org.apache.spark.sql.functions.col("vec_id") % 100 === 0)
    val idx = IvfIndex.build(emb, nList = 8)
    val dir = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("/root/repo/target"), "ivf").toString
    IvfIndex.save(idx, dir)
    val loaded = IvfIndex.load(spark, dir)
    val a = IvfIndex.topK(idx, queries, 5, nProbe = 3)
    val b = IvfIndex.topK(loaded, queries, 5, nProbe = 3)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
    // deployment shape: cells land as one directory per cell_id, so a
    // probe's scan is partition-pruned to its cells
    val cellDirs = new java.io.File(s"$dir/cells").listFiles()
      .filter(_.getName.startsWith("cell_id=")).map(_.getName).toSet
    assert(cellDirs.size == 8, s"expected 8 cell partitions, got $cellDirs")
  }

  test("IVF top-k recall ≥ 0.5 vs brute force at k=5, nProbe=4/16") {
    // since r10 this is also the home of the demoted nn04_ivf_topk
    // (production nList=16/nProbe=4): nn06 oracle-gates the same build/
    // topK code all-probe, nn10 is the value-exact portable twin
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter($"vec_id" % 100 === 0)
    val exact = SimilaritySearch.bruteForceTopK(emb, queries, 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val idx = IvfIndex.build(emb, nList = 16)
    val approx = IvfIndex.topK(idx, queries, 5, nProbe = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall $recall too low")
    info(f"IVF recall@5 = $recall%.2f")
  }

  test("near-dup pairs are symmetric-free (id1 < id2), above threshold, non-empty") {
    val emb = Tables.embeddings(spark, sfDir)
    val pairs = SimilaritySearch.nearDupPairs(emb, emb, 0.4)
      .select("id1", "id2", "sim_r").as[(Long, Long, Double)].collect()
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b, s) =>
      assert(a < b); assert(s >= 0.4 - 1e-6)
    }
  }

  test("semanticDedup: transitive chains collapse to min-id representative") {
    // 10 at 0°, 20 at ~30°, 30 at ~60°: cos(10,20)≈cos(20,30)≈.87 ≥ .8
    // but cos(10,30)=.5 < .8 — the chain still collapses via 20.
    // 40 points away from all three (cos ≤ 0) and survives alone.
    val emb = Seq(
      (10L, Seq(1f, 0f)),
      (20L, Seq(0.866f, 0.5f)),
      (30L, Seq(0.5f, 0.866f)),
      (40L, Seq(0f, -1f))
    ).toDF("vec_id", "embedding")
    val got = SimilaritySearch.semanticDedup(emb, 0.8)
      .select("id", "kept_as", "is_kept")
      .as[(Long, Long, Boolean)].collect().toSet
    assert(got == Set(
      (10L, 10L, true), (20L, 10L, false), (30L, 10L, false),
      (40L, 40L, true)))
  }

  test("banded edge kernel: semanticDedupBanded == exact kernel on a near-dup corpus, no corpus² stage") {
    // Production-shaped SemDeDup (threshold 0.9): a corpus where every
    // base vector has one slightly-perturbed near-copy (coordinate-
    // dependent ≤4% scaling ⇒ cosine ≈ 0.9999, per-plane agree
    // p ≈ 0.995) and random cross pairs sit at |cos| ~ 1/8. The banded
    // kernel (default 16 independent width-16 bands: capture
    // 1 − (1−p¹⁶)¹⁶ ≈ 1 − 10⁻¹⁵ per near-copy pair, ~2.4·10⁻⁴ cross-
    // pair false-candidate rate, deterministic planes) must reproduce
    // the exact all-pairs kernel's FULL id→representative mapping —
    // the swappability contract sd01's scaladoc documents.
    val base = Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding").limit(120).cache()
    val nBase = base.count()
    val dupes = base.select((col("vec_id") + 100000L).as("vec_id"),
      transform(col("embedding"), (x, i) =>
        (x.cast("double") * (lit(1.0) + pmod(i, lit(3)).cast("double") * lit(0.02)))
          .cast("float")).as("embedding"))
    val corpus = base.unionByName(dupes).cache()
    val exact = SimilaritySearch.semanticDedup(corpus, 0.9)
      .orderBy("id").as[(Long, Long, Boolean)].collect().toSeq
    val banded = SimilaritySearch.semanticDedupBanded(corpus, 0.9)
      .orderBy("id").as[(Long, Long, Boolean)].collect().toSeq
    assert(banded == exact, "banded kernel diverged from the exact kernel")
    // the dedup is real: exactly the base survives (each dup collapses
    // onto its source; random 64-dim cross pairs never reach 0.9)
    assert(banded.count(_._3) == nBase,
      s"expected $nBase kept representatives, got ${banded.count(_._3)}")
    // and the kernel shape is the scale contract: band EQUI-join with
    // the row-local emit-once test — never a nested loop / cartesian
    val plan = SimilaritySearch.bandedNearDupPairs(corpus, 0.9)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"banded kernel planned a corpus²-shaped join:\n$plan")
    assert(plan.contains("array_position"),
      "emit-once first-agreeing-band filter missing from the banded kernel plan")
    // shuffle COUNT pin (r13, the sd02 half of the heavy-family count
    // pins): at most TWO shuffle Exchanges — the band equi-join's two
    // sides at corpus scale; at THIS test's size the small side
    // broadcasts and the count is 0. Either way a third Exchange is
    // the silent-reshuffle regression (lost ReusedExchange, or an
    // embeddings-sized shuffle sneaking into the band join) — the
    // banned-node asserts above pin the SHAPE, this pins the VOLUME.
    assert(graft.Plans.shuffleCount(plan) <= 2,
      s"banded kernel shuffle count ${graft.Plans.shuffleCount(plan)} > 2:\n$plan")
  }

  test("bandPlan picks the widest band that meets the capture target") {
    // sim 0.9 ⇒ p = 1 − arccos(.9)/π ≈ 0.8572: width 10 needs 58 bands
    // for capture 1−10⁻⁶, width 11 would need 69 (> 64) — so the plan
    // is (10, 58), and its quoted guarantees must actually hold.
    val (w, l) = SimilaritySearch.bandPlan(0.9)
    assert((w, l) == (10, 58), s"got ($w, $l)")
    val p = 1.0 - math.acos(0.9) / math.Pi
    val capture = 1.0 - math.pow(1.0 - math.pow(p, w), l)
    assert(capture >= 1 - 1e-6)
    // false-candidate rate ≈ L·2⁻w stays under 6% — real pruning
    assert(l * math.pow(2.0, -w) < 0.06)
    // SemDeDup regime (dup sim ≥ .99) affords much wider bands: the
    // default-shaped plans prune 3 orders of magnitude
    val (w99, l99) = SimilaritySearch.bandPlan(0.99)
    assert(w99 >= 16, s"width $w99 at sim .99")
    assert(l99 * math.pow(2.0, -w99) < 1e-3)
  }

  test("band signature words equal the packed-long slices for nBands*width <= 64") {
    // the wide array<long> formulation must be the SAME plane family:
    // element b of bandSignatures(v, 16, 4) == bits [4b, 4b+4) of
    // hyperplaneSignature(v, 64) — pins that widening the signature
    // didn't re-seed the planes existing oracles depend on
    val got = Tables.embeddings(spark, sfDir).limit(64)
      .select(
        VectorFunctions.bandSignatures(col("embedding"), 16, 4).as("words"),
        VectorFunctions.hyperplaneSignature(col("embedding"), 64).as("packed"))
      .as[(Seq[Long], Long)].collect()
    assert(got.nonEmpty)
    got.foreach { case (words, packed) =>
      val slices = (0 until 16).map(b => (packed >>> (b * 4)) & 0xfL)
      assert(words == slices, s"words $words != slices $slices of $packed")
    }
  }
}
