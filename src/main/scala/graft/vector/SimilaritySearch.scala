package graft.vector

import graft.util.Blocking
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Approximate-nearest-neighbor and near-duplicate search over an
  * embedding column.
  *
  * Scale design:
  *  - `bruteForceTopK` is the exactness baseline: queries × corpus is a
  *    broadcast-join (queries side is small by construction); per-pair
  *    cosine reuses precomputed squared norms. At 100 TB corpus this is
  *    one scan of the corpus per query batch — the right brute-force
  *    shape, but the LSH variant is the scale path.
  *  - `lshTopK` buckets both sides by a random-hyperplane signature
  *    prefix: candidate generation is an equi-join on the bucket key
  *    (shuffle/broadcast decided by Catalyst), so cost ~ corpus/2^bits
  *    per query instead of the full corpus. Recall measured in tests.
  *  - `nearDupPairs` restricts to a probe subset (all-pairs at corpus
  *    scale is quadratic; callers shard the probe side or use LSH
  *    blocking via `bandedNearDupPairs`).
  *
  * Banding, band pairing and the emit-once test come from
  * [[graft.util.Blocking]].
  */
object SimilaritySearch {

  /** (id, `<p>_vec`, `<p>_norm`, extra…) — one side of a scored pair. */
  private def side(df: DataFrame, idCol: String, vecCol: String, id: String,
                   p: String, extra: Column*): DataFrame =
    df.select(Seq(col(idCol).as(id), col(vecCol).as(s"${p}_vec"),
      VectorFunctions.normSq(col(vecCol)).as(s"${p}_norm")) ++ extra: _*)

  /** Exact cosine between the `l` and `r` sides built by [[side]]. */
  private def cosine(l: String, r: String): Column =
    VectorFunctions.cosinePrenormed(
      VectorFunctions.dot(col(s"${l}_vec"), col(s"${r}_vec")),
      col(s"${l}_norm"), col(s"${r}_norm"))

  /** Per-query top-k over (query, corpus) pairs, scored by cosine
    * rounded to 6dp, via [[graft.topk.TopKAgg]] (value DESC, tag ASC —
    * the selection and tie-break of `row_number() OVER (PARTITION BY
    * query_id ORDER BY sim_r DESC, neighbor_id) <= k`). The heap
    * combines map-side (partial aggregation) and ships at most k pairs
    * per query per partition, so the shuffle is queries-sized whatever
    * the candidate volume; a rank window would sort the whole scored
    * stream, which spills to disk at sf10. */
  private def heapTopK(pairs: DataFrame, k: Int): DataFrame =
    pairs.withColumn("sim_r", round(cosine("q", "c"), 6))
      .groupBy("query_id")
      .agg(graft.topk.TopKAgg.top_k(col("sim_r"), col("neighbor_id"), k).as("__top"))
      .select(col("query_id"), posexplode(col("__top")).as(Seq("__pos", "__pair")))
      .select(col("query_id"), (col("__pos") + 1).as("rank"),
        col("__pair.tag").as("neighbor_id"), col("__pair.value").as("sim_r"))

  /** Exact top-k neighbors for each query vector (excluding self).
    * Output: (query_id, rank, neighbor_id, sim_r) with sim rounded to
    * 6dp and id tie-breaks — deterministic across engines. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    heapTopK(broadcast(side(queries, idCol, vecCol, "query_id", "q"))
      .join(side(corpus, idCol, vecCol, "neighbor_id", "c"),
        col("query_id") =!= col("neighbor_id")), k)

  /** LSH-bucketed approximate top-k: candidates must share the signature
    * of at least one of `nBands` bit-bands before scoring.
    *
    * Shuffle-free on the corpus side BY CONSTRUCTION: the query side
    * (small per the same contract `bruteForceTopK` relies on) explodes
    * to (band, payload) rows and BROADCASTS; the corpus explodes to its
    * band rows in-stage and hash-joins the broadcast — so candidate
    * generation, the emit-once band filter, scoring, and the partial
    * top-k heap all ride ONE streaming pass over the corpus scan, and
    * the only shuffle anywhere is the queries-sized heap merge. The
    * payloads ride the band rows, so no candidates-sized pair list is
    * ever shuffled to re-join them. Each pair is scored exactly once:
    * only its FIRST agreeing band's copy survives (row-local XOR test),
    * so no pair-keyed dedup shuffle exists either. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nBits: Int = 24, nBands: Int = 6,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    heapTopK(lshCandidates(corpus, queries, nBits, nBands, idCol, vecCol), k)

  /** The candidate-generation half of [[lshTopK]]: band-agreeing
    * (query, corpus) pairs after the emit-once first-agreeing-band
    * filter — exactly the rows [[lshTopK]] scores, one per pair.
    * Exposed (package-private) so audit tooling (graft.SkewProbe) can
    * count the scored work with the library's own kernel. */
  private[graft] def lshCandidates(corpus: DataFrame, queries: DataFrame,
                                   nBits: Int, nBands: Int,
                                   idCol: String = "vec_id",
                                   vecCol: String = "embedding"): DataFrame =
    lshCandidates(corpus, queries, VectorFunctions.hyperplaneSignature(col(vecCol), nBits),
      nBits, nBands, idCol, vecCol)

  /** [[lshCandidates]] over any packed-long signature of `vecCol`. */
  private def lshCandidates(corpus: DataFrame, queries: DataFrame, sig: Column,
                            nBits: Int, nBands: Int,
                            idCol: String, vecCol: String): DataFrame = {
    require(nBits % nBands == 0, "nBits must divide into nBands")
    val width = nBits / nBands
    def banded(df: DataFrame, id: String, p: String, sigName: String): DataFrame =
      Blocking.bands(side(df, idCol, vecCol, id, p, sig.as(sigName)),
        Seq(id, s"${p}_vec", s"${p}_norm", sigName),
        Blocking.packed(col(sigName), nBands, width))
    broadcast(banded(queries, "query_id", "q", "__qsig"))
      .join(banded(corpus, "neighbor_id", "c", "__csig"), Seq("band_id", "band_val"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .filter(Blocking.firstAgreeing(col("__qsig"), col("__csig"),
        nBands, width) === col("band_id"))
  }

  /** Deterministic ±1 hyperplane matrix derived from md5 — the portable
    * analogue of [[HyperplaneSigExpr]]'s SplitMix64 planes: component
    * (j, c) is +1 iff the 60-bit md5 prefix of "j:c" is even. Any
    * md5-capable engine re-derives the identical matrix from the
    * indices alone (no stored state), which is what makes
    * [[portableLshTopK]]'s signatures SQL-replayable. */
  def portablePlanes(nBits: Int, dim: Int): Seq[Seq[Double]] =
    (0 until nBits).map { j =>
      (0 until dim).map { c =>
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(s"$j:$c".getBytes("UTF-8")).map("%02x".format(_)).mkString
        if (java.lang.Long.parseLong(hex.substring(0, 15), 16) % 2 == 0) 1.0
        else -1.0
      }
    }

  /** PORTABLE hyperplane-LSH top-k — the value-exact, SQL-replayable
    * sibling of [[lshTopK]]: signature bit j = (Σ_c emb[c]·plane_j[c] ≥ 0)
    * with LEFT-TO-RIGHT double accumulation (the same determinism
    * contract as [[VectorFunctions.dot]], bit-identical to DuckDB's
    * list_reduce over an index-lambda transform), planes from
    * [[portablePlanes]] (embedded as plan literals here, re-derived
    * via md5 in the oracle). Banding, candidate pairing, and the exact
    * cosine re-rank all replay relationally, so the whole ANN pipeline
    * value-matches row-for-row — converting LSH from rows-only trust
    * to a driver-gated hash match. Production stays [[lshTopK]]
    * (compiled SplitMix64 signatures, no per-bit higher-order eval). */
  def portableLshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                      nBits: Int, nBands: Int, dim: Int,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame = {
    require(nBits < 63)
    val sig = portablePlanes(nBits, dim).zipWithIndex.map { case (p, j) =>
      val proj = aggregate(
        zip_with(col(vecCol), typedLit(p), (x, y) => x.cast(DoubleType) * y),
        lit(0.0), (acc, e) => acc + e)
      when(proj >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    heapTopK(lshCandidates(corpus, queries, sig, nBits, nBands, idCol, vecCol), k)
  }

  /** Exact near-duplicate pairs (cosine ≥ threshold) between a probe
    * subset and the corpus, id1 < id2. */
  def nearDupPairs(corpus: DataFrame, probes: DataFrame, threshold: Double,
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    broadcast(side(probes, idCol, vecCol, "id1", "p"))
      .join(side(corpus, idCol, vecCol, "id2", "c"), col("id1") < col("id2"))
      .withColumn("sim", cosine("p", "c"))
      .filter(col("sim") >= threshold)
      .select(col("id1"), col("id2"), round(col("sim"), 6).as("sim_r"))

  /** SemDeDup-shaped SEMANTIC DEDUPLICATION: connect items whose
    * embedding cosine ≥ threshold, resolve transitive groups with the
    * large-star/small-star contraction, and keep the min-id
    * representative per group. Returns EVERY input id with its
    * representative (`kept_as`) and keep flag — the full mapping a
    * pipeline needs both to filter the corpus and to attribute dropped
    * docs to their surviving near-duplicate.
    *
    * Edge generation here is the exact all-pairs kernel (right for
    * probe subsets and verification); at 100 TB feed the SAME
    * labeling stage from the banded candidates (`lshTopK` /
    * `minHashCandidates` shapes) — the contraction only ever sees
    * (id1, id2) pairs and doesn't care who produced them. */
  def semanticDedup(corpus: DataFrame, threshold: Double,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    dedupFromEdges(corpus, nearDupPairs(corpus, corpus, threshold, idCol, vecCol), idCol)

  /** Choose (bandWidth, nBands) for [[bandedNearDupPairs]] from the
    * similarity of the duplicates the kernel must capture. With
    * per-plane agree probability p = 1 − arccos(s)/π, a width-w band
    * agrees with probability p^w and L bands capture a sim-s pair with
    * probability 1 − (1 − p^w)^L, while an uncorrelated pair (p ≈ ½)
    * becomes a candidate with probability ≈ L·2⁻w. Both rates fall in
    * w and rise in L, so the best plan under a band budget is the
    * LARGEST w whose required L = ⌈ln(1−capture)/ln(1−p^w)⌉ still fits
    * maxBands — giving the smallest false-candidate rate that meets
    * the capture target. `dupSim` is the similarity of the DUPLICATES
    * (the S-curve design point), not the verify threshold: verify can
    * sit lower, the capture guarantee is quoted at dupSim. */
  def bandPlan(dupSim: Double, targetCapture: Double = 1 - 1e-6,
               maxBands: Int = 64): (Int, Int) = {
    require(dupSim > 0 && dupSim < 1 && targetCapture > 0 && targetCapture < 1)
    val p = 1.0 - math.acos(dupSim) / math.Pi
    val lnMiss = math.log1p(-targetCapture)
    def bandsFor(w: Int): Int =
      math.ceil(lnMiss / math.log1p(-math.pow(p, w))).toInt.max(1)
    val w = (1 to 63).takeWhile(w => bandsFor(w) <= maxBands).lastOption
      .getOrElse(sys.error(
        s"no band width reaches capture $targetCapture at sim $dupSim " +
          s"within $maxBands bands — raise maxBands or the design point"))
    (w, bandsFor(w))
  }

  /** BANDED near-duplicate pairs — the documented at-scale substitution
    * for [[nearDupPairs]]'s exact all-pairs kernel: a pair is a
    * candidate only if its two hyperplane signatures agree on at least
    * one of `nBands` width-`bandWidth` bands, then the exact cosine
    * verifies the threshold. The self band-join is an EQUI-join on
    * (band_id, band_val): pairs form only inside band buckets — never
    * corpus², never a nested loop — and each candidate survives exactly
    * once via the row-local first-agreeing-band test the streaming LSH
    * uses (no pair-keyed dedup shuffle).
    *
    * The pruning lives or dies on band WIDTH: an uncorrelated pair
    * (per-plane agree probability ≈ ½) collides on some band with
    * probability ≈ nBands·2^−bandWidth, so the defaults (16 bands of
    * width 16, 256 planes as an `array<long>` of independent per-band
    * signatures, so width is not capped by one packed 64-bit word) admit
    * ~2.4·10⁻⁴ of cross pairs (≈4000× pruning) while capturing a
    * SemDeDup-regime near-copy (sim ≥ 0.99, p ≥ 0.955) with
    * probability 1 − (1 − p¹⁶)¹⁶ ≥ 0.9999 — and an exact positive
    * scaling (sim = 1) with probability 1, every plane sum scaling
    * exactly. For lower design points use [[bandPlan]]: capture at
    * sim 0.9 needs narrower bands (width 10 → 58 bands at 1−10⁻⁶),
    * bought with a weaker 17× prune — and BELOW that (sd01's synthetic
    * 0.25) banding cannot separate barely-correlated pairs from noise
    * at any width, so the exact kernel stays the right tool. That
    * trade is the point of the two kernels being swappable behind the
    * same contraction. */
  def bandedNearDupPairs(corpus: DataFrame, threshold: Double,
                         nBands: Int = 16, bandWidth: Int = 16,
                         idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(nBands >= 1 && bandWidth >= 1 && bandWidth <= 63,
      "need nBands >= 1 and bandWidth in 1..63")
    // NARROW ride through the pair shuffle (SCALE principle 2): the
    // band explode carries only (id, sig-array, band key) — the
    // sig-array because the row-local emit-once test needs both sides'
    // full band vectors — never the embedding itself. Vectors join
    // back BY ID onto the candidate set, which the banding has already
    // cut to ~qualifying + nBands·2^−bandWidth of cross pairs, so the
    // wide rows cross one candidates-sized exchange instead of
    // nBands× corpus-sized ones.
    val rows = Blocking.bands(
      corpus.select(col(idCol).as("id"),
        VectorFunctions.bandSignatures(col(vecCol), nBands, bandWidth).as("__s")),
      Seq("id", "__s"), (1 to nBands).map(element_at(col("__s"), _)))
    Blocking.selfPairs(rows, Seq("band_id", "band_val"))
      .filter(Blocking.firstAgreeing(col("__s1"), col("__s2")) === col("band_id"))
      .select("id1", "id2")
      .join(side(corpus, idCol, vecCol, "id1", "p"), "id1")
      .join(side(corpus, idCol, vecCol, "id2", "c"), "id2")
      .withColumn("sim", cosine("p", "c")).filter(col("sim") >= threshold)
      .select(col("id1"), col("id2"), round(col("sim"), 6).as("sim_r"))
  }

  /** [[semanticDedup]] with the banded edge kernel — same contraction,
    * same output contract, edges from [[bandedNearDupPairs]]. This is
    * the 100 TB path: edge generation is banded-equi-join-bounded
    * (candidate volume ≈ qualifying pairs + nBands·2^−bandWidth of
    * cross pairs) instead of probe×corpus, so the whole dedup (kernel
    * + star contraction) carries no corpus²-shaped stage anywhere. */
  def semanticDedupBanded(corpus: DataFrame, threshold: Double,
                          nBands: Int = 16, bandWidth: Int = 16,
                          idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    dedupFromEdges(corpus,
      bandedNearDupPairs(corpus, threshold, nBands, bandWidth, idCol, vecCol), idCol)

  /** The shared resolution stage: large/small-star contraction over
    * whatever (id1, id2) edge set a kernel produced, min-id
    * representative, full id→representative mapping out. */
  private def dedupFromEdges(corpus: DataFrame, edges: DataFrame,
                             idCol: String): DataFrame =
    graft.graph.ConnectedComponents.runStars(
      corpus.select(col(idCol).as("id")), edges.select("id1", "id2"))
      .select(col("id"), col("cluster_id").as("kept_as"),
        (col("id") === col("cluster_id")).as("is_kept"))
}
