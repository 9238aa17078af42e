package graft.text

import graft.util.Blocking
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document deduplication for training-data pipelines: exact (hash),
  * n-gram Jaccard, MinHash+LSH, SimHash.
  *
  * Scale design:
  *  - Exact: groupBy on a 128-bit content hash — one shuffle keyed by
  *    hash, no text comparison. At 100 TB this is the cheapest pass and
  *    always runs first.
  *  - Jaccard: exact set similarity via shingle-join; candidate pairs
  *    bounded by shingle co-occurrence (document-frequency cap guards
  *    against degenerate shingles at scale).
  *  - MinHash+LSH: fixed-size signature per doc (computed row-local, no
  *    shuffle), banded so only same-bucket docs pair up — the standard
  *    sub-quadratic near-dup path (cf. Broder; Spark ML's MinHashLSH
  *    implements the same scheme).
  *  - SimHash: 64-bit weighted-token fingerprint; near-dups = hamming
  *    distance ≤ k found by (k+1)-chunk blocking (pigeonhole: any pair
  *    within hamming k agrees on ≥1 chunk).
  *
  * Banding and pair orientation come from [[graft.util.Blocking]].
  */
object TextDedup {

  /** Exact-dup groups by content fingerprint: one row per distinct
    * content, keeper = min id (first-wins), n = group size. */
  def exactGroups(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame =
    docs.groupBy(TextFunctions.fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Exact dedup: keep the min-id document per fingerprint (ids must
    * be unique, as in every caller).
    *
    * Skew-immune by construction: partial aggregation collapses a hot
    * fingerprint (one doc copied into 20% of the corpus) to one row PER
    * INPUT PARTITION before the shuffle, and the keep-set joins back
    * left-semi on the UNIQUE id, a uniformly-distributed key. A window
    * partitioned by fingerprint would instead land every copy, full
    * text riding, in one task no AQE rule can split; graft.SkewProbe
    * times the two shapes on a 20%-hot-fingerprint corpus. */
  def exactDedup(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    val keep = docs
      .groupBy(TextFunctions.fingerprint(col(textCol)).as("__fp"))
      .agg(min(col(idCol)).as("__keep_id"))
      .select(col("__keep_id"))
    docs.join(keep, col(idCol) === col("__keep_id"), "left_semi")
  }

  /** Distinct k-shingles per document: (id, shingle). The exploded form
    * all set-similarity passes share. */
  def shingleRows(docs: DataFrame, k: Int, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("id"),
      explode(TextFunctions.shingles(col(textCol), k)).as("s"))

  /** Hashed shingle rows: (id, s: long) via [[ShingleHashesExpr]] — the
    * scale path (no shingle strings ever materialized). Set-identical
    * to [[shingleRows]] modulo 64-bit collisions; dd07 oracle-verifies
    * the equivalence on the corpus. */
  def hashedShingleRows(docs: DataFrame, k: Int, idCol: String,
                        textCol: String): DataFrame =
    docs.select(col(idCol).as("id"),
      explode(ShingleHashesExpr.shingleHashes(
        TextFunctions.tokens(col(textCol)), k)).as("s"))

  /** Exact n-gram Jaccard pairs ≥ threshold. `maxShingleDf` drops
    * shingles appearing in more than that many documents before pair
    * generation (guards the quadratic blowup on degenerate content);
    * intersection counts then come from the SURVIVING shingles only, so
    * the Jaccard here is over the df-filtered shingle space — callers
    * wanting fully-exact similarity pass maxShingleDf = Int.MaxValue.
    * `hashedShingles = true` runs the same algebra over 64-bit shingle
    * hashes instead of strings — the form a 100 TB run uses (narrower
    * shuffle keys, no string allocation). */
  def jaccardPairs(docs: DataFrame, k: Int, threshold: Double,
                   maxShingleDf: Int = Int.MaxValue,
                   idCol: String = "doc_id", textCol: String = "text",
                   hashedShingles: Boolean = false): DataFrame = {
    // exploded shingles feed sizes + both join sides — materialize once
    val sh = (if (hashedShingles) hashedShingleRows(docs, k, idCol, textCol)
              else shingleRows(docs, k, idCol, textCol))
      .transform(org.apache.spark.sql.graftbridge.GraftSqlBridge.sharedInPlan)
    val kept =
      if (maxShingleDf == Int.MaxValue) sh
      else {
        val dfCounts = sh.groupBy("s").agg(count(lit(1)).as("df"))
          .filter(col("df") <= maxShingleDf)
        sh.join(dfCounts.select("s"), Seq("s"))
      }
    val sizes = kept.groupBy("id").agg(count(lit(1)).as("n"))
    val inter = Blocking.selfPairs(kept, Seq("s"))
      .groupBy("id1", "id2").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("id").as("id1"), col("n").as("n1")), Seq("id1"))
      .join(sizes.select(col("id").as("id2"), col("n").as("n2")), Seq("id2"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n1") + col("n2") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("id1", "id2", "jaccard")
  }

  /** EXACT token-set Jaccard pairs ≥ num/den via PREFIX FILTERING
    * (Chaudhuri/Ganti/Kaushik "A Primitive Operator for Similarity
    * Joins", ICDE'06; Xiao et al. PPJoin) — the sub-quadratic path to
    * EXACT set-similarity, vs [[jaccardPairs]]'s any-shared-element
    * candidate join and MinHash's approximate one.
    *
    * Principle: order the token universe by (document frequency, token)
    * — rarest first — and keep only each set's first
    * n − ⌈τ·n⌉ + 1 tokens as its "prefix". If J(A,B) ≥ τ then
    * |A∩B| ≥ ⌈τ·max(|A|,|B|)⌉, and the MINIMAL common token under the
    * global order must sit inside BOTH prefixes (if it sat outside A's
    * prefix, all common tokens would fit in A's ⌈τ|A|⌉−1-sized suffix —
    * too few). So joining on prefix tokens alone loses nothing, while
    * candidate generation is driven by RARE tokens only: the frequent
    * tokens that make the naive join quadratic never leave the suffix.
    *
    * The threshold is a RATIONAL num/den and the prefix length is
    * computed in integer arithmetic — ⌈(num/den)·n⌉ as
    * (num·n + den − 1) div den — because double rounding
    * (0.8·35 = 28.000000000000004 → ceil 29) would silently shorten a
    * prefix and drop true pairs.
    *
    * Plan shape at 100 TB: tokenize + df-count (one agg), per-doc rank
    * window (partitioned by doc — small partitions), prefix self-join
    * keyed by RARE tokens (bounded fanout by construction), then exact
    * verification joins that touch only candidate×doc-size rows. The
    * final ≥-filter cross-multiplies integers (den·inter ≥ num·union):
    * no float enters the decision.
    *
    * @return (id1, id2, inter, uni, jaccard) with id1 < id2, exact. */
  def prefixJaccardPairs(docs: DataFrame, num: Int, den: Int,
                         idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    require(num > 0 && num <= den, "threshold must be in (0, 1]")
    // distinct tokens per doc; feeds df-count, prefixes, and both
    // verification sides — one materialization. The set size n is the
    // length of the distinct-token array, computed scan-side before the
    // explode, so no window over the exploded stream is needed for it.
    val tok = docs.select(col(idCol).as("id"),
        array_distinct(TextFunctions.tokens(col(textCol))).as("__ts"))
      .select(col("id"), size(col("__ts")).cast("long").as("n"),
        explode(col("__ts")).as("t"))
      .transform(org.apache.spark.sql.graftbridge.GraftSqlBridge.sharedInPlan)
    val dfc = tok.groupBy("t").agg(count(lit(1)).as("df"))
    val ranked = tok.join(dfc, "t")
      .withColumn("r", row_number().over(
        Window.partitionBy("id").orderBy(col("df"), col("t"))))
    // prefix length n − ⌈τn⌉ + 1, integer-exact. The frame is small by
    // construction (prefix tokens only, ≈(1−τ)·|tok| rows); it is
    // persisted because both sides of the self-join read it, and the
    // df-join and rank Window would otherwise run once per side.
    val prefix = ranked.filter(
        col("r") <= col("n") - expr(s"($num * n + ${den - 1}) div $den") + lit(1))
      .select(col("id"), col("t"), col("n"))
      .transform(org.apache.spark.sql.graftbridge.GraftSqlBridge.sharedInPlan)
    // candidates: a shared PREFIX token + the length condition
    // (den·min(n1,n2) ≥ num·max — sizes too far apart can't reach τ)
    val cand = Blocking.selfPairs(prefix, Seq("t"))
      .filter(lit(den) * least(col("n1"), col("n2")) >= lit(num) * greatest(col("n1"), col("n2")))
      .select("id1", "id2", "n1", "n2")
      .dropDuplicates("id1", "id2")
    // exact verification: fan candidates out by id1's tokens, keep the
    // ones id2 also has — |A∩B| — then the integer threshold test
    val inter = cand
      .join(tok.select(col("id").as("id1"), col("t")), Seq("id1"))
      .join(tok.select(col("id").as("id2"), col("t")), Seq("id2", "t"))
      .groupBy("id1", "id2", "n1", "n2").agg(count(lit(1)).as("inter"))
    inter
      .withColumn("uni", col("n1") + col("n2") - col("inter"))
      .filter(lit(den) * col("inter") >= lit(num) * col("uni"))
      .select(col("id1"), col("id2"), col("inter"), col("uni"),
        (col("inter").cast("double") / col("uni")).as("jaccard"))
  }

  /** MinHash signature array per document: tokens → distinct shingle
    * hashes → signature, all row-local compiled passes with no shingle
    * strings ever materialized (see [[ShingleHashesExpr]] and
    * [[MinHashesExpr]] for why these are custom expressions).
    * Returns df(id, sig: array<long>[nHashes]). */
  def withMinHashSig(docs: DataFrame, k: Int, nHashes: Int,
                     idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("id"),
      MinHashesExpr.minhashes(
        ShingleHashesExpr.shingleHashes(TextFunctions.tokens(col(textCol)), k),
        nHashes).as("sig"))

  /** How LSH buckets turn into candidate pairs:
    *  - AllPairs: every pair in the bucket — exhaustive, but O(B²) per
    *    bucket: fine for small corpora / tests, pathological when the
    *    corpus is duplicate-heavy (one bucket of B near-identical docs
    *    → B²/2 pairs).
    *  - Star: each bucket member pairs with the bucket's min id —
    *    O(B) edges that still connect every duplicate cluster
    *    transitively (union-find over star edges = the standard
    *    100 TB dedup shape). */
  sealed trait Pairing
  case object AllPairs extends Pairing
  case object Star extends Pairing

  /** MinHash-LSH candidate pairs: docs sharing at least one band
    * signature, with estimated Jaccard = fraction of equal minhashes.
    * bands × rowsPerBand = nHashes. Signature arrays are re-joined by id
    * AFTER pair dedup so wide rows never travel through the pair
    * shuffle. */
  def minHashCandidates(docs: DataFrame, k: Int = 3, nHashes: Int = 32,
                        bands: Int = 8, minEstJaccard: Double = 0.5,
                        pairing: Pairing = Star,
                        idCol: String = "doc_id", textCol: String = "text",
                        maxShingleDf: Int = Int.MaxValue): DataFrame = {
    require(nHashes % bands == 0)
    // The signature table is referenced three times (banding + both
    // sides of the est-jaccard join); materialize it once — at corpus
    // scale an LSH signature table is a first-class artifact (~256 B/doc),
    // not something to recompute per reference.
    //
    // maxShingleDf < MaxValue switches to STOPWORD-FILTERED signatures:
    // shingles above the document-frequency cap are dropped before the
    // minhash, so estimated similarity lives in the same df-filtered
    // space as [[jaccardPairs]] with the same cap (ubiquitous shingles
    // otherwise dominate the signature and drown the rare ones that
    // actually distinguish near-dups — the shingle analogue of stopword
    // removal). Costs one df aggregation + re-collect shuffle, vs the
    // default's purely row-local build; docs with no surviving shingles
    // drop out entirely (they can share nothing under the cap, and
    // their sentinel signatures would otherwise all collide into one
    // degenerate all-pairs bucket).
    val sigs = (if (maxShingleDf == Int.MaxValue)
      withMinHashSig(docs, k, nHashes, idCol, textCol)
    else {
      val sh = hashedShingleRows(docs, k, idCol, textCol)
      val rare = sh.groupBy("s").agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxShingleDf).select("s")
      sh.join(rare, Seq("s"))
        .groupBy("id").agg(collect_list(col("s")).as("hs"))
        .select(col("id"), MinHashesExpr.minhashes(col("hs"), nHashes).as("sig"))
    }).transform(org.apache.spark.sql.graftbridge.GraftSqlBridge.sharedInPlan)
    val banded = minHashBands(sigs, nHashes, bands)
    val rawPairs = pairing match {
      case AllPairs => Blocking.selfPairs(banded, Seq("band_id", "band_val"))
      case Star => starPairs(banded)
    }
    estimated(rawPairs.select("id1", "id2").dropDuplicates("id1", "id2"),
      sigs, sigs, nHashes, minEstJaccard, rounded = false)
  }

  /** [[Star]] pairing of (id, band_id, band_val) rows: each bucket
    * member pairs with the bucket's min id, as (id1, id2).
    *
    * Skew-immune: a duplicate-heavy corpus puts one hot bucket in every
    * band (B near-identical docs agree on all of them). groupBy(min)
    * collapses it map-side per input partition, and the join back is a
    * plain shuffled equi-join AQE's skew rule can split; a min window
    * over the bucket would sort all B rows in one task. */
  private[graft] def starPairs(banded: DataFrame): DataFrame = {
    val mins = banded.groupBy("band_id", "band_val").agg(min(col("id")).as("id1"))
    banded.join(mins, Seq("band_id", "band_val"))
      .filter(col("id") =!= col("id1"))
      .select(col("id1"), col("id").as("id2"))
  }

  /** (id, band_id, band_val): the band values of [[minHashCandidates]]
    * — band b is xxhash64 of b and minhashes [b·r, (b+1)·r),
    * r = nHashes / bands. */
  private[graft] def minHashBands(sigs: DataFrame, nHashes: Int, bands: Int): DataFrame =
    bandsOf(sigs, nHashes, bands)((b, hs) => xxhash64(lit(b) +: hs: _*))

  /** (id, band_id, band_val) for `sig` cut into `bands` runs of
    * nHashes / bands minhashes, each run reduced to one value by
    * `digest(band_id, run)`. */
  private def bandsOf(sigs: DataFrame, nHashes: Int, bands: Int)(
      digest: (Int, Seq[Column]) => Column): DataFrame = {
    val r = nHashes / bands
    Blocking.bands(sigs, Seq("id"), (0 until bands).map(b =>
      digest(b, (0 until r).map(i => element_at(col("sig"), b * r + i + 1)))))
  }

  /** Joins both signatures back onto the (id1, id2) `pairs` by id —
    * after pair dedup, so wide rows never ride the pair shuffle — and
    * keeps pairs whose estimated Jaccard (the fraction of equal
    * minhashes, rounded to 6 places when `rounded`) is ≥ `minEst`. */
  private def estimated(pairs: DataFrame, left: DataFrame, right: DataFrame,
                        nHashes: Int, minEst: Double, rounded: Boolean): DataFrame = {
    val est = aggregate(zip_with(col("sig1"), col("sig2"),
      (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, e) => acc + e).cast("double") / nHashes
    pairs
      .join(left.select(col("id").as("id1"), col("sig").as("sig1")), Seq("id1"))
      .join(right.select(col("id").as("id2"), col("sig").as("sig2")), Seq("id2"))
      .withColumn("est_jaccard", if (rounded) round(est, 6) else est)
      .filter(col("est_jaccard") >= minEst)
      .select("id1", "id2", "est_jaccard")
  }

  /** (id, sig) portable md5-permutation signatures — shared by the
    * self-join and cross-corpus portable candidate generators. */
  private def portableSigs(docs: DataFrame, k: Int, nHashes: Int,
                           idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("id"), TextFunctions.shingles(col(textCol), k).as("__sh"))
      .filter(size(col("__sh")) > 0)
      .select(col("id"), array((0 until nHashes).map(i =>
        array_min(transform(col("__sh"), s =>
          portableTokenHash(concat(lit(s"$i:"), s))))): _*).as("sig"))
      .transform(org.apache.spark.sql.graftbridge.GraftSqlBridge.sharedInPlan)

  /** (id, band_id, band_val): md5 over the comma-joined minhashes of
    * each band of [[portableSigs]] output. */
  private def portableBands(sigs: DataFrame, nHashes: Int, bands: Int): DataFrame =
    bandsOf(sigs, nHashes, bands)((_, hs) =>
      md5(concat_ws(",", hs.map(_.cast("string")): _*)))

  /** PORTABLE MinHash+LSH candidates — the value-exact, SQL-replayable
    * sibling of [[minHashCandidates]] (the dd09 move applied to
    * MinHash): permutations are md5-derived (hash_i(s) = 60-bit md5
    * prefix of "i:shingle"), shingles stay strings, and band signatures
    * are md5 over the comma-joined minhash values — so another engine
    * replays the ENTIRE pipeline (signatures, banding, bucket pairing,
    * estimated Jaccard) and must value-match every output row. Any
    * drift in shingling, permutation hashing, banding, or the
    * est-Jaccard algebra is a hash mismatch, not a silent recall shift.
    *
    * Production dedup keeps [[minHashCandidates]] (xxhash64 permutations
    * over 64-bit shingle hashes, all compiled row-local — no shingle
    * strings); this variant is the cross-engine verification harness,
    * same algebra at ~md5 cost. AllPairs pairing: exhaustive within
    * buckets, the form an oracle replays directly. */
  def portableMinHashCandidates(docs: DataFrame, k: Int = 2, nHashes: Int = 16,
                                bands: Int = 4, minEstJaccard: Double = 0.5,
                                idCol: String = "doc_id",
                                textCol: String = "text"): DataFrame = {
    require(nHashes % bands == 0)
    val sigs = portableSigs(docs, k, nHashes, idCol, textCol)
    val pairs = Blocking.selfPairs(portableBands(sigs, nHashes, bands),
        Seq("band_id", "band_val"))
      .select("id1", "id2").dropDuplicates("id1", "id2")
    estimated(pairs, sigs, sigs, nHashes, minEstJaccard, rounded = true)
  }

  /** CROSS-corpus portable MinHash candidates: left (corpus) × right
    * (benchmark) pairs sharing a band — the FUZZY decontamination
    * primitive (catches paraphrased/perturbed eval contamination that
    * exact-gram dc01/dc02 miss). Generating only CROSS pairs is the
    * scale point: bucket fan-out is corpus_bucket × bench_bucket with
    * the benchmark side small, so duplicate-heavy corpus buckets never
    * pair among THEMSELVES (the Θ(cluster²) trap of a tagged-union
    * self-join). Same md5 recipe as [[portableMinHashCandidates]] —
    * every stage SQL-replayable. */
  def portableMinHashCrossCandidates(left: DataFrame, right: DataFrame,
                                     k: Int = 2, nHashes: Int = 16,
                                     bands: Int = 4,
                                     minEstJaccard: Double = 0.5,
                                     idCol: String = "doc_id",
                                     textCol: String = "text"): DataFrame = {
    require(nHashes % bands == 0)
    val ls = portableSigs(left, k, nHashes, idCol, textCol)
    val rs = portableSigs(right, k, nHashes, idCol, textCol)
    def banded(sigs: DataFrame, id: String) = portableBands(sigs, nHashes, bands)
      .select(col("id").as(id), col("band_id"), col("band_val"))
    val pairs = banded(ls, "id1").join(banded(rs, "id2"), Seq("band_id", "band_val"))
      .select("id1", "id2").dropDuplicates("id1", "id2")
    estimated(pairs, ls, rs, nHashes, minEstJaccard, rounded = true)
  }

  /** SEGMENT-level dedup with order-preserving document reassembly —
    * the C4/RefinedWeb move: boilerplate repeats across documents at
    * sub-document granularity (headers, footers, templates), so dedup
    * must drop repeated SEGMENTS corpus-wide and then REBUILD each
    * document from its surviving segments in original order.
    *
    * Segments are non-overlapping `segTokens`-token windows.
    * First-occurrence-wins corpus-wide: one shuffle keyed by segment
    * content, row_number over (doc, idx) — deterministic whatever the
    * partitioning. Reassembly is one groupBy(doc): collect_list of
    * (idx, segment) structs, array_sort, join — order restored without
    * any global sort. Docs whose every segment was claimed elsewhere
    * come back with n_kept = 0 and a NULL rebuilt fingerprint.
    *
    * Output: (doc_id, n_total, n_kept, rebuilt_fp = md5 of the
    * space-joined surviving segments). */
  def segmentDedupRebuild(docs: DataFrame, segTokens: Int,
                          idCol: String = "doc_id",
                          textCol: String = "text"): DataFrame = {
    require(segTokens > 0)
    val segs = segmented(docs, segTokens, idCol, textCol)
    // Skew-immune: min(struct(doc_id, idx)) per segment is the "first
    // by (doc_id, idx)" choice (lexicographic struct ordering) as ONE
    // partial aggregate, so a boilerplate segment in 20% of documents
    // collapses map-side instead of landing in one window task; the
    // kept row comes straight from the aggregate output — no join, no
    // window, no sort. graft.SkewProbe times it against the window.
    val kept = segs.groupBy("s")
      .agg(min(struct(col("doc_id"), col("idx"))).as("__first"))
      .select(col("__first.doc_id").as("doc_id"),
        col("__first.idx").as("idx"), col("s"))
    rebuilt(segs, kept)
  }

  /** BOILERPLATE STRIP — the df-capped sibling of
    * [[segmentDedupRebuild]]: a segment whose DOCUMENT FREQUENCY
    * exceeds `maxDocFreq` is boilerplate (header, footer, license
    * block, template chrome) and is dropped from EVERY document —
    * first-wins dedup keeps one copy of a repeat; boilerplate removal
    * keeps none, because the segment was never content. Same
    * segmentation, reassembly, and output contract; the wide stages
    * are one df-aggregate and one join, both keyed by segment content
    * (exactly the first-wins window's shuffle key, so the scale
    * profile is unchanged). */
  def boilerplateStrip(docs: DataFrame, segTokens: Int, maxDocFreq: Int,
                       idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame =
    boilerplateStripAgainst(docs,
      boilerplateSegments(docs, segTokens, maxDocFreq, idCol, textCol),
      segTokens, idCol, textCol)

  /** The BLOCKLIST half of [[boilerplateStrip]]: segments whose
    * document frequency exceeds `maxDocFreq` (one column `s`).
    * Computed over the batch corpus, it becomes the STATIC side of the
    * streaming strip (`StreamingIngest.boilerplateStripStream`) — the
    * rule derived once from the warehouse applies to the live feed. */
  def boilerplateSegments(docs: DataFrame, segTokens: Int, maxDocFreq: Int,
                          idCol: String = "doc_id",
                          textCol: String = "text"): DataFrame = {
    require(segTokens > 0 && maxDocFreq > 0)
    segmented(docs, segTokens, idCol, textCol)
      .groupBy("s").agg(countDistinct("doc_id").as("__df"))
      .filter(col("__df") > maxDocFreq).select("s")
  }

  /** Strip a document set against a precomputed segment blocklist:
    * row-local segmentation, one anti-join on segment content, rebuild.
    * With the blocklist from [[boilerplateSegments]] over the SAME
    * docs this equals [[boilerplateStrip]] exactly; with a batch-
    * derived blocklist it is the stateless streaming form. */
  def boilerplateStripAgainst(docs: DataFrame, blocklist: DataFrame,
                              segTokens: Int,
                              idCol: String = "doc_id",
                              textCol: String = "text"): DataFrame = {
    require(segTokens > 0)
    val segs = segmented(docs, segTokens, idCol, textCol)
    val kept = segs.join(blocklist.select(col(blocklist.columns.head).as("s")),
      Seq("s"), "left_anti")
    rebuilt(segs, kept)
  }

  /** Non-overlapping `segTokens`-token windows per document:
    * (doc_id, idx, s). Segmentation is row-local — posexplode of the
    * start offsets; no shuffle. */
  private def segmented(docs: DataFrame, segTokens: Int,
                        idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("doc_id"), TextFunctions.tokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) > 0)
      .select(col("doc_id"), col("__toks"),
        posexplode(sequence(lit(0), size(col("__toks")) - 1, lit(segTokens)))
          .as(Seq("idx", "__start")))
      .select(col("doc_id"), col("idx"),
        concat_ws(" ", slice(col("__toks"), col("__start") + 1, lit(segTokens))).as("s"))

  /** Reassemble survivors in original order; (doc_id, n_total, n_kept,
    * rebuilt_fp) with n_kept = 0 / NULL fp for fully-claimed docs. */
  private def rebuilt(segs: DataFrame, kept: DataFrame): DataFrame = {
    val totals = segs.groupBy("doc_id").agg(count(lit(1)).as("n_total"))
    val keptAgg = kept.groupBy("doc_id").agg(
      count(lit(1)).as("n_kept"),
      md5(array_join(
        transform(array_sort(collect_list(struct(col("idx"), col("s")))),
          x => x.getField("s")), " ")).as("rebuilt_fp"))
    totals.join(keptAgg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_total"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"), col("rebuilt_fp"))
  }

  /** Portable 60-bit token hash (md5 prefix) — the same value any
    * engine with md5 computes, so whole-fingerprint results replay
    * cross-engine (dd09/dd10). Top 4 bits zero → no sign issues. */
  def portableTokenHash(w: Column): Column =
    conv(substring(md5(w), 1, 15), 16, 10).cast("long")

  /** 64-bit SimHash per document from whitespace tokens of the
    * NORMALIZED text (case/punct-insensitive, like the fingerprint),
    * weighted by occurrence count. Row-local via [[SimHashExpr]]: the
    * fingerprint is computed inside the scan stage — no token explode,
    * no shuffle; only the 8-byte hash travels downstream.
    *
    * `tokenHash` defaults to xxhash64 (fastest, codegen'd); pass
    * [[portableTokenHash]] when the fingerprint must be replayable by
    * another engine (value-exact oracles, cross-engine audits). */
  def withSimHash(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text",
                  tokenHash: Column => Column = xxhash64(_)): DataFrame =
    docs.select(col(idCol).as("id"),
      SimHashExpr.simhash64(
        transform(TextFunctions.tokens(TextFunctions.normalize(col(textCol))),
          tokenHash)).as("simhash"))

  /** SimHash near-dup pairs with hamming distance ≤ maxHamming, found by
    * (maxHamming+1)-chunk pigeonhole blocking then exact bit_count
    * verification. */
  def simHashPairs(docs: DataFrame, maxHamming: Int = 3,
                   idCol: String = "doc_id", textCol: String = "text",
                   tokenHash: Column => Column = xxhash64(_)): DataFrame = {
    val nChunks = maxHamming + 1
    require(64 % nChunks == 0,
      s"maxHamming+1 must divide 64 (got $nChunks); use 1, 3, 7, 15 or 31 — " +
        "the pigeonhole blocking needs chunks to partition all 64 bits")
    // referenced by both sides of the chunk self-join — materialize once
    val sigs = withSimHash(docs, idCol, textCol, tokenHash)
      .transform(org.apache.spark.sql.graftbridge.GraftSqlBridge.sharedInPlan)
    val chunks = Blocking.packed(col("simhash"), nChunks, 64 / nChunks)
    Blocking.selfPairs(Blocking.bands(sigs, Seq("id", "simhash"), chunks),
        Seq("band_id", "band_val"))
      .dropDuplicates("id1", "id2")
      .withColumn("hamming", bit_count(col("simhash1").bitwiseXOR(col("simhash2"))))
      .filter(col("hamming") <= maxHamming)
      .select("id1", "id2", "hamming")
  }
}
