package graft.queries

import graft.{QueryDef, Tables}
import graft.etl.Packing
import graft.text.{Chunking, TextFunctions}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Training-data assembly operators over the documents table: context-
  * window chunking, token-budget sequence packing, vocabulary
  * extraction. All oracle-checked — chunk CONTENT is verified via md5
  * fingerprints, not just counts. */
object PipelineQueries {

  import TextQueries.sqlTokArr

  /** Overlapping context windows (size 32, overlap 8): per-chunk token
    * count and content fingerprint. DuckDB replays the same start
    * sequence with generate_series and 1-based inclusive list slicing. */
  val ck01DocChunks = QueryDef("ck01_doc_chunks",
    (s, d) => Chunking.chunkTokens(Tables.documents(s, d), chunkSize = 32, overlap = 8)
      .orderBy("doc_id", "chunk_idx"),
    Some(s"""WITH tok AS (SELECT doc_id, $sqlTokArr AS t FROM documents),
            |st AS (SELECT doc_id, t,
            |         unnest(generate_series(0, greatest(len(t) - 8 - 1, 0), 24)) AS start
            |       FROM tok)
            |SELECT doc_id,
            |  CAST(start / 24 AS BIGINT) AS chunk_idx,
            |  CAST(len(t[start + 1 : start + 32]) AS BIGINT) AS n_chunk_tokens,
            |  md5(array_to_string(t[start + 1 : start + 32], ' ')) AS chunk_fp
            |FROM st ORDER BY doc_id, chunk_idx""".stripMargin))

  /** Token-budget sequence packing (budget 256 per pack, packs ordered
    * by doc_id within source): per-pack document and token counts. */
  val pk01SequencePacking = QueryDef("pk01_sequence_packing",
    (s, d) => Packing.packByBudget(
      Tables.documents(s, d)
        .select(col("source"), col("doc_id"),
          TextFunctions.tokenCount(col("text")).cast(LongType).as("n_tokens")),
      partitionCols = Seq("source"), orderCol = "doc_id",
      weight = col("n_tokens"), budget = 256L)
      .groupBy("source", "pack_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("pack_tokens"))
      .orderBy("source", "pack_id"),
    Some(s"""WITH t AS (SELECT source, doc_id, len($sqlTokArr) AS w FROM documents),
            |c AS (SELECT *, COALESCE(SUM(w) OVER (PARTITION BY source ORDER BY doc_id
            |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev FROM t)
            |SELECT source, CAST(prev // 256 AS BIGINT) AS pack_id,
            |  COUNT(*) AS n_docs, CAST(SUM(w) AS BIGINT) AS pack_tokens
            |FROM c GROUP BY 1, 2 ORDER BY source, pack_id""".stripMargin))

  /** Vocabulary extraction: top-50 tokens by global term frequency with
    * document frequency — the tokenizer-vocab shape. Scale: explode is
    * map-side; both counts partial-aggregate before the single shuffle;
    * top-50 is a TakeOrdered, not a full sort. */
  val vc01VocabTopK = QueryDef("vc01_vocab_topk",
    (s, d) => Tables.documents(s, d)
      .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
      .orderBy(col("tf").desc, col("token"))
      .limit(50),
    Some(s"""WITH w AS (SELECT doc_id, unnest($sqlTokArr) AS token FROM documents)
            |SELECT token, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
            |FROM w GROUP BY token ORDER BY tf DESC, token LIMIT 50""".stripMargin))

  /** TF-IDF top terms: for each document in a probe subset, the 3
    * highest-scoring terms (tf · ln(N/df), 6dp-rounded before ranking so
    * both engines break ties identically; token ASC tiebreak). The
    * corpus-wide df table is the only shuffle; the per-doc tf and the
    * scoring join are partial-aggregated/broadcast. */
  val tx01TfIdfTopTerms = QueryDef("tx01_tfidf_topterms",
    (s, d) => {
      val docs = Tables.documents(s, d)
      // corpus size as a LAZY 1-row frame, broadcast-cross-joined in —
      // mirrors the oracle's CROSS JOIN n. No jobs run at plan build;
      // the scalar participates in one plan (AQE/cache friendly).
      val nDocs = docs.agg(count(lit(1)).cast("double").as("n_docs"))
      val words = docs
        .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("token"))
      val df_ = words.groupBy("token")
        .agg(countDistinct(col("doc_id")).as("df"))
      val tf = words.filter(col("doc_id") % 25 === 0)
        .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val scored = tf.join(broadcast(df_), "token")
        .crossJoin(broadcast(nDocs))
        .withColumn("score_r",
          round(col("tf") * log(col("n_docs") / col("df")), 6))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
        .orderBy(col("score_r").desc, col("token"))
      scored.withColumn("rank", row_number().over(w).cast(LongType))
        .filter(col("rank") <= 3)
        .select("doc_id", "rank", "token", "score_r")
        .orderBy("doc_id", "rank")
    },
    Some(s"""WITH w AS (SELECT doc_id, unnest($sqlTokArr) AS token FROM documents),
            |n AS (SELECT COUNT(*) AS n FROM documents),
            |dfreq AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM w GROUP BY token),
            |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM w
            |       WHERE doc_id % 25 = 0 GROUP BY 1, 2),
            |scored AS (SELECT tf.doc_id, tf.token,
            |    round(tf.tf * ln(CAST(n.n AS DOUBLE) / dfreq.df), 6) AS score_r
            |  FROM tf JOIN dfreq ON tf.token = dfreq.token CROSS JOIN n),
            |ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
            |    ORDER BY score_r DESC, token) AS rank FROM scored)
            |SELECT doc_id, rank, token, score_r FROM ranked
            |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin))

  /** Blocked fuzzy self-join on supplier names: every pair within
    * Levenshtein distance 1 via deletion-signature blocking + exact
    * verify. The oracle is the QUADRATIC ground truth (all-pairs theta
    * join) — hash-matching it proves the sub-quadratic blocking
    * lossless. */
  val fz01FuzzyPairs = QueryDef("fz01_fuzzy_pairs",
    (s, d) => graft.text.FuzzyJoin.pairsWithin1(
      Tables.supplier(s, d), "s_suppkey", "s_name")
      .orderBy("id1", "id2"),
    Some("""SELECT a.s_suppkey AS id1, b.s_suppkey AS id2,
           |  CAST(levenshtein(a.s_name, b.s_name) AS BIGINT) AS dist
           |FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
           |WHERE levenshtein(a.s_name, b.s_name) <= 1
           |ORDER BY id1, id2""".stripMargin))

  /** JARO-WINKLER TYPO-PAIR JOIN ([[graft.text.JaroWinklerExpr]] — a
    * native codegen Expression, not a UDF): supplier-name pairs with
    * similarity ≥ 0.985 under TRANSPOSITION-CLOSED blocking. On this
    * length class (18-char names, 4-char prefix boost) the threshold
    * is a crisp semantic boundary: a single-transposition pair scores
    * 0.9889 (jaro (2 + 17/18)/3 boosted), a single substitution 0.978,
    * two transpositions 0.978 — so every qualifying pair is EXACTLY a
    * one-transposition (or identical) pair, the error class
    * Jaro-Winkler was designed for (census name linkage). And
    * transpositions preserve the character multiset, so blocking on
    * the SORTED character string loses no qualifying pair — candidates
    * come from an equi-join on the anagram key (linear shuffle, group
    * sizes bounded by the domain's permutation classes: max 6, avg 4.5
    * at sf0.1 — measured), then the scorer verifies. An equal-length
    * block would not partition it (all names are 18 chars — the block
    * is the whole table, exponent 2.00 measured at sf1); this key
    * does. The oracle is the QUADRATIC
    * ground truth (no blocking) with DuckDB's independent
    * `jaro_winkler_similarity`, so a hash match proves the blocking
    * lossless AND cross-validates the whole scorer (window, half-
    * transpositions, prefix boost, 0.7 gate) at 6 dp.
    *
    * 100 TB: the anagram key shuffles each row once; candidate pairs
    * are Θ(Σ block²) with data-bounded blocks, never all-pairs. For
    * domains where inserts/deletes also clear τ, union in the fz01
    * deletion-signature block — same verify stage. */
  val fz03JaroTypos = QueryDef("fz03_jaro_typos",
    (s, d) => {
      val names = Tables.supplier(s, d).select(col("s_suppkey").as("id"),
        col("s_name").as("n"), array_join(array_sort(split(col("s_name"), "")), "").as("blk"))
      graft.util.Blocking.selfPairs(names, Seq("blk"))
        .withColumn("sim",
          round(graft.text.JaroWinklerExpr.jaroWinkler(col("n1"), col("n2")), 6))
        .filter(col("sim") >= 0.985)
        .select(col("id1"), col("id2"), col("sim"))
        .orderBy("id1", "id2")
    },
    Some("""SELECT a.s_suppkey AS id1, b.s_suppkey AS id2,
           |  ROUND(jaro_winkler_similarity(a.s_name, b.s_name), 6) AS sim
           |FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
           |WHERE ROUND(jaro_winkler_similarity(a.s_name, b.s_name), 6) >= 0.985
           |ORDER BY id1, id2""".stripMargin))

  /** DATA-QUALITY EXPECTATION SUITE (the Deequ/Great-Expectations
    * shape): N declared constraints verified in ONE scan — every
    * row-level expectation is a conditional counter in a single
    * aggregate (no per-check pass over the data), then `stack`
    * unpivots the counter row into one result row per expectation.
    * Referential expectations (ship-after-order, FK resolution) add
    * their joins as separate branches unioned in. At 100 TB the
    * row-level block is why this is cheap: 4 checks cost exactly one
    * table scan, and adding a 5th is free. */
  val qc01Expectations = QueryDef("qc01_expectations",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      val ord = Tables.orders(s, d)
      val rowLevel = li.agg(
        sum(when(col("l_quantity").isNull, 1L).otherwise(0L)).as("v1"),
        sum(when(col("l_quantity") <= 0, 1L).otherwise(0L)).as("v2"),
        sum(when(col("l_discount") < 0 || col("l_discount") > 1, 1L)
          .otherwise(0L)).as("v3"),
        sum(when(col("l_extendedprice") <= 0, 1L).otherwise(0L)).as("v4"))
        .selectExpr("""stack(4,
          'lineitem_quantity_not_null', v1,
          'lineitem_quantity_positive', v2,
          'lineitem_discount_unit_range', v3,
          'lineitem_price_positive', v4) as (expectation, n_violations)""")
      val shipLate = li
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .agg(sum(when(col("l_shipdate") < col("o_orderdate"), 1L)
          .otherwise(0L)).as("n"))
        .select(lit("lineitem_ship_after_order").as("expectation"),
          col("n").as("n_violations"))
      val orphans = li
        .join(ord, col("l_orderkey") === col("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("n"))
        .select(lit("lineitem_orderkey_resolves").as("expectation"),
          col("n").as("n_violations"))
      rowLevel.unionByName(shipLate).unionByName(orphans)
        .withColumn("pass", col("n_violations") === 0L)
        .orderBy("expectation")
    },
    Some("""WITH r AS (SELECT
           |    SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS v1,
           |    SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS v2,
           |    SUM(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END) AS v3,
           |    SUM(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END) AS v4
           |  FROM lineitem),
           |u AS (
           |  SELECT 'lineitem_quantity_not_null' AS expectation,
           |         CAST(v1 AS BIGINT) AS n_violations FROM r
           |  UNION ALL SELECT 'lineitem_quantity_positive', CAST(v2 AS BIGINT) FROM r
           |  UNION ALL SELECT 'lineitem_discount_unit_range', CAST(v3 AS BIGINT) FROM r
           |  UNION ALL SELECT 'lineitem_price_positive', CAST(v4 AS BIGINT) FROM r
           |  UNION ALL SELECT 'lineitem_ship_after_order',
           |    CAST((SELECT SUM(CASE WHEN l_shipdate < o_orderdate THEN 1 ELSE 0 END)
           |          FROM lineitem JOIN orders ON l_orderkey = o_orderkey) AS BIGINT)
           |  UNION ALL SELECT 'lineitem_orderkey_resolves',
           |    CAST((SELECT COUNT(*) FROM lineitem WHERE l_orderkey NOT IN
           |          (SELECT o_orderkey FROM orders)) AS BIGINT))
           |SELECT expectation, n_violations, n_violations = 0 AS pass
           |FROM u ORDER BY expectation""".stripMargin))

  /** PREFIX-FILTERED exact token-set Jaccard join at τ = 4/5: the
    * sub-quadratic path to EXACT set similarity
    * ([[graft.text.TextDedup.prefixJaccardPairs]] — candidates only
    * from rare-token prefixes of length n − ⌈τn⌉ + 1, then integer
    * cross-multiplied verification). The oracle is again the QUADRATIC
    * ground truth — a plain any-shared-token join with the same
    * integer threshold — so a hash match proves the prefix filter
    * loses no pair, which is its entire correctness claim.
    *
    * Runs on the doc_id%5 probe subset (the dd06 convention): this
    * corpus is engineered near-dup-HEAVY (at sf0.1, 2.97M of 12.5M
    * doc pairs exceed τ — measured), and an ALL-PAIRS similarity join
    * is output-bound by Θ(Σ cluster²) no matter the algorithm. The
    * 100 TB posture: the exact join is a probe/shard tool; corpus-wide
    * dedup goes through star contraction (dd06/sd01), which is linear
    * in cluster size. */
  val fz02PrefixJaccard = QueryDef("fz02_prefix_jaccard",
    (s, d) => graft.text.TextDedup.prefixJaccardPairs(TextQueries.probeDocs(s, d),
      num = 4, den = 5)
      .orderBy("id1", "id2"),
    Some(s"""WITH ${TextQueries.sqlTokenJaccard}
           |SELECT id1, id2, inter, uni, CAST(inter AS DOUBLE) / uni AS jaccard
           |FROM e ORDER BY id1, id2""".stripMargin))

  /** Misra-Gries frequent tokens per language. k=4096 exceeds the
    * per-lang vocabulary with wide margin, so the summary runs in its
    * exact-recovery regime (zero decrements) and equals a plain GROUP
    * BY — which is what makes a sketch aggregate hash-checkable
    * against SQL. k sizing is MEASURED, not hoped: the generator's
    * token pool is bounded by construction at 31 types/lang at every
    * driver SF (sf0.001/0.01/0.1 — vc01 computes it), and the ScaleUp
    * replica tags add ~31×(factor−1) types, so factor-10 sf1 runs at
    * ~310/lang and even factor-100 stays under k (a k sized to the
    * base corpus alone would trip the fail-fast below at sf1). MG state is ≤ min(vocab, k) entries per partition per
    * group — k is a cap, not a cost, so the margin is free. The
    * sketch regime (decrements, error bounds, merge invariance) is
    * covered by FreqItemsSpec on engineered skew. */
  val fq01FreqTokens = QueryDef("fq01_freq_tokens",
    (s, d) => {
      import graft.topk.FreqItemsAgg
      Tables.documents(s, d)
        .select(col("lang"), explode(TextFunctions.tokens(col("text"))).as("token"))
        .groupBy("lang")
        .agg(FreqItemsAgg.freq_items(col("token"), 4096).as("fi"))
        .select(col("lang"), col("fi.max_undercount").as("undercount"),
          explode(col("fi.items")).as("x"))
        // fail-fast invariant: the oracle equality is only sound in the
        // exact-recovery regime (zero decrements). If a corpus change
        // pushes any lang's vocabulary past k=4096, this raises a clear
        // error instead of a nondeterministic hash mismatch.
        // (assert_true returns NULL when the predicate holds, so the
        // filter keeps every row and cannot be constant-folded away.)
        .filter(assert_true(col("undercount") === lit(0L),
          lit("fq01: vocabulary exceeded k=4096 — Misra-Gries left its " +
            "exact-recovery regime; oracle equality no longer holds")).isNull)
        .select(col("lang"), col("x.item").as("token"),
          col("x.min_count").as("cnt"), col("undercount"))
        .orderBy("lang", "token")
    },
    Some(s"""WITH w AS (SELECT lang, unnest($sqlTokArr) AS token FROM documents)
            |SELECT lang, token, COUNT(*) AS cnt, CAST(0 AS BIGINT) AS undercount
            |FROM w GROUP BY lang, token ORDER BY lang, token""".stripMargin))

  /** TOKEN CO-OCCURRENCE PMI (integer-quantized): which token pairs
    * appear in the same document far more often than independence
    * predicts — the collocation/phrase-induction signal. PMI's
    * log(p(a,b)/(p(a)p(b))) is rank-equivalent to the ratio itself, so
    * the score is the INTEGER ((c_ab·10⁶ div c_a) · N) div c_b with
    * that exact operation order mirrored in the oracle: every
    * intermediate is ≤ 10⁶·N, overflow-safe at ANY corpus size (the
    * naive c_ab·N·10⁶ overflows at ~10⁹ docs), and there is not one
    * float in the ranking. Fan-out control: only tokens with df ≥ 20
    * pair up (the dd03-style frequency floor), pairs need support ≥ 5.
    * Scale: distinct (doc, token) shuffles by doc for the pairing
    * self-join, pair counts partial-aggregate on (a, b); the df floor
    * bounds per-doc pair fan-out structurally. */
  val co01TokenPmi = QueryDef("co01_token_pmi",
    (s, d) => {
      // distinct (doc, token) pairs computed SCAN-SIDE: doc_ids are
      // unique, so per-doc array_distinct before the explode IS the
      // distinct — a .distinct() would shuffle the full exploded token
      // stream just to dedupe within each document
      val toks = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(array_distinct(TextFunctions.tokens(col("text")))).as("t"))
      val freq = toks.groupBy("t").agg(count(lit(1)).as("df"))
        .filter(col("df") >= 20)
      val ft = toks.join(broadcast(freq), "t").select("doc_id", "t", "df")
      val nDocs = Tables.documents(s, d).agg(count(lit(1)).as("nd"))
      val pairs = ft.as("a").join(ft.as("b"),
          col("a.doc_id") === col("b.doc_id") && col("a.t") < col("b.t"))
        .groupBy(col("a.t").as("ta"), col("b.t").as("tb"),
          col("a.df").as("dfa"), col("b.df").as("dfb"))
        .agg(count(lit(1)).as("c_ab"))
        .filter(col("c_ab") >= 5)
      pairs.crossJoin(broadcast(nDocs))
        .select(col("ta"), col("tb"), col("c_ab"),
          expr("(((c_ab * 1000000) div dfa) * nd) div dfb").as("pmi_q"))
        .orderBy(col("pmi_q").desc, col("ta"), col("tb")).limit(20)
    },
    Some(s"""WITH toks AS (SELECT DISTINCT doc_id, unnest($sqlTokArr) AS t FROM documents),
            |freq AS (SELECT t, COUNT(*) AS df FROM toks GROUP BY t HAVING COUNT(*) >= 20),
            |ft AS (SELECT doc_id, toks.t, df FROM toks JOIN freq USING (t)),
            |nd AS (SELECT COUNT(*) AS nd FROM documents),
            |pairs AS (SELECT a.t AS ta, b.t AS tb, a.df AS dfa, b.df AS dfb,
            |    COUNT(*) AS c_ab
            |  FROM ft a JOIN ft b ON a.doc_id = b.doc_id AND a.t < b.t
            |  GROUP BY 1, 2, 3, 4 HAVING COUNT(*) >= 5)
            |SELECT ta, tb, c_ab,
            |  (((c_ab * 1000000) // dfa) * (SELECT nd FROM nd)) // dfb AS pmi_q
            |FROM pairs ORDER BY pmi_q DESC, ta, tb LIMIT 20""".stripMargin))

  /** COUNT-MIN SKETCH frequency estimation (graft.sketch.CountMin —
    * the point-query sibling of fq01's Misra-Gries): one mergeable
    * depth×width counter blob over the whole token stream, probed for
    * the exact top-20 tokens. Pinned flags, x04-style: `ge_ok` is the
    * sketch's DETERMINISTIC one-sided guarantee (counters only add, so
    * estimate ≥ truth — always), `bound_ok` pins estimate ≤ truth +
    * 0.5% of the stream (≈15× the expected e/width overcount at
    * width=8192 — fails only if the sketch breaks, not on unlucky
    * collisions). The oracle replays the exact side and the flags.
    * Scale: the blob builds map-side (ObjectHashAggregate merge by
    * elementwise add) and broadcasts back as a scalar — the token
    * stream is never shuffled for the probe. */
  val fq02CmsTokens = QueryDef("fq02_cms_tokens",
    (s, d) => {
      import graft.sketch.CountMin
      val toks = Tables.documents(s, d)
        .select(explode(TextFunctions.tokens(col("text"))).as("token"))
      val sketch = toks.agg(
        CountMin.cm_agg(xxhash64(col("token")), depth = 4, width = 8192).as("cms"),
        count(lit(1)).as("n_total"))
      val top = toks.groupBy("token").agg(count(lit(1)).as("n_exact"))
        .orderBy(col("n_exact").desc, col("token")).limit(20)
      val est = CountMin.cm_estimate(xxhash64(col("token")), col("cms"), depth = 4)
      top.crossJoin(broadcast(sketch))
        .select(col("token"), col("n_exact"),
          (est >= col("n_exact")).as("ge_ok"),
          (est <= col("n_exact") + expr("n_total div 200")).as("bound_ok"))
        .orderBy(col("n_exact").desc, col("token"))
    },
    Some(s"""WITH w AS (SELECT unnest($sqlTokArr) AS token FROM documents)
            |SELECT token, COUNT(*) AS n_exact, TRUE AS ge_ok, TRUE AS bound_ok
            |FROM w GROUP BY token ORDER BY n_exact DESC, token LIMIT 20""".stripMargin))

  /** BM25 document ranking for a fixed query ("table value scan"):
    * standard Okapi BM25 (k1=1.2, b=0.75) with the robust idf
    * ln(1 + (N-df+0.5)/(df+0.5)). Every factor is exact integer-derived
    * double arithmetic; scores round to 6dp before ranking so both
    * engines order identically. Top-10 documents. */
  val tx02Bm25 = QueryDef("tx02_bm25",
    (s, d) => {
      val docs = Tables.documents(s, d)
      // N and avgdl as LAZY 1-row broadcast frames (the oracle's
      // CROSS JOIN n CROSS JOIN avgdl) — no plan-build-time jobs.
      // nullif guards the empty-corpus count=0 under ANSI division.
      val nDocs = docs.agg(count(lit(1)).cast("double").as("n_docs"))
      val words = docs
        .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("token"))
      val dlen = words.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      val avgdlF = dlen.agg(coalesce(
        sum(col("dl")).cast("double") / nullif(count(lit(1)), lit(0L)),
        lit(1d)).as("avgdl"))
      val qTerms = Seq("table", "value", "scan")
      val df_ = words.filter(col("token").isin(qTerms: _*))
        .groupBy("token").agg(countDistinct(col("doc_id")).as("df"))
      val tf = words.filter(col("token").isin(qTerms: _*))
        .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val k1 = 1.2d
      val b = 0.75d
      val idf = log(lit(1d) + (col("n_docs") - col("df") + 0.5d) / (col("df") + 0.5d))
      val scored = tf.join(broadcast(df_), "token").join(dlen, "doc_id")
        .crossJoin(broadcast(nDocs)).crossJoin(broadcast(avgdlF))
        .withColumn("term_score",
          // operation order mirrors the oracle SQL exactly (floating
          // point is order-sensitive): tf*(k1+1), then
          // tf + k1*(1 - b + b*dl/avgdl)
          idf * (col("tf") * (k1 + 1d)) /
            (col("tf") + lit(k1) * (lit(1d) - b + lit(b) * col("dl") / col("avgdl"))))
      scored.groupBy("doc_id")
        .agg(round(sum(col("term_score")), 6).as("bm25_r"))
        .orderBy(col("bm25_r").desc, col("doc_id"))
        .limit(10)
    },
    Some(s"""WITH w AS (SELECT doc_id, unnest($sqlTokArr) AS token FROM documents),
            |n AS (SELECT COUNT(*) AS n FROM documents),
            |dlen AS (SELECT doc_id, COUNT(*) AS dl FROM w GROUP BY doc_id),
            |avgdl AS (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dlen),
            |q AS (SELECT * FROM w WHERE token IN ('table', 'value', 'scan')),
            |dfreq AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM q GROUP BY token),
            |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM q GROUP BY 1, 2),
            |scored AS (SELECT tf.doc_id,
            |    ln(1 + (CAST(n.n AS DOUBLE) - dfreq.df + 0.5) / (dfreq.df + 0.5))
            |      * (tf.tf * (1.2 + 1)) /
            |      (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dlen.dl / avgdl.avgdl)) AS term_score
            |  FROM tf JOIN dfreq ON tf.token = dfreq.token
            |  JOIN dlen ON dlen.doc_id = tf.doc_id
            |  CROSS JOIN n CROSS JOIN avgdl)
            |SELECT doc_id, round(SUM(term_score), 6) AS bm25_r
            |FROM scored GROUP BY doc_id
            |ORDER BY bm25_r DESC, doc_id LIMIT 10""".stripMargin))

  /** K-ANONYMITY / L-DIVERSITY AUDIT — the privacy pre-release gate:
    * every (nation, market-segment) quasi-identifier class reports its
    * size n (k-anonymity: a row in a class of n < k is re-identifiable
    * by joining public attributes) and the number of distinct
    * sensitive-attribute values l (l-diversity: even a large class
    * leaks the sensitive value when all members share it — the
    * homogeneity attack). Sensitive attribute = account-balance band
    * (floor(bal/2000), integer-exact). Violations are flagged as
    * 0/1 INTs, not booleans — boolean→string renders differ across
    * engines, int64 does not. Thresholds k=10, l=4 sit inside this
    * data's class-size band (5..21) and diversity band (3..6), so
    * both flags fire on real rows.
    *
    * 100 TB: one groupBy on the QI columns — a single partial-agg
    * shuffle; countDistinct of the small-cardinality band rides the
    * same aggregate. The audit emits per-CLASS rows (bounded by the
    * QI domain), never per-record output. */
  val qc02KAnonymity = QueryDef("qc02_k_anonymity",
    (s, d) => Tables.customer(s, d)
      .select(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 2000).cast(LongType).as("bal_band"))
      .groupBy("c_nationkey", "c_mktsegment")
      .agg(count(lit(1)).as("n"), countDistinct(col("bal_band")).as("l"))
      .select(col("c_nationkey"), col("c_mktsegment"), col("n"), col("l"),
        when(col("n") < 10, 1L).otherwise(0L).as("k_violation"),
        when(col("l") < 4, 1L).otherwise(0L).as("l_violation"))
      .orderBy("c_nationkey", "c_mktsegment"),
    Some("""SELECT c_nationkey, c_mktsegment, COUNT(*) AS n,
           |  COUNT(DISTINCT CAST(floor(c_acctbal / 2000) AS BIGINT)) AS l,
           |  CAST(CASE WHEN COUNT(*) < 10 THEN 1 ELSE 0 END AS BIGINT) AS k_violation,
           |  CAST(CASE WHEN COUNT(DISTINCT CAST(floor(c_acctbal / 2000) AS BIGINT)) < 4
           |       THEN 1 ELSE 0 END AS BIGINT) AS l_violation
           |FROM customer
           |GROUP BY c_nationkey, c_mktsegment
           |ORDER BY c_nationkey, c_mktsegment""".stripMargin))

  val all: Seq[QueryDef] = Seq(ck01DocChunks, pk01SequencePacking, vc01VocabTopK,
    tx01TfIdfTopTerms, tx02Bm25, fz01FuzzyPairs, fz02PrefixJaccard,
    fz03JaroTypos,
    fq01FreqTokens, fq02CmsTokens,
    co01TokenPmi, qc01Expectations, qc02KAnonymity)
}
