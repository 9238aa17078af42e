package graft.queries

import graft.{QueryDef, Tables}
import graft.etl.{OrderedShuffle, Sampling}
import graft.text.Repetition
import graft.util.Exact._
import org.apache.spark.sql.functions._

/** Corpus-curation queries: repetition-based quality
  * signals, rank-based stratum filtering, target-mixture resampling,
  * and the deterministic global training-order shuffle. All four are
  * oracle-gated — the approximation-free core of a pretraining data
  * pipeline's final passes.
  */
object CurationQueries {

  /** Gopher-style repetition signals per document (Repetition scaladoc
    * has the shape argument). Oracle builds the same gram multisets
    * relationally: tokens with ordinals, bigrams by self-join on
    * consecutive positions, counts → max/total/duplicated-total. */
  val rp01RepetitionStats = QueryDef("rp01_repetition_stats",
    (s, d) => Repetition.repetitionStats(Tables.documents(s, d))
      .orderBy("doc_id"),
    Some(s"""WITH ${TextQueries.sqlTok()},
           |wc AS (SELECT doc_id, COUNT(DISTINCT w) AS wdist, COUNT(*) AS wtot
           |       FROM tok GROUP BY 1),
           |big AS (SELECT a.doc_id, a.w || ' ' || b.w AS g
           |        ${TextQueries.sqlBigrams()}),
           |bc AS (SELECT doc_id, g, COUNT(*) AS c FROM big GROUP BY 1, 2),
           |bs AS (SELECT doc_id, MAX(c) AS btop, SUM(c) AS btot,
           |       COALESCE(SUM(c) FILTER (WHERE c > 1), 0) AS bdup
           |       FROM bc GROUP BY 1)
           |SELECT wc.doc_id,
           |  round(CAST(wdist AS DOUBLE) / wtot, 6) AS unique_word_ratio,
           |  round(CAST(btop AS DOUBLE) / btot, 6) AS top_bigram_frac,
           |  round(CAST(bdup AS DOUBLE) / btot, 6) AS dup_bigram_frac
           |FROM wc JOIN bs ON bs.doc_id = wc.doc_id
           |ORDER BY wc.doc_id""".stripMargin))

  /** Top quality quartile WITHIN each (lang, source) stratum — the
    * rank-based filter that survives score-distribution drift between
    * strata (a fixed threshold keeps 90% of one language and 2% of
    * another; a per-stratum quantile keeps the same share of each).
    * Ties broken by doc_id so membership is exact; cume_dist is a
    * ratio of counts, so both engines compare identical doubles. */
  val qf01QualityStratumFilter = QueryDef("qf01_quality_stratum_filter",
    (s, d) => Sampling.topFractionByStratum(
      Tables.documents(s, d).select(col("doc_id"), col("lang"), col("source"),
        graft.text.TextFunctions.qualityScore(col("text")).as("quality")),
      Seq("lang", "source"), "quality", "doc_id", frac = 0.25)
      .select(col("doc_id"), col("lang"), col("source"),
        round(col("quality"), 6).as("quality"))
      .orderBy("doc_id"),
    Some(s"""WITH q AS (SELECT doc_id, lang, source,
            |  ${TextQueries.sqlQuality} AS quality FROM documents),
            |r AS (SELECT *, CUME_DIST() OVER (
            |        PARTITION BY lang, source
            |        ORDER BY quality DESC, doc_id) AS cd FROM q)
            |SELECT doc_id, lang, source, round(quality, 6) AS quality
            |FROM r WHERE cd <= 0.25 ORDER BY doc_id""".stripMargin))

  /** The approximate-quantile sibling of qf01 for GIANT strata: the
    * per-stratum threshold comes from one percentile aggregate
    * (broadcast back, plain filter) — no per-row window, so no stratum
    * ever ranks its rows on a single reducer (the qf01 window's ceiling
    * when one stratum is half the corpus). At full sketch accuracy the
    * threshold is the exact discrete 0.75-quantile element, and DuckDB
    * replays it with quantile_disc over the same 6dp-rounded scores —
    * membership (ties-at-threshold survive) hash-matches row-for-row,
    * not just within bounds. Plans.scala pins the no-Window shape. */
  val qf02QualityStratumApprox = QueryDef("qf02_quality_stratum_approx",
    (s, d) => Sampling.approxTopFractionByStratum(
      Tables.documents(s, d).select(col("doc_id"), col("lang"), col("source"),
        graft.text.TextFunctions.qualityScore(col("text")).as("quality")),
      Seq("lang", "source"), "quality", frac = 0.25, requireExact = true)
      .select(col("doc_id"), col("lang"), col("source"),
        round(col("quality"), 6).as("quality"))
      .orderBy("doc_id"),
    Some(s"""WITH q AS (SELECT doc_id, lang, source,
            |  round(${TextQueries.sqlQuality}, 6) AS qr FROM documents),
            |thr AS (SELECT lang, source, quantile_disc(qr, 0.75) AS t
            |        FROM q GROUP BY lang, source)
            |SELECT doc_id, lang, source, qr AS quality
            |FROM q JOIN thr USING (lang, source)
            |WHERE qr >= t ORDER BY doc_id""".stripMargin))

  /** Resample the corpus to a target LANGUAGE MIXTURE (en 50%, zh 20%,
    * es/de/fr 10% each): per-stratum rates derive in-plan from the
    * stratum counts (binding stratum kept whole, everything else
    * downsampled to match), membership is the portable md5 bucket.
    * The oracle recomputes rates from the same counts and replays the
    * bucket predicate — kept doc_ids must match exactly. */
  val mx01DomainMix = QueryDef("mx01_domain_mix",
    (s, d) => Sampling.mixtureResample(
      Tables.documents(s, d), "doc_id", "lang",
      targetShare = Map("en" -> 0.5, "zh" -> 0.2, "es" -> 0.1,
        "de" -> 0.1, "fr" -> 0.1))
      .select("doc_id", "lang").orderBy("doc_id"),
    Some("""WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1),
           |w AS (SELECT lang, n,
           |        CASE lang WHEN 'en' THEN CAST(0.5 AS DOUBLE)
           |                  WHEN 'zh' THEN CAST(0.2 AS DOUBLE)
           |                  WHEN 'es' THEN CAST(0.1 AS DOUBLE)
           |                  WHEN 'de' THEN CAST(0.1 AS DOUBLE)
           |                  WHEN 'fr' THEN CAST(0.1 AS DOUBLE)
           |                  ELSE NULL END AS w FROM c
           |      ),
           |wf AS (SELECT * FROM w WHERE w IS NOT NULL),
           |m AS (SELECT MIN(CAST(n AS DOUBLE) / w) AS m FROM wf),
           |r AS (SELECT lang,
           |        CASE WHEN CAST(n AS DOUBLE) / w = m.m THEN CAST(1000000 AS BIGINT)
           |             ELSE CAST(FLOOR(m.m * w / CAST(n AS DOUBLE) * 1000000) AS BIGINT)
           |        END AS thr
           |      FROM wf, m)
           |SELECT d.doc_id, d.lang
           |FROM documents d JOIN r USING (lang)
           |WHERE ('0x' || substr(md5('graft' || lang || CAST(doc_id AS VARCHAR)), 1, 15))::UBIGINT
           |      % 1000000 < thr
           |ORDER BY doc_id""".stripMargin))

  /** Deterministic global training order (OrderedShuffle scaladoc has
    * the two-level numbering argument) — pos must equal DuckDB's
    * single ROW_NUMBER() OVER (ORDER BY hash) exactly, proving the
    * distributed bucket-offset construction IS the total order. */
  val sh01GlobalShuffle = QueryDef("sh01_global_shuffle",
    (s, d) => OrderedShuffle.globalOrder(
      Tables.documents(s, d).select("doc_id"), "doc_id", seed = "s5")
      .select(col("doc_id"), col("__h").as("h"), col("pos"))
      .orderBy("pos"),
    Some("""SELECT doc_id, md5('s5' || CAST(doc_id AS VARCHAR)) AS h,
           |  ROW_NUMBER() OVER (ORDER BY md5('s5' || CAST(doc_id AS VARCHAR))) AS pos
           |FROM documents ORDER BY pos""".stripMargin))

  /** The 65,536-bucket (4-hex-prefix) fanout of the SAME global
    * shuffle, against the SAME oracle — proving the construction is
    * fanout-invariant: prefix length resizes the window partitions
    * (the 100 TB knob), the total order can't move. */
  val sh02GlobalShuffleWide = QueryDef("sh02_global_shuffle_wide",
    (s, d) => OrderedShuffle.globalOrder(
      Tables.documents(s, d).select("doc_id"), "doc_id", seed = "s5",
      hexPrefixLen = 4)
      .select(col("doc_id"), col("__h").as("h"), col("pos"))
      .orderBy("pos"),
    sh01GlobalShuffle.oracle)

  /** Per-source TOTAL VARIATION distance from the corpus token
    * distribution ([[graft.text.DomainDrift]]) — the lexical-drift
    * health check per dump/source. TV instead of KL keeps the whole
    * metric in integer arithmetic (½ Σ |c·G − g·N| / (N·G), decimal
    * products, no libm log) so both engines land the IDENTICAL double.
    * The zero-count closed form (G − Σ_{t∈s} g_t)·N makes the
    * missing-token mass a per-group scalar instead of a vocab-wide
    * outer join. */
  val mx02DomainTv = QueryDef("mx02_domain_tv",
    (s, d) => graft.text.DomainDrift.totalVariation(
      Tables.documents(s, d), "source")
      .select(col("grp").as("source"), col("n_tokens"), col("tv"))
      .orderBy("source"),
    Some(s"""WITH tok AS (SELECT source,
           |    unnest(${TextQueries.sqlTokArr}) AS t
           |  FROM documents),
           |st AS (SELECT source, t, COUNT(*) AS c FROM tok GROUP BY 1, 2),
           |gt AS (SELECT t, SUM(c) AS g FROM st GROUP BY 1),
           |ns AS (SELECT source, SUM(c) AS n FROM st GROUP BY 1),
           |gg AS (SELECT SUM(n) AS bigg FROM ns),
           |f AS (SELECT st.source, ns.n, gg.bigg,
           |        SUM(ABS(${sqlInt128("st.c")} * gg.bigg
           |                - ${sqlInt128("gt.g")} * ns.n)) AS sdev,
           |        SUM(gt.g) AS gseen
           |      FROM st JOIN gt USING (t) JOIN ns USING (source)
           |      CROSS JOIN gg GROUP BY 1, 2, 3)
           |SELECT source, CAST(n AS BIGINT) AS n_tokens,
           |  CAST(sdev + ${sqlInt128("bigg - gseen")} * n AS DOUBLE)
           |    / (2.0 * CAST(n AS DOUBLE) * CAST(bigg AS DOUBLE)) AS tv
           |FROM f ORDER BY source""".stripMargin))

  /** PER-DOMAIN DOCUMENT CAP (the Common-Crawl host-cap rule: no
    * source may contribute more than K documents): deterministic
    * md5-ranked row_number per source, keep rank ≤ K. Differs from
    * mx01 (proportional targets) in being an absolute ceiling — hot
    * domains truncate, small domains pass untouched — and from qf01 in
    * ranking by a seeded hash, not a quality score, so the survivors
    * are an unbiased sample of the domain. The md5 rank makes
    * membership portable: the oracle replays it exactly.
    *
    * 100 TB: one shuffle by source; the per-stratum window is the qf01
    * shape. A pathologically hot domain serializes its partition — the
    * escape hatch at that scale is the qf02 trick (approx threshold on
    * the hash instead of row_number), which this query's seeded-hash
    * ordering makes directly applicable. */
  val mx03DomainCap = QueryDef("mx03_domain_cap",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("source")
        .orderBy(md5(concat(lit("cap:"), col("doc_id").cast("string"))),
          col("doc_id"))
      Tables.documents(s, d)
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 10)
        .select(col("source"), col("doc_id"), col("rk"))
        .orderBy("source", "doc_id")
    },
    Some("""SELECT source, doc_id, CAST(rk AS BIGINT) AS rk FROM (
           |  SELECT source, doc_id, ROW_NUMBER() OVER (PARTITION BY source
           |      ORDER BY md5('cap:' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
           |  FROM documents)
           |WHERE rk <= 10 ORDER BY source, doc_id""".stripMargin))

  val all: Seq[QueryDef] = Seq(rp01RepetitionStats, qf01QualityStratumFilter,
    qf02QualityStratumApprox, mx01DomainMix, mx02DomainTv, mx03DomainCap,
    sh01GlobalShuffle, sh02GlobalShuffleWide)
}
