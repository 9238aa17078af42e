package graft.queries

import graft.{QueryDef, Tables}
import graft.text.{BpeTrain, CurationPipeline, TextDedup, TextFunctions}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Text-analysis and document-dedup queries over the documents table —
  * the LLM-pipeline operator surface (lang-ID, quality, token stats,
  * fingerprints; exact / Jaccard / MinHash / SimHash dedup).
  *
  * All integer outputs are cast to LongType so parquet physical types
  * match DuckDB's BIGINT results.
  */
object TextQueries {

  // SQL fragments shared with the Spark expressions (kept literally in
  // sync — a drift here is exactly what the oracle gate catches).
  private[queries] val sqlTokArr = """regexp_split_to_array(trim(text), '\s+')"""
  private def sqlWordCount(w: String) =
    s"""(len(regexp_split_to_array(text, '\\b$w\\b')) - 1)"""
  /** token-equality marker count — mirrors TextFunctions.tokenEquals */
  private def sqlTokCount(w: String) =
    s"""len(list_filter($sqlTokArr, x -> x = '$w'))"""
  private val sqlNormalize =
    """trim(regexp_replace(regexp_replace(lower(text), '[.,!?;:]', '', 'g'), '\s+', ' ', 'g'))"""
  /** quality-score formula over `text` — mirrors
    * TextFunctions.qualityScore; shared by x11, cb01 and qf01. */
  private[queries] val sqlQuality =
    s"""(CASE WHEN len($sqlTokArr) >= 5 AND len($sqlTokArr) <= 1000 THEN 1.0 ELSE 0.0 END
       | + CASE WHEN CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
       |          / NULLIF(length(text), 0) <= 0.2 THEN 1.0 ELSE 0.0 END
       | + LEAST(CAST(${sqlWordCount("the")} + ${sqlWordCount("and")} + ${sqlWordCount("of")} AS DOUBLE)
       |          / len($sqlTokArr) * 2.0, 1.0)) / 3.0""".stripMargin

  /** The replay of TextDedup's portable MinHash candidates at k = 2,
    * nHashes = 16, bands = 4: per (prefix, docs CTE) side, CTEs
    * `<p>tok`, `<p>sh` (bigram shingles), `<p>hs` (doc_id, i, mh) and
    * `<p>bands` (doc_id, band_id, band_sig); then `pairs` (band-sharing
    * pairs across the two sides, or `id1 < id2` within the one side)
    * and `est(<id1>, <id2>, est_jaccard)` rounded to 6 places. */
  private def sqlPortableMinHash(sides: Seq[(String, String)], id1: String,
                                 id2: String): String = {
    def sigs(p: String, docs: String) =
      s"""${sqlShingles(p, docs, k = 2, "sh")},
         |${p}hs AS (SELECT doc_id, i,
         |         MIN(CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || s), 1, 15)) AS UBIGINT)) AS mh
         |       FROM ${p}sh CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS i) ii
         |       GROUP BY doc_id, i),
         |${p}bands AS (SELECT doc_id, i // 4 AS band_id,
         |            md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i)) AS band_sig
         |          FROM ${p}hs GROUP BY doc_id, i // 4),""".stripMargin
    val (l, r) = (sides.head._1, sides.last._1)
    val ordered = if (sides.size == 1) "\n               AND l.doc_id < r.doc_id" else ""
    sides.map { case (p, docs) => sigs(p, docs) }.mkString("\n") +
      s"""
         |pairs AS (SELECT DISTINCT l.doc_id AS $id1, r.doc_id AS $id2
         |          FROM ${l}bands l JOIN ${r}bands r
         |            ON l.band_id = r.band_id AND l.band_sig = r.band_sig$ordered),
         |est AS (SELECT p.$id1, p.$id2,
         |          round(CAST(SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS DOUBLE) / 16, 6)
         |            AS est_jaccard
         |        FROM pairs p
         |        JOIN ${l}hs a ON a.doc_id = p.$id1
         |        JOIN ${r}hs b ON b.doc_id = p.$id2 AND b.i = a.i
         |        GROUP BY 1, 2)""".stripMargin
  }

  /** The portable SimHash replay (TextDedup.withSimHash fed
    * TextDedup.portableTokenHash) over `src`: CTEs n, tok, th, bits and
    * `sh(doc_id, simhash)` — per bit, the ±occurrence vote over 60-bit
    * md5-prefix token hashes; bit set iff the sum is positive. */
  private def sqlPortableSimHash(src: String): String =
    s"""n AS (SELECT doc_id, $sqlNormalize AS nt FROM $src),
       |tok AS (SELECT doc_id, unnest(regexp_split_to_array(nt, '\\s+')) AS w FROM n),
       |th AS (SELECT doc_id,
       |         CAST(('0x' || substr(md5(w), 1, 15)) AS UBIGINT) AS h FROM tok),
       |bits AS (SELECT doc_id, i,
       |           SUM(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS c
       |         FROM th CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS i) ii
       |         GROUP BY doc_id, i),
       |sh AS (SELECT doc_id,
       |         CAST(SUM(CASE WHEN c > 0
       |           THEN CAST(1 AS BIGINT) << i ELSE 0 END) AS BIGINT) AS simhash
       |       FROM bits GROUP BY doc_id)""".stripMargin

  /** CTE `<name>(<cols>, w, i)` over `from`: one row per element w of
    * the array `arr` — by default the whitespace tokens of `text` — at
    * its 1-based position i. */
  private[queries] def sqlTok(name: String = "tok", from: String = "documents",
                              cols: String = "doc_id", arr: String = sqlTokArr): String =
    s"""$name AS (SELECT $cols, unnest($arr) AS w,
       |        generate_subscripts($arr, 1) AS i FROM $from)""".stripMargin

  /** The FROM clause pairing each token of `tok` (a [[sqlTok]] CTE
    * keyed by `key`) with the next one in its document: `a` is the
    * first word of the bigram, `b` the second. */
  private[queries] def sqlBigrams(tok: String = "tok", key: String = "doc_id"): String =
    s"FROM $tok a JOIN $tok b ON b.$key = a.$key AND b.i = a.i + 1"

  /** The CTE in which [[sqlLangId]] leaves `lang_pred`. */
  private val sqlLangPred = s"p${TextFunctions.langMarkers.size - 1}"

  /** The SQL replay of TextFunctions.langId over `documents`: CTE `s`
    * (`keep`, one marker-token score `s_<lang>` per language, then
    * `also`) and the argmax fold p1, p2, … (a later language replaces
    * the best only on a strictly greater score, so the first listed
    * wins ties), which leaves `lang_pred` in [[sqlLangPred]]. */
  private def sqlLangId(keep: String, also: Seq[String] = Nil): String = {
    val langs = TextFunctions.langMarkers.map(_._1)
    val scores = TextFunctions.langMarkers.map { case (l, words) =>
      words.map(sqlTokCount).mkString(" + ") + s" AS s_$l" }
    val folds = (1 until langs.size).map { k =>
      val (best, top) = if (k == 1) (s"'${langs(0)}'", s"s_${langs(0)}") else (s"b${k - 1}", s"g${k - 1}")
      val last = k == langs.size - 1
      val pick = s"CASE WHEN s_${langs(k)} > $top THEN '${langs(k)}' ELSE $best END AS " +
        (if (last) "lang_pred" else s"b$k")
      val max = if (last) "" else s",\n       GREATEST($top, s_${langs(k)}) AS g$k"
      s"p$k AS (SELECT *, $pick$max FROM ${if (k == 1) "s" else s"p${k - 1}"})"
    }
    s"s AS (SELECT $keep,\n    ${(scores ++ also).mkString(",\n    ")}\n  FROM documents),\n" +
      folds.mkString(",\n")
  }

  /** CTEs `<p>tok` (doc_id, w, i) over docs CTE `docs` and `<p><sh>`
    * (doc_id, s): its distinct k-word shingles, words joined by ' '. */
  private def sqlShingles(p: String, docs: String, k: Int, sh: String): String = {
    val t = (0 until k).map(j => ('a' + j).toChar.toString)
    val joins = t.tail.zipWithIndex.map { case (x, j) =>
      s"JOIN ${p}tok $x ON $x.doc_id = a.doc_id AND $x.i = a.i + ${j + 1}" }
    s"""${sqlTok(s"${p}tok", docs)},
       |$p$sh AS (SELECT DISTINCT a.doc_id, ${t.map(_ + ".w").mkString(" || ' ' || ")} AS s
       |       FROM ${p}tok a ${joins.mkString("\n                  ")})""".stripMargin
  }

  /** The replay of TextDedup.jaccardPairs over `documents WHERE <where>`:
    * CTEs docs, tok, sh (distinct k-word shingles — with `maxDf`, only
    * those in at most that many docs), sizes, inter and `jac(id1, id2,
    * j)`: every pair whose exact Jaccard j is ≥ `threshold`. */
  private def sqlJaccard(where: String, k: Int, threshold: Double,
                         maxDf: Option[Int] = None): String = {
    val sh = maxDf.fold(sqlShingles("", "docs", k, "sh")) { df =>
      s"""${sqlShingles("", "docs", k, "sh0")},
         |keep AS (SELECT s FROM (SELECT s, COUNT(*) AS df FROM sh0 GROUP BY s) t
         |         WHERE df <= $df),
         |sh AS (SELECT sh0.* FROM sh0 JOIN keep USING (s))""".stripMargin
    }
    s"""docs AS (SELECT * FROM documents WHERE $where),
       |$sh,
       |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (SELECT x.doc_id AS id1, y.doc_id AS id2, COUNT(*) AS i
       |          FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
       |          GROUP BY 1, 2),
       |jac AS (SELECT id1, id2, CAST(i AS DOUBLE) / (n1.n + n2.n - i) AS j
       |        FROM inter
       |        JOIN sizes n1 ON n1.doc_id = id1
       |        JOIN sizes n2 ON n2.doc_id = id2
       |        WHERE CAST(i AS DOUBLE) / (n1.n + n2.n - i) >= $threshold)""".stripMargin
  }

  /** The quadratic ground truth of TextDedup.prefixJaccardPairs at
    * τ = 4/5 on the doc_id % 5 probe: CTEs tok (distinct tokens), sz, i
    * and `e(id1, id2, inter, uni)` — every pair with 5·inter ≥ 4·uni. */
  private[queries] val sqlTokenJaccard =
    s"""tok AS (SELECT doc_id, unnest(list_distinct($sqlTokArr)) AS t
       |  FROM documents WHERE doc_id % 5 = 0),
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
       |i AS (SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS inter
       |      FROM tok a JOIN tok b ON a.t = b.t AND a.doc_id < b.doc_id
       |      GROUP BY 1, 2),
       |e AS (SELECT id1, id2, inter, n1.n + n2.n - inter AS uni
       |      FROM i JOIN sz n1 ON id1 = n1.doc_id JOIN sz n2 ON id2 = n2.doc_id
       |      WHERE 5 * inter >= 4 * (n1.n + n2.n - inter))""".stripMargin

  /** Token statistics per language partition. */
  val x10TokenStats = QueryDef("x10_token_stats",
    (s, d) => Tables.documents(s, d).groupBy("lang").agg(
      count(lit(1)).as("n_docs"),
      sum(TextFunctions.tokenCount(col("text")).cast(LongType)).as("total_tokens"),
      sum(col("n_chars")).as("total_chars"),
      (sum(TextFunctions.tokenCount(col("text")).cast(LongType)).cast(DoubleType) /
        count(lit(1))).as("avg_tokens"))
      .orderBy("lang"),
    Some(s"""SELECT lang, COUNT(*) AS n_docs,
            |  CAST(SUM(len($sqlTokArr)) AS BIGINT) AS total_tokens,
            |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
            |  CAST(SUM(len($sqlTokArr)) AS DOUBLE) / COUNT(*) AS avg_tokens
            |FROM documents GROUP BY lang ORDER BY lang""".stripMargin))

  /** Per-document quality scoring (length / punctuation / stopword
    * heuristics — deterministic double arithmetic both engines). */
  val x11QualityScore = QueryDef("x11_quality_score",
    (s, d) => Tables.documents(s, d).select(
      col("doc_id"),
      TextFunctions.tokenCount(col("text")).cast(LongType).as("n_tokens"),
      TextFunctions.punctCount(col("text")).cast(LongType).as("n_punct"),
      TextFunctions.qualityScore(col("text")).as("quality"))
      .orderBy("doc_id"),
    Some(s"""SELECT doc_id,
            |  len($sqlTokArr) AS n_tokens,
            |  length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
            |  $sqlQuality AS quality
            |FROM documents ORDER BY doc_id""".stripMargin))

  /** Language-ID confusion matrix: declared lang vs marker-word argmax.
    * The oracle replicates the argmax fold (strictly-greater replaces,
    * first-listed wins ties) as a CTE chain. */
  val x12LangId = QueryDef("x12_lang_id",
    (s, d) => Tables.documents(s, d)
      .select(col("lang"), TextFunctions.langId(col("text")).as("lang_pred"))
      .groupBy("lang", "lang_pred").agg(count(lit(1)).as("n"))
      .orderBy("lang", "lang_pred"),
    Some(s"""WITH ${sqlLangId("lang")}
            |SELECT lang, lang_pred, COUNT(*) AS n FROM $sqlLangPred
            |GROUP BY lang, lang_pred ORDER BY lang, lang_pred""".stripMargin))

  /** Content fingerprints (md5 of normalized text). */
  val x13Fingerprint = QueryDef("x13_fingerprint",
    (s, d) => Tables.documents(s, d)
      .select(col("doc_id"), TextFunctions.fingerprint(col("text")).as("fp"))
      .orderBy("doc_id"),
    Some(s"SELECT doc_id, md5($sqlNormalize) AS fp FROM documents ORDER BY doc_id"))

  /** BPE-ish pre-tokenization counts (letter runs / digit runs / single
    * marks) — the token-count shape LLM data work actually uses. */
  val x15BpeTokens = QueryDef("x15_bpe_tokens",
    (s, d) => Tables.documents(s, d).groupBy("lang").agg(
      sum(size(TextFunctions.bpeTokens(col("text"))).cast(LongType)).as("total_bpe_tokens"),
      max(size(TextFunctions.bpeTokens(col("text"))).cast(LongType)).as("max_bpe_tokens"))
      .orderBy("lang"),
    Some("""SELECT lang,
           |  CAST(SUM(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))) AS BIGINT) AS total_bpe_tokens,
           |  MAX(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))) AS max_bpe_tokens
           |FROM documents GROUP BY lang ORDER BY lang""".stripMargin))

  /** Polynomial rolling hash (Karp-Rabin). The oracle replays the fold
    * with list_reduce over per-char codepoints (BIGINT-cast: the lambda
    * would otherwise overflow INT32). Empty normalized text pins to 0 —
    * Spark folds over [""] with ascii("")=0; DuckDB's unicode('') is -1,
    * so the CASE keeps both engines on the identity value. */
  val x14RollingHash = QueryDef("x14_rolling_hash",
    (s, d) => Tables.documents(s, d)
      .select(col("doc_id"), TextFunctions.rollingHash(col("text")).as("rhash"))
      .orderBy("doc_id"),
    Some(s"""SELECT doc_id,
            |  CASE WHEN $sqlNormalize = '' THEN 0
            |       ELSE list_reduce(
            |         list_transform(string_to_array($sqlNormalize, ''),
            |                        c -> CAST(unicode(c) AS BIGINT)),
            |         (a, b) -> (a * 131 + b) % 1000000007)
            |  END AS rhash
            |FROM documents ORDER BY doc_id""".stripMargin))

  /** Text functions on a MULTI-BYTE corpus — the UTF-8 hardening the
    * ASCII testdata can't exercise (byte == codepoint there, so byte
    * bugs hide). Both engines derive the same accented corpus with
    * translate(a→ä, e→é), then verify the invariants that differ only
    * beyond ASCII: char count vs byte count diverge, md5 runs over
    * UTF-8 bytes, the rolling hash over CODEPOINTS (x14 semantics)
    * sees one value per character, and a rolling hash over the UTF-8
    * BYTE sequence sees the multi-byte expansions. The byte hash is
    * computed from codepoints by closed-form UTF-8 encoding arithmetic
    * (1/2/3-byte BMP cases) INSIDE the fold lambda: the natural
    * formulation — substr over hex(encode(t)) per element — re-evaluates
    * the whole-document hex per byte, because an outer column referenced
    * once is inlined into the lambda (CollapseProject) and higher-order
    * functions do no subexpression elimination; measured 53 s at sf0.1
    * vs 0.8 s for this form. Real byte encoding stays pinned by fp:
    * md5 over encode(t) must match DuckDB's md5 over its own UTF-8
    * encoding. */
  val x16Utf8Bytes = QueryDef("x16_utf8_bytes",
    (s, d) => {
      import org.apache.spark.sql.Column
      val M = lit(1000000007L)
      val B = lit(131L)
      def h(acc: Column, b: Column): Column = pmod(acc * B + b, M)
      def fdiv(x: Column, n: Long): Column = floor(x / n).cast(LongType)
      // one fold step per CHARACTER, hashing its 1–3 UTF-8 bytes
      // (BMP codepoints; the derived corpus is ASCII + 2-byte accents)
      def step(acc: Column, cp: Column): Column =
        when(cp < 128L, h(acc, cp))
          .when(cp < 2048L,
            h(h(acc, lit(192L) + fdiv(cp, 64)), lit(128L) + pmod(cp, lit(64L))))
          .otherwise(
            h(h(h(acc, lit(224L) + fdiv(cp, 4096)),
              lit(128L) + pmod(fdiv(cp, 64), lit(64L))),
              lit(128L) + pmod(cp, lit(64L))))
      // two separate folds beat a fused struct-accumulator fold here:
      // per-element named_struct allocation costs more than the second
      // walk of the codepoint array (measured 2.5 s fused vs 1.6 s)
      val cps = transform(split(col("t"), ""), c => ascii(c).cast(LongType))
      Tables.documents(s, d)
        .select(col("doc_id"), translate(col("text"), "ae", "äé").as("t"))
        .select(
          col("doc_id"),
          length(col("t")).cast(LongType).as("n_chars"),
          length(encode(col("t"), "UTF-8")).cast(LongType).as("n_bytes"),
          md5(encode(col("t"), "UTF-8")).as("fp"),
          when(length(col("t")) === 0, 0L)
            .otherwise(aggregate(cps, lit(0L),
              (acc, x) => h(acc, x))).as("cp_hash"),
          when(length(col("t")) === 0, 0L)
            .otherwise(aggregate(cps, lit(0L), step)).as("b_hash")
        ).orderBy("doc_id")
    },
    Some("""WITH u AS (SELECT doc_id, translate(text, 'ae', 'äé') AS t FROM documents),
           |cp AS (SELECT doc_id, t,
           |  list_transform(string_to_array(t, ''), c -> CAST(unicode(c) AS BIGINT)) AS cps
           |  FROM u)
           |SELECT doc_id,
           |  CAST(length(t) AS BIGINT) AS n_chars,
           |  CAST(octet_length(encode(t)) AS BIGINT) AS n_bytes,
           |  md5(t) AS fp,
           |  CASE WHEN length(t) = 0 THEN 0 ELSE
           |    list_reduce(list_prepend(CAST(0 AS BIGINT), cps),
           |      (a, c) -> (a * 131 + c) % 1000000007) END AS cp_hash,
           |  CASE WHEN length(t) = 0 THEN 0 ELSE
           |    list_reduce(list_prepend(CAST(0 AS BIGINT), cps), (a, c) ->
           |      CASE WHEN c < 128 THEN (a * 131 + c) % 1000000007
           |           WHEN c < 2048 THEN
           |             (((a * 131 + (192 + c // 64)) % 1000000007) * 131
           |               + (128 + c % 64)) % 1000000007
           |           ELSE
           |             (((((a * 131 + (224 + c // 4096)) % 1000000007) * 131
           |               + (128 + (c // 64) % 64)) % 1000000007) * 131
           |               + (128 + c % 64)) % 1000000007
           |      END) END AS b_hash
           |FROM cp ORDER BY doc_id""".stripMargin))

  /** TOKEN-BUDGET SELECTION — "take the best data that fits N tokens",
    * the pass that turns a scored corpus into a training mix. Selection
    * is by quality THRESHOLD, not per-document cumulative sum: docs
    * bucket by quality (21 buckets), the running token total over the
    * TINY bucket aggregate (≤21 rows — the one place an unpartitioned
    * window is correct, same class as the weekly-report windows) finds
    * the deepest bucket that still fits, and the corpus filter is then
    * a plain predicate. At 100 TB this is one bucket aggregate + one
    * broadcast of the cutoff — never a global per-document window.
    * Budget = 20% of corpus tokens, derived lazily in-plan (broadcast
    * 1-row frame, tx01 pattern) so the query is meaningful at every
    * SF. */
  val cb01TokenBudget = QueryDef("cb01_token_budget",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val toks = Tables.documents(s, d).select(
        TextFunctions.tokenCount(col("text")).cast(LongType).as("n_tokens"),
        floor(TextFunctions.qualityScore(col("text")) * 20).cast(LongType).as("qb"))
      val budget = toks.agg((sum(col("n_tokens")) * 0.2).as("budget"))
      val buckets = toks.groupBy("qb").agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("bucket_tokens"))
      val w = Window.orderBy(col("qb").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      buckets.withColumn("cum_tokens", sum(col("bucket_tokens")).over(w))
        .crossJoin(broadcast(budget))
        .filter(col("cum_tokens") <= col("budget"))
        .select(col("qb"), col("n_docs"), col("bucket_tokens"), col("cum_tokens"))
        .orderBy(col("qb").desc)
    },
    Some(s"""WITH q AS (SELECT len($sqlTokArr) AS n_tokens,
            |  CAST(floor(($sqlQuality) * 20) AS BIGINT) AS qb FROM documents),
            |b AS (SELECT qb, COUNT(*) AS n_docs,
            |  CAST(SUM(n_tokens) AS BIGINT) AS bucket_tokens FROM q GROUP BY qb),
            |c AS (SELECT *, CAST(SUM(bucket_tokens) OVER
            |  (ORDER BY qb DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens FROM b),
            |bud AS (SELECT SUM(n_tokens) * 0.2 AS budget FROM q)
            |SELECT qb, n_docs, bucket_tokens, cum_tokens FROM c, bud
            |WHERE cum_tokens <= budget ORDER BY qb DESC""".stripMargin))

  /** Segment-level dedup + reassembly (see
    * [[graft.text.TextDedup.segmentDedupRebuild]]): repeated 10-token
    * segments are dropped corpus-wide (first occurrence wins) and each
    * document is rebuilt from its survivors in original order; the md5
    * of the rebuilt text pins the reassembly byte-for-byte, not just
    * the counts. */
  val pd01ParagraphDedup = QueryDef("pd01_paragraph_dedup",
    (s, d) => TextDedup.segmentDedupRebuild(Tables.documents(s, d), segTokens = 10)
      .orderBy("doc_id"),
    Some(s"""WITH tok AS (SELECT doc_id, $sqlTokArr AS t FROM documents),
            |st AS (SELECT doc_id, t,
            |         unnest(generate_series(0, greatest(len(t) - 1, 0), 10)) AS start
            |       FROM tok WHERE len(t) > 0),
            |seg AS (SELECT doc_id, CAST(start / 10 AS BIGINT) AS idx,
            |          array_to_string(t[start + 1 : start + 10], ' ') AS s FROM st),
            |k AS (SELECT *, ROW_NUMBER() OVER
            |        (PARTITION BY s ORDER BY doc_id, idx) AS rn FROM seg),
            |kept AS (SELECT * FROM k WHERE rn = 1),
            |totals AS (SELECT doc_id, COUNT(*) AS n_total FROM seg GROUP BY doc_id),
            |ka AS (SELECT doc_id, COUNT(*) AS n_kept,
            |         md5(string_agg(s, ' ' ORDER BY idx)) AS rebuilt_fp
            |       FROM kept GROUP BY doc_id)
            |SELECT totals.doc_id, totals.n_total,
            |  COALESCE(ka.n_kept, 0) AS n_kept, ka.rebuilt_fp
            |FROM totals LEFT JOIN ka ON totals.doc_id = ka.doc_id
            |ORDER BY totals.doc_id""".stripMargin))

  /** Boilerplate removal (see [[graft.text.TextDedup.boilerplateStrip]]):
    * any 5-token segment appearing in MORE THAN ONE document is dropped
    * from every document (pd01 keeps the first copy; bp01 keeps none —
    * cross-document repetition at segment granularity is template
    * chrome, not content). Rebuilt-text md5 pins reassembly exactly. */
  val bp01BoilerplateStrip = QueryDef("bp01_boilerplate_strip",
    (s, d) => TextDedup.boilerplateStrip(Tables.documents(s, d),
      segTokens = 5, maxDocFreq = 1)
      .orderBy("doc_id"),
    Some(s"""WITH tok AS (SELECT doc_id, $sqlTokArr AS t FROM documents),
            |st AS (SELECT doc_id, t,
            |         unnest(generate_series(0, greatest(len(t) - 1, 0), 5)) AS start
            |       FROM tok WHERE len(t) > 0),
            |seg AS (SELECT doc_id, CAST(start / 5 AS BIGINT) AS idx,
            |          array_to_string(t[start + 1 : start + 5], ' ') AS s FROM st),
            |dfc AS (SELECT s, COUNT(DISTINCT doc_id) AS df FROM seg GROUP BY s),
            |kept AS (SELECT seg.* FROM seg JOIN dfc USING (s) WHERE df <= 1),
            |totals AS (SELECT doc_id, COUNT(*) AS n_total FROM seg GROUP BY doc_id),
            |ka AS (SELECT doc_id, COUNT(*) AS n_kept,
            |         md5(string_agg(s, ' ' ORDER BY idx)) AS rebuilt_fp
            |       FROM kept GROUP BY doc_id)
            |SELECT totals.doc_id, totals.n_total,
            |  COALESCE(ka.n_kept, 0) AS n_kept, ka.rebuilt_fp
            |FROM totals LEFT JOIN ka ON totals.doc_id = ka.doc_id
            |ORDER BY totals.doc_id""".stripMargin))

  /** Benchmark DECONTAMINATION — the training-corpus hygiene pass: find
    * documents sharing any 3-gram with a benchmark set (here: the
    * deterministic doc_id % 97 slice standing in for an eval suite).
    * Engine side works entirely in hashed shingle space (64-bit gram
    * hashes via [[graft.text.ShingleHashesExpr]], never gram strings)
    * and BROADCASTS the distinct benchmark grams — benchmark suites are
    * small by nature, so a 100 TB corpus scan joins against an
    * in-memory gram set with zero shuffle of corpus rows; only the
    * matched (doc_id, gram) pairs reach the per-doc count
    * ([[graft.text.TextDedup.sharedGramCounts]]).
    * Oracle replays with string 3-grams (dd07 precedent: hashed ==
    * string modulo negligible 64-bit collisions). */
  val dc01Decontamination = QueryDef("dc01_decontamination",
    (s, d) => {
      val docs = Tables.documents(s, d)
      TextDedup.sharedGramCounts(docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0), k = 3).orderBy("doc_id")
    },
    Some(s"""WITH ${sqlShingles("", "documents", k = 3, "sh")},
           |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0)
           |SELECT sh.doc_id, COUNT(DISTINCT sh.s) AS n_shared
           |FROM sh JOIN bench USING (s)
           |WHERE sh.doc_id % 97 <> 0
           |GROUP BY sh.doc_id ORDER BY sh.doc_id""".stripMargin))

  /** IMPORTANCE SCORING for data selection (DSIR-shaped): score every
    * document by how much its n-gram profile looks like a TARGET
    * domain (here the 'src13' source) relative to the raw corpus —
    * the signal importance-resampling selects training data with.
    * Per-gram affinity is INTEGER-QUANTIZED (df_target·10⁶ div df_all,
    * the pr01 trick): no logs, no floats, so ranking decisions are
    * bit-portable and the oracle value-matches the whole pipeline.
    * Grams are row-local hashed 2-shingles (scan-side, never
    * materialized as strings — the dc01/dd07 scale path); the oracle
    * replays them as string grams, equivalent while xxhash64 is
    * collision-free on the corpus (same argument the oracle gate
    * already validates for dc01/dd07). Shape at 100 TB: one shuffle
    * of (gram, doc) pairs to build the affinity table, one shuffle to
    * score — both keyed by an 8-byte gram hash. */
  val is01ImportanceScore = QueryDef("is01_importance_score",
    (s, d) => {
      val grams = Tables.documents(s, d).select(col("doc_id"), col("source"),
        explode(graft.text.ShingleHashesExpr.shingleHashes(
          TextFunctions.tokens(col("text")), 2)).as("g"))
      val aff = grams.groupBy("g").agg(
        count(lit(1)).as("df_all"),
        count(when(col("source") === "src13", 1)).as("df_target"))
        .select(col("g"), expr("df_target * 1000000 div df_all").as("a"))
      grams.join(aff, "g")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"), sum(col("a")).as("aff_sum"))
        .select(col("doc_id"), col("n_grams"),
          expr("aff_sum div n_grams").as("importance"))
        .orderBy(col("importance").desc, col("doc_id")).limit(20)
    },
    Some(s"""WITH ${sqlTok(cols = "doc_id, source")},
           |sh AS (SELECT DISTINCT a.doc_id, a.source, a.w || ' ' || b.w AS s
           |       ${sqlBigrams()}),
           |st AS (SELECT s, COUNT(*) AS df_all,
           |         COUNT(*) FILTER (source = 'src13') AS df_target
           |       FROM sh GROUP BY s),
           |aff AS (SELECT s, df_target * 1000000 // df_all AS a FROM st),
           |imp AS (SELECT sh.doc_id, COUNT(*) AS n_grams,
           |          CAST(SUM(aff.a) AS BIGINT) AS aff_sum
           |        FROM sh JOIN aff USING (s) GROUP BY sh.doc_id)
           |SELECT doc_id, n_grams, aff_sum // n_grams AS importance
           |FROM imp ORDER BY importance DESC, doc_id LIMIT 20""".stripMargin))

  /** BLOOM-PRUNED DECONTAMINATION — dc01's operator at its 100 TB
    * shape. dc01 joins every corpus shingle against the benchmark set;
    * at corpus scale that shuffles ~all corpus grams even though almost
    * none are contaminated. Here the benchmark grams build a
    * [[graft.sketch.BloomAgg]] blob (distributed OR-merge build, one
    * 32 KB blob per task shipped), the blob broadcasts as a scalar, and
    * a codegen'd [[graft.sketch.BloomMightContain]] probe drops clean
    * grams SCAN-SIDE — before any shuffle. Survivors (true matches +
    * bounded false positives) then confirm against the exact benchmark
    * set, so the final keep-list is EXACT: bloom filters have no false
    * negatives, and the confirm join removes the false positives. The
    * oracle replays the exact semantics with no bloom at all — pruning
    * must change the plan, never one row. */
  val dc02BloomDecontamination = QueryDef("dc02_bloom_decontamination",
    (s, d) => {
      import graft.sketch.Bloom
      val grams = Tables.documents(s, d).select(col("doc_id"),
        explode(graft.text.ShingleHashesExpr.shingleHashes(
          TextFunctions.tokens(col("text")), 3)).as("g"))
      val bench = grams.filter(col("doc_id") % 97 === 0).select("g").distinct()
      val bloomDf = bench.agg(Bloom.bloom_agg(col("g"), 1 << 18, 5).as("bf"))
      val contaminated = grams.filter(col("doc_id") % 97 =!= 0)
        .crossJoin(broadcast(bloomDf))
        .filter(Bloom.might_contain(col("g"), col("bf"), 5))
        .join(bench, Seq("g"), "left_semi")
        .select("doc_id").distinct()
      Tables.documents(s, d).filter(col("doc_id") % 97 =!= 0)
        .join(contaminated, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id")
    },
    Some(s"""WITH ${sqlShingles("", "documents", k = 3, "sh")},
           |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0),
           |contaminated AS (SELECT DISTINCT sh.doc_id FROM sh JOIN bench USING (s)
           |                 WHERE sh.doc_id % 97 <> 0)
           |SELECT d.doc_id, d.lang, d.n_chars FROM documents d
           |WHERE d.doc_id % 97 <> 0
           |  AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
           |ORDER BY d.doc_id""".stripMargin))

  /** pii01's input, (doc_id, text): every 10th document's text with a
    * synthetic email appended. */
  def piiInput(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      when(col("doc_id") % 10 === 0,
        concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@example.com now"))).otherwise(col("text")).as("text"))

  /** PII REDACTION — the scrubbing pass every training pipeline runs
    * before release. The corpus carries no organic PII, so both engines
    * deterministically inject a synthetic email into every 10th
    * document, then detect (count) and redact (replace + fingerprint)
    * with the same regex. Pure row-local scan work — no shuffle, no
    * UDF: regexp_count/regexp_replace are codegen'd built-ins, which is
    * exactly why redaction at 100 TB is scan-rate bound. The md5 of the
    * redacted text proves the replacement output matches byte-for-byte,
    * not just the match counts. */
  val pii01Redaction = QueryDef("pii01_redaction",
    (s, d) => TextFunctions.redactPii(piiInput(Tables.documents(s, d)))
      .select(col("doc_id"), col("n_pii"), md5(col("text")).as("redacted_fp"))
      .orderBy("doc_id"),
    Some("""WITH t AS (SELECT doc_id,
           |  CASE WHEN doc_id % 10 = 0
           |       THEN text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
           |       ELSE text END AS t FROM documents)
           |SELECT doc_id,
           |  CAST(len(regexp_extract_all(t, '[a-z0-9]+@[a-z]+\.[a-z]+')) AS BIGINT) AS n_pii,
           |  md5(regexp_replace(t, '[a-z0-9]+@[a-z]+\.[a-z]+', '[PII]', 'g')) AS redacted_fp
           |FROM t ORDER BY doc_id""".stripMargin))

  /** Exact-dup groups by content hash (first-wins keeper). */
  val dd01ExactGroups = QueryDef("dd01_exact_dup_groups",
    (s, d) => TextDedup.exactGroups(Tables.documents(s, d)).orderBy("keep_id"),
    Some(s"""SELECT md5($sqlNormalize) AS fp, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
            |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin))

  /** Exact dedup — surviving documents. */
  val dd02ExactKept = QueryDef("dd02_exact_dedup_kept",
    (s, d) => TextDedup.exactDedup(Tables.documents(s, d))
      .select("doc_id", "n_chars").orderBy("doc_id"),
    Some(s"""SELECT doc_id, n_chars FROM documents
            |WHERE doc_id IN (SELECT MIN(doc_id) FROM documents GROUP BY md5($sqlNormalize))
            |ORDER BY doc_id""".stripMargin))

  /** Exact 3-gram Jaccard near-dup pairs on a probe subset (all-pairs is
    * quadratic; the subset keeps the oracle tractable — the MinHash/
    * SimHash variants below are the scale path). */
  val dd03Jaccard = QueryDef("dd03_ngram_jaccard",
    (s, d) => TextDedup.jaccardPairs(
      Tables.documents(s, d).filter(col("doc_id") % 10 === 0), k = 3, threshold = 0.5)
      .withColumn("jaccard", round(col("jaccard"), 6))
      .orderBy("id1", "id2"),
    Some(s"""WITH ${sqlJaccard("doc_id % 10 = 0", k = 3, threshold = 0.5)}
            |SELECT id1, id2, round(j, 6) AS jaccard FROM jac
            |ORDER BY id1, id2""".stripMargin))

  /** The HASHED-shingle Jaccard (the 100 TB form: 64-bit shingle hashes
    * shuffle instead of strings) against the STRING-shingle oracle —
    * hash-matching proves the scale path computes the identical
    * similarity set on this corpus (64-bit collisions would surface as
    * a mismatch). Wider subset (%2) + bigrams + lower threshold than
    * dd03 so the equality is tested on non-trivial pairs at every SF
    * (6 pairs at sf0.01, 278 at sf0.1), and WITH the document-frequency
    * cap engaged (df <= 50; the tiny synthetic vocabulary makes capless
    * bigram co-occurrence quadratic — exactly the degenerate-content
    * hazard the cap guards at 100 TB). The oracle replicates the cap,
    * so the df-filtered similarity semantics are verified too. */
  val dd07HashedJaccard = QueryDef("dd07_hashed_jaccard",
    (s, d) => TextDedup.jaccardPairs(
      Tables.documents(s, d).filter(col("doc_id") % 2 === 0), k = 2,
      threshold = 0.3, maxShingleDf = 50, hashedShingles = true)
      .withColumn("jaccard", round(col("jaccard"), 6))
      .orderBy("id1", "id2"),
    Some(s"""WITH ${sqlJaccard("doc_id % 2 = 0", k = 2, threshold = 0.3, Some(50))}
            |SELECT id1, id2, round(j, 6) AS jaccard FROM jac
            |ORDER BY id1, id2""".stripMargin))

  // The production minHashCandidates path (xxhash64 permutations) is
  // pinned in TextDedupSpec: dd08 benches and oracle-bounds the same
  // code at capture-sized params and dd11 is its value-exact portable
  // twin, so a rows-only registered variant would verify nothing more.

  /** MinHash RECALL against exact ground truth, as a registered query
    * the oracle can bound: exact (hashed-shingle) Jaccard pairs ≥ 0.5
    * are the truth set, MinHash-LSH candidates (64 hashes × 32 bands,
    * capture-sized: no est-Jaccard cut) are joined against it, and the
    * output is recall per Jaccard decile. The oracle replays the truth
    * side with string shingles and asserts FULL capture — n_captured =
    * n_truth, recall = 1.0 in every bucket. Truth and signatures share
    * the SAME df-capped shingle space (the stopword-filtered MinHash
    * variant — with raw signatures the ubiquitous shingles of this
    * small-vocabulary corpus dominate the minhashes and the two sides
    * measure different similarities; observed recall 0.06). Identical
    * capped shingle sets (the J = 1.0 decile) then collide structurally;
    * for J ≥ 0.5 the per-pair miss probability is ≤ (1 − 0.25)³² ≈ 1e-4
    * with fixed seeds, so the assertion is deterministic; any regression
    * in signature build or banding surfaces as a hash mismatch here
    * instead of hiding behind a rows-only check. */
  val dd08MinHashRecall = QueryDef("dd08_minhash_recall",
    (s, d) => {
      val docs = Tables.documents(s, d).filter(col("doc_id") % 2 === 0)
      val truth = TextDedup.jaccardPairs(docs, k = 2, threshold = 0.5,
        maxShingleDf = 50, hashedShingles = true)
      val cands = TextDedup.minHashCandidates(docs, k = 2, nHashes = 64,
        bands = 32, minEstJaccard = 0.0, pairing = TextDedup.AllPairs,
        maxShingleDf = 50)
      truth
        .join(cands.select(col("id1"), col("id2"), lit(1).as("hit")),
          Seq("id1", "id2"), "left")
        .withColumn("bucket", floor(round(col("jaccard"), 6) * 10).cast(LongType))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_truth"),
          sum(coalesce(col("hit"), lit(0))).cast(LongType).as("n_captured"))
        .withColumn("recall",
          round(col("n_captured").cast(DoubleType) / col("n_truth"), 6))
        .orderBy("bucket")
    },
    Some(s"""WITH ${sqlJaccard("doc_id % 2 = 0", k = 2, threshold = 0.5, Some(50))}
            |SELECT CAST(floor(round(j, 6) * 10) AS BIGINT) AS bucket,
            |  COUNT(*) AS n_truth, COUNT(*) AS n_captured,
            |  CAST(1.0 AS DOUBLE) AS recall
            |FROM jac GROUP BY 1 ORDER BY bucket""".stripMargin))

  // The production simHashPairs machinery (xxhash64 tokens) is pinned
  // in TextDedupSpec: dd09 (value-exact portable fingerprints, same
  // SimHashExpr + blocking) and dd10 (pair-level portable hamming
  // join) bench and oracle-gate it, so a rows-only registered variant
  // would verify nothing more.

  /** SimHash with a PORTABLE token hash, value-exact under the oracle —
    * the companion that was missing for the dd05 family: production
    * simhash hashes tokens with xxhash64 (fast, not SQL-portable), so
    * dd05 is rows-only; this variant feeds [[SimHashExpr]] 60-bit
    * md5-prefix token hashes (15 hex chars — top 4 bits zero, so no
    * unsigned-overflow anywhere) and DuckDB replays the ENTIRE
    * fingerprint: per bit, the ±occurrence-count vote over token
    * hashes; bit set iff the sum is positive. Any drift in
    * normalization, tokenization, weighting, or the bit-vote itself is
    * a value mismatch on every row — far stronger than pair-level
    * checks. Same codegen expression, same blocking machinery apply;
    * only the token hash differs. */
  val dd09SimHashPortable = QueryDef("dd09_simhash_portable",
    (s, d) => Tables.documents(s, d).filter(col("doc_id") % 4 === 0)
      .select(col("doc_id"),
        graft.text.SimHashExpr.simhash64(transform(
          TextFunctions.tokens(TextFunctions.normalize(col("text"))),
          TextDedup.portableTokenHash(_)))
          .as("simhash"))
      .orderBy("doc_id"),
    Some(s"""WITH ${sqlPortableSimHash("documents WHERE doc_id % 4 = 0")}
            |SELECT doc_id, simhash FROM sh ORDER BY doc_id""".stripMargin))

  /** Hamming-distance near-dup PAIRS over the portable SimHash, under
    * the full oracle gate — the pair-level companion to dd09 (which
    * verifies fingerprint values): the same pigeonhole-blocked pairing
    * machinery as production dd05, but fed [[TextDedup.portableTokenHash]]
    * so DuckDB can brute-force the entire pair set (fingerprints, xor,
    * bit_count, threshold) and value-compare every (id1, id2, hamming)
    * row. The corpus is enriched with engineered near-dup variants
    * (three appended junk tokens → a few bit-counters cross zero), so
    * the verified set spans hamming 0–3, not just exact dups. Blocking
    * completeness is thus oracle-proven here (brute force on the oracle
    * side vs blocked join on the engine side), complementing the
    * corpus-level spec proof in TextDedupSpec. */
  val dd10HammingPairs = QueryDef("dd10_hamming_pairs",
    (s, d) => {
      val docs = Tables.documents(s, d)
      // synthetic near-dup ids sit ABOVE the real id range at any scale
      // factor (a fixed +1e6 offset would collide once the corpus hits
      // 1e6 docs — silently, since both engines would collide alike)
      val off = docs.agg((max(col("doc_id")) + 1).as("__off"))
      val base = docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("text"))
        .unionByName(docs.filter(col("doc_id") % 20 === 0)
          .crossJoin(broadcast(off))
          .select((col("doc_id") + col("__off")).as("doc_id"),
            concat(col("text"), lit(" zzqx vvky zzqx")).as("text")))
      TextDedup.simHashPairs(base, maxHamming = 3,
          tokenHash = TextDedup.portableTokenHash)
        .withColumn("hamming", col("hamming").cast(LongType))
        .orderBy("id1", "id2")
    },
    Some(s"""WITH base AS (
            |  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
            |  UNION ALL
            |  SELECT doc_id + (SELECT MAX(doc_id) + 1 FROM documents) AS doc_id,
            |         text || ' zzqx vvky zzqx' AS text
            |  FROM documents WHERE doc_id % 20 = 0),
            |${sqlPortableSimHash("base")}
            |SELECT a.doc_id AS id1, b.doc_id AS id2,
            |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
            |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
            |ORDER BY id1, id2""".stripMargin))

  /** PORTABLE MinHash+LSH candidates under the FULL oracle gate — the
    * dd09 move applied to MinHash, closing the last rows-only gap in
    * the dedup family: md5-derived permutations over string bigram
    * shingles, md5 band signatures, bucket pairing, est-Jaccard — and
    * DuckDB replays every stage relationally (min over per-permutation
    * shingle hashes, string_agg band digests, bucket self-join, per-
    * index signature agreement). Any drift anywhere in the pipeline is
    * a value mismatch on the candidate rows. Production dd04 keeps the
    * compiled xxhash64 path; this is its cross-engine proof. The corpus
    * is enriched with engineered near-dups (appended junk token →
    * almost-complete shingle overlap), so the verified candidates span
    * partial signature agreement, not just exact-dup est=1.0 rows. */
  val dd11MinHashPortable = QueryDef("dd11_minhash_portable",
    (s, d) => {
      val docs = Tables.documents(s, d)
      // scale-safe synthetic ids: offset = max(doc_id)+1 (see dd10)
      val off = docs.agg((max(col("doc_id")) + 1).as("__off"))
      val base = docs.filter(col("doc_id") % 4 === 0)
        .select(col("doc_id"), col("text"))
        .unionByName(docs.filter(col("doc_id") % 20 === 0)
          .crossJoin(broadcast(off))
          .select((col("doc_id") + col("__off")).as("doc_id"),
            concat(col("text"), lit(" zzqx")).as("text")))
      TextDedup.portableMinHashCandidates(base,
        k = 2, nHashes = 16, bands = 4, minEstJaccard = 0.5)
        .orderBy("id1", "id2")
    },
    Some(s"""WITH docs AS (
           |  SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0
           |  UNION ALL
           |  SELECT doc_id + (SELECT MAX(doc_id) + 1 FROM documents) AS doc_id,
           |         text || ' zzqx' AS text
           |  FROM documents WHERE doc_id % 20 = 0),
           |${sqlPortableMinHash(Seq("" -> "docs"), "id1", "id2")}
           |SELECT id1, id2, est_jaccard FROM est
           |WHERE est_jaccard >= 0.5 ORDER BY id1, id2""".stripMargin))

  /** FUZZY decontamination — the third member of the family: dc01
    * catches exact n-gram contamination, dc02 the same with a Bloom
    * pre-filter, dc03 catches PARAPHRASED/perturbed contamination via
    * cross-corpus MinHash ([[graft.text.TextDedup
    * .portableMinHashCrossCandidates]]). The benchmark here is a
    * perturbed sample of the corpus itself (every 97th doc + a junk
    * token — simulating an eval set that leaked into training with
    * edits), so true matches have est < 1.0 and exact-gram methods
    * would under-report them. Cross-only pair generation is the scale
    * point: corpus-side near-dup families never pair among themselves
    * (fz02's Θ(cluster²) lesson), the fan-out is bucket × small
    * benchmark. Corpus scoped doc_id%4 like dd11 (md5 portability
    * costs ~10× the production xxhash64 path it verifies). */
  val dc03FuzzyDecontamination = QueryDef("dc03_fuzzy_decontamination",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val corpus = docs.filter(col("doc_id") % 4 === 0)
        .select("doc_id", "text")
      val bench = docs.filter(col("doc_id") % 20 === 0)
        .select(col("doc_id"), concat(col("text"), lit(" zzqx")).as("text"))
      TextDedup.portableMinHashCrossCandidates(corpus, bench,
        k = 2, nHashes = 16, bands = 4, minEstJaccard = 0.5)
        .select(col("id1").as("doc_id"), col("id2").as("bench_id"),
          col("est_jaccard"))
        .orderBy("doc_id", "bench_id")
    },
    Some(s"""WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0),
           |bench AS (SELECT doc_id, text || ' zzqx' AS text FROM documents
           |          WHERE doc_id % 20 = 0),
           |${sqlPortableMinHash(Seq("c" -> "corpus", "b" -> "bench"), "doc_id", "bench_id")}
           |SELECT doc_id, bench_id, est_jaccard FROM est
           |WHERE est_jaccard >= 0.5 ORDER BY doc_id, bench_id""".stripMargin))

  /** Deterministic key-stable train/test split counts per language,
    * using the PORTABLE (md5-prefix) bucket so the oracle reproduces
    * membership exactly: any engine with md5 computes the same split —
    * the property that makes a held-out set auditable across engines.
    * The xxhash64 flavor (faster, Spark-native) is covered by
    * SamplingSpec. */
  val sm01TrainTestSplit = QueryDef("sm01_train_test_split",
    (s, d) => graft.etl.Sampling.trainTestSplit(
      Tables.documents(s, d), "doc_id", testPermille = 200, portable = true)
      .groupBy("lang", "split").agg(count(lit(1)).as("n"))
      .orderBy("lang", "split"),
    Some("""SELECT lang,
           |  CASE WHEN ('0x' || substr(md5('graft' || CAST(doc_id AS VARCHAR)), 1, 15))::UBIGINT
           |            % 1000 < 200
           |       THEN 'test' ELSE 'train' END AS split,
           |  COUNT(*) AS n
           |FROM documents GROUP BY 1, 2 ORDER BY lang, split""".stripMargin))

  /** Stratified corpus rebalancing: downsample English to 50%, keep 10%
    * of everything else — per-lang counts, membership reproduced
    * exactly by the oracle (portable md5 bucket over lang||doc_id). */
  val sm02StratifiedSample = QueryDef("sm02_stratified_sample",
    (s, d) => graft.etl.Sampling.stratifiedSample(
      Tables.documents(s, d), "doc_id", "lang",
      permilleByStratum = Map("en" -> 500), defaultPermille = 100,
      portable = true)
      .groupBy("lang").agg(count(lit(1)).as("n"))
      .orderBy("lang"),
    Some("""SELECT lang, COUNT(*) AS n FROM documents
           |WHERE ('0x' || substr(md5('graft' || lang || CAST(doc_id AS VARCHAR)), 1, 15))::UBIGINT
           |      % 1000 < CASE WHEN lang = 'en' THEN 500 ELSE 100 END
           |GROUP BY lang ORDER BY lang""".stripMargin))

  /** Deterministic 5-FOLD cross-validation assignment: per (fold, lang)
    * counts, fold membership reproduced exactly by the oracle (portable
    * md5 bucket mod 5). Folds are disjoint and exhaustive by
    * construction — the per-lang counts sum to the corpus. */
  val sm03KFold = QueryDef("sm03_kfold",
    (s, d) => graft.etl.Sampling.kFold(
      Tables.documents(s, d), "doc_id", k = 5, portable = true)
      .groupBy("fold", "lang").agg(count(lit(1)).as("n"))
      .orderBy("fold", "lang"),
    Some("""SELECT ('0x' || substr(md5('graft' || CAST(doc_id AS VARCHAR)), 1, 15))::UBIGINT
           |         % 5 AS fold,
           |  lang, COUNT(*) AS n
           |FROM documents GROUP BY 1, 2 ORDER BY fold, lang""".stripMargin))

  /** The doc_id%5 probe subset of `documents` (fz02's scope). */
  private[queries] def probeDocs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).filter(Probe.scoped(col("doc_id") % 5 === 0))

  /** The prepare step of sm04 and dd13: (id, cluster_id) for the probe
    * subset, by star contraction over the exact prefix-filtered
    * Jaccard pairs at τ = 4/5. */
  private def jaccardClusters(s: SparkSession, d: String): DataFrame = {
    val docs = probeDocs(s, d)
    graft.graph.ConnectedComponents.runStars(docs.select(col("doc_id").as("id")),
      TextDedup.prefixJaccardPairs(docs, num = 4, den = 5).select("id1", "id2"))
  }

  /** LEAKAGE-SAFE k-fold split: fold membership decided per NEAR-DUP
    * CLUSTER, not per document — the fix for the classic evaluation
    * contamination where a training doc's near-duplicate lands in the
    * test fold and inflates the score. Composition: exact prefix-
    * filtered Jaccard edges (τ = 4/5, [[graft.text.TextDedup
    * .prefixJaccardPairs]]) → large-star/small-star connected
    * components → portable md5 fold hash of the cluster REPRESENTATIVE
    * (same bucket recipe as sm03), so every member of a cluster lands
    * in the representative's fold by construction. The oracle rebuilds
    * the clusters with a recursive-CTE closure over the quadratic
    * ground-truth edge set and applies the identical md5 — the full
    * doc→(cluster, fold) mapping matches row-for-row.
    *
    * Same doc_id%5 probe scope as fz02, and for the same measured
    * reason: this corpus's near-dup clusters make any all-pairs edge
    * set Θ(Σ cluster²). At corpus scale the edge set feeding the
    * split would come from the star-contraction dedup pass (dd06's
    * O(cluster) edges), with this exact-join variant as the auditing
    * tool on probes. */
  val sm04LeakageSafeSplit = QueryDef.prepared("sm04_leakage_safe_split", jaccardClusters)(
    (_, _, clusters) =>
      graft.etl.Sampling.kFold(clusters, "cluster_id", k = 5, portable = true)
        .select(col("id").as("doc_id"), col("cluster_id"), col("fold"))
        .orderBy("doc_id"),
    Some(s"""WITH RECURSIVE
           |$sqlTokenJaccard,
           |${GraphQueries.sqlClosure("e", "documents WHERE doc_id % 5 = 0", "doc_id")}
           |SELECT doc_id, cluster_id,
           |  ('0x' || substr(md5('graft' || CAST(cluster_id AS VARCHAR)), 1, 15))::UBIGINT
           |    % 5 AS fold
           |FROM lbl ORDER BY doc_id""".stripMargin))

  /** REPEATED-SPAN detection: 8-token windows occurring in ≥2 distinct
    * documents — the span-level exact-substring signal of Lee et al.
    * "Deduplicating Training Data Makes Language Models Better"
    * (memorization comes from repeated SPANS, which doc-level dedup
    * misses: boilerplate, licenses, templates). Window generation is a
    * row-local array HOF in the scan projection (no join to build
    * n-grams); one gram-keyed aggregate does the corpus-wide counting.
    * At 100 TB the same plan runs over 64-bit rolling-hash grams
    * (x14/dd07's trick) instead of span strings — strings here keep
    * the oracle comparison human-readable. */
  val ds01DupSpans = QueryDef("ds01_dup_spans",
    (s, d) => {
      val toks = TextFunctions.tokens(col("text"))
      val spans = Tables.documents(s, d).select(col("doc_id"),
        explode(when(size(toks) >= 8,
          transform(sequence(lit(1), size(toks) - 7),
            i => concat_ws(" ", slice(toks, i, lit(8)))))
          .otherwise(array().cast("array<string>"))).as("span"))
      spans.groupBy("span").agg(
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"))
        .filter(col("n_docs") >= 2)
        .orderBy(col("n_docs").desc, col("n_occ").desc, col("span"))
        .limit(20)
    },
    Some("""WITH t AS (SELECT doc_id,
           |    regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
           |p AS (SELECT doc_id, toks,
           |    unnest(range(1, greatest(len(toks) - 6, 1))) AS i FROM t),
           |g AS (SELECT doc_id, array_to_string(toks[i:i+7], ' ') AS span FROM p)
           |SELECT span, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_occ
           |FROM g GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2
           |ORDER BY n_docs DESC, n_occ DESC, span LIMIT 20""".stripMargin))

  /** VOCABULARY COVERAGE / OOV RATE per source: share of token
    * occurrences covered by the corpus-wide top-1000 vocabulary — the
    * tokenizer-eval metric run before committing a vocab (a source
    * with low coverage will fragment into byte-fallback). The vocab is
    * a TakeOrdered top-k (deterministic ties by token) broadcast to a
    * scan-side membership join; coverage divides two exactly-counted
    * longs. */
  val oov01VocabCoverage = QueryDef("oov01_vocab_coverage",
    (s, d) => {
      val tok = Tables.documents(s, d).select(col("source"),
        explode(TextFunctions.tokens(col("text"))).as("t"))
      val vocab = tok.groupBy("t").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("t")).limit(1000)
        .select(col("t"), lit(1L).as("__in"))
      tok.join(broadcast(vocab), Seq("t"), "left")
        .groupBy("source").agg(
          count(lit(1)).as("n_tokens"),
          sum(coalesce(col("__in"), lit(0L))).as("n_covered"))
        .select(col("source"), col("n_tokens"), col("n_covered"),
          (col("n_covered").cast(DoubleType) / col("n_tokens")).as("coverage"))
        .orderBy("source")
    },
    Some("""WITH tok AS (SELECT source,
           |    unnest(regexp_split_to_array(trim(text), '\s+')) AS t
           |  FROM documents),
           |v AS (SELECT t FROM (SELECT t, COUNT(*) AS c FROM tok GROUP BY 1
           |      ORDER BY c DESC, t LIMIT 1000)),
           |j AS (SELECT tok.source, v.t AS vt FROM tok LEFT JOIN v ON tok.t = v.t)
           |SELECT source, COUNT(*) AS n_tokens,
           |  CAST(SUM(CASE WHEN vt IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_covered,
           |  CAST(SUM(CASE WHEN vt IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
           |    / COUNT(*) AS coverage
           |FROM j GROUP BY source ORDER BY source""".stripMargin))

  /** Systematic PPS weighted sampling: 5 docs per language, inclusion
    * probability proportional to n_chars ("sample documents by token
    * mass" — the weighted-mixture sampler). Fully deterministic
    * integer-exact dart placement (see Sampling.systematicPps), so the
    * oracle replays the IDENTICAL picks with the same window sums and
    * floor divisions — no rand(), no transcendentals, no approximation
    * to wave at: the selected ROWS hash-match, not just their count. */
  val ws01PpsSample = QueryDef("ws01_pps_sample",
    (s, d) => graft.etl.Sampling.systematicPps(
      Tables.documents(s, d).select("doc_id", "lang", "n_chars"),
      Seq("lang"), "n_chars", "doc_id", k = 5)
      .orderBy("doc_id"),
    Some("""WITH c AS (SELECT doc_id, lang, n_chars,
           |        SUM(n_chars) OVER (PARTITION BY lang ORDER BY doc_id
           |                           ROWS UNBOUNDED PRECEDING) AS hi,
           |        SUM(n_chars) OVER (PARTITION BY lang) AS w
           |       FROM documents),
           |m AS (SELECT *, hi - n_chars AS lo FROM c),
           |s AS (SELECT *,
           |   LEAST(5, GREATEST(0, (10*hi + w - 1) // NULLIF(2*w, 0))) AS cnt_hi,
           |   LEAST(5, GREATEST(0, (10*lo + w - 1) // NULLIF(2*w, 0))) AS cnt_lo
           |   FROM m)
           |SELECT doc_id, lang, n_chars FROM s WHERE cnt_hi > cnt_lo
           |ORDER BY doc_id""".stripMargin))

  /** Capstone: the corpus-curation pipeline end-to-end in ONE plan —
    * predicted-language filter → quality threshold → exact dedup
    * (first-wins) → per-source survivor stats. Composes langId,
    * qualityScore, and fingerprint dedup; the oracle replays the whole
    * pipeline in SQL. One scan, one dedup shuffle, one agg shuffle —
    * the shape a 100 TB curation run takes. */
  val cp01CorpusCuration = QueryDef("cp01_corpus_curation",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      // materialize every expensive expression exactly once, and dedup
      // on the fp COLUMN (an expression partition key would re-evaluate
      // normalize+md5 through the shuffle/sort stages)
      val scored = docs
        .select(col("doc_id"), col("source"),
          TextFunctions.tokenCount(col("text")).cast(LongType).as("n_tokens"),
          TextFunctions.langId(col("text")).as("lang_pred"),
          TextFunctions.qualityScore(col("text")).as("quality"),
          TextFunctions.fingerprint(col("text")).as("fp"))
        .filter(col("lang_pred") === "en" && col("quality") >= 0.5)
        .select("doc_id", "source", "n_tokens", "fp")
      val w = Window.partitionBy("fp").orderBy("doc_id")
      scored.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
        .groupBy("source").agg(
          count(lit(1)).as("n_kept"),
          sum(col("n_tokens")).as("kept_tokens"))
        .orderBy("source")
    },
    Some(s"""WITH ${sqlLangId("*", Seq(s"$sqlQuality AS quality"))},
            |filtered AS (SELECT * FROM $sqlLangPred WHERE lang_pred = 'en' AND quality >= 0.5),
            |kept AS (SELECT * FROM filtered
            |  WHERE doc_id IN (SELECT MIN(doc_id) FROM filtered GROUP BY md5($sqlNormalize)))
            |SELECT source, COUNT(*) AS n_kept, CAST(SUM(len($sqlTokArr)) AS BIGINT) AS kept_tokens
            |FROM kept GROUP BY source ORDER BY source""".stripMargin))

  /** The CurationPipeline API surface: kept/reject counts by reason.
    * The oracle replays the pipeline's bucket assignment — reason
    * precedence lang_filtered → low_quality → duplicate, keeper = min
    * id per fingerprint among PASSING rows only — in SQL; precedence is
    * additionally asserted on engineered fixtures in
    * CurationPipelineSpec. */
  val cp02CurationPipeline = QueryDef("cp02_curation_pipeline",
    (s, d) => {
      val r = CurationPipeline.curate(Tables.documents(s, d))
      r.kept.select(lit("kept").as("bucket")).unionByName(
        r.rejects.select(col("reject_reason").as("bucket")))
        .groupBy("bucket").agg(count(lit(1)).as("n"))
        .orderBy("bucket")
    },
    Some(s"""WITH ${sqlLangId("*", Seq(s"$sqlQuality AS quality"))},
            |passing AS (SELECT * FROM $sqlLangPred WHERE lang_pred = 'en' AND quality >= 0.5),
            |keepers AS (SELECT MIN(doc_id) AS kid FROM passing GROUP BY md5($sqlNormalize)),
            |b AS (SELECT CASE
            |    WHEN lang_pred <> 'en' THEN 'lang_filtered'
            |    WHEN quality < 0.5 THEN 'low_quality'
            |    WHEN doc_id IN (SELECT kid FROM keepers) THEN 'kept'
            |    ELSE 'duplicate' END AS bucket FROM $sqlLangPred)
            |SELECT bucket, COUNT(*) AS n FROM b GROUP BY bucket ORDER BY bucket""".stripMargin))

  /** Distributed BPE merge TRAINING (x15 applies a fixed merge table;
    * this LEARNS one): 6 most-frequent-adjacent-pair merges over the
    * corpus vocabulary, exact integer counts, lexicographic tie-break.
    * The oracle unrolls the same 6 iterations as chained CTEs (the
    * pr01 pattern) over the identical `|s1||s2|`-delimited encoding,
    * so pair counts, argmax decisions, and merge applications are all
    * value-matched. See graft.text.BpeTrain for the encoding trick
    * that makes greedy left-to-right merging a plain `replace`. */
  val bt01BpeTrain = QueryDef.prepared("bt01_bpe_train",
    (s, d) => BpeTrain.learnMerges(Tables.documents(s, d), "text", 6))(
    (_, _, merges) => merges,
    Some {
      val iter = (i: Int) =>
        s"""p$i AS (
           |  SELECT syms[i] AS a, syms[i + 1] AS b,
           |    CAST(SUM(cnt) AS BIGINT) AS n
           |  FROM (SELECT cnt, syms, unnest(range(1, len(syms))) AS i
           |        FROM (SELECT cnt, string_split(trim(enc, '|'), '||') AS syms
           |              FROM w${i - 1}) z) q
           |  GROUP BY a, b),
           |b$i AS MATERIALIZED (SELECT a, b, n FROM p$i ORDER BY n DESC, a, b LIMIT 1),
           |w$i AS MATERIALIZED (SELECT cnt, replace(enc,
           |    '|' || (SELECT a FROM b$i) || '||' || (SELECT b FROM b$i) || '|',
           |    '|' || (SELECT a FROM b$i) || (SELECT b FROM b$i) || '|') AS enc
           |  FROM w${i - 1})""".stripMargin
      // AS MATERIALIZED matters: DuckDB 1.0 inlines every CTE
      // reference, and this chain references w/b multiple times per
      // step — inlined, the 6-step replay is exponential (~194 s
      // measured at sf0.01); materialized it is 0.6 s, same rows.
      s"""WITH v AS (
         |  SELECT w, COUNT(*) AS cnt FROM (
         |    SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
         |    FROM documents) t
         |  WHERE regexp_matches(w, '^[a-z]+$$') GROUP BY w),
         |w0 AS (SELECT cnt,
         |    '|' || array_to_string(string_split(w, ''), '||') || '|' AS enc
         |  FROM v),
         |${(1 to 6).map(iter).mkString(",\n")}
         |SELECT * FROM (
         |${(1 to 6).map(i =>
            s"  SELECT $i AS step, a, b, a || b AS merged, n FROM b$i")
           .mkString("  UNION ALL\n")}
         |) ORDER BY step""".stripMargin
    })

  /** BPE ENCODING (the apply side of bt01's training): segment every
    * document under the 6 learned merges and emit per-doc token
    * accounting — word count, BPE token count, character count — the
    * numbers a token-budget planner (cb01) consumes once a tokenizer
    * is trained rather than fixed. Training's merge rewrite already
    * segments every VOCABULARY word (see
    * [[graft.text.BpeTrain.learnMergesAndVocab]]), so encoding the
    * corpus is one equi-join of the token stream against the encoded
    * vocabulary plus a per-doc aggregate — the scale shape: the raw
    * text is scanned once for the vocab and once for the stream; the
    * iterative merge machinery only ever touches the vocabulary.
    * Probe-scoped to doc_id%5 (the dd06/fz02 convention) since
    * training is the bench-dominant part. The oracle replays all 6
    * training iterations as chained CTEs (carrying the word through,
    * unlike bt01's), then the same join + aggregate — so merge
    * decisions AND their application to every document hash-match. */
  val bt02BpeEncode = QueryDef.prepared("bt02_bpe_encode",
    (s, d) => BpeTrain.learnMergesAndVocab(probeDocs(s, d), "text", 6)._2)(
    (s, d, vocab) => {
      val encV = vocab.select(col("w"),
        size(split(trim(col("enc"), "|"), "\\|\\|")).cast("long").as("n_sym"))
      probeDocs(s, d).select(col("doc_id"),
          explode(TextFunctions.tokens(lower(col("text")))).as("w"))
        .filter(col("w").rlike("^[a-z]+$"))
        .join(encV, "w")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"), sum(col("n_sym")).as("n_bpe"),
          sum(length(col("w")).cast("long")).as("n_chars"))
        .orderBy("doc_id")
    },
    Some {
      val iter = (i: Int) =>
        s"""p$i AS (
           |  SELECT syms[i] AS a, syms[i + 1] AS b,
           |    CAST(SUM(cnt) AS BIGINT) AS n
           |  FROM (SELECT cnt, syms, unnest(range(1, len(syms))) AS i
           |        FROM (SELECT cnt, string_split(trim(enc, '|'), '||') AS syms
           |              FROM w${i - 1}) z) q
           |  GROUP BY a, b),
           |b$i AS MATERIALIZED (SELECT a, b, n FROM p$i ORDER BY n DESC, a, b LIMIT 1),
           |w$i AS MATERIALIZED (SELECT w, cnt, replace(enc,
           |    '|' || (SELECT a FROM b$i) || '||' || (SELECT b FROM b$i) || '|',
           |    '|' || (SELECT a FROM b$i) || (SELECT b FROM b$i) || '|') AS enc
           |  FROM w${i - 1})""".stripMargin
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id % 5 = 0),
         |v AS (
         |  SELECT w, COUNT(*) AS cnt FROM (
         |    SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
         |    FROM d) t
         |  WHERE regexp_matches(w, '^[a-z]+$$') GROUP BY w),
         |w0 AS (SELECT w, cnt,
         |    '|' || array_to_string(string_split(w, ''), '||') || '|' AS enc
         |  FROM v),
         |${(1 to 6).map(iter).mkString(",\n")},
         |ev AS (SELECT w,
         |    CAST(len(string_split(trim(enc, '|'), '||')) AS BIGINT) AS n_sym
         |  FROM w6),
         |dt AS (SELECT doc_id, w FROM (
         |    SELECT doc_id,
         |      unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
         |    FROM d) t
         |  WHERE regexp_matches(w, '^[a-z]+$$'))
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
         |  CAST(SUM(n_sym) AS BIGINT) AS n_bpe,
         |  CAST(SUM(len(w)) AS BIGINT) AS n_chars
         |FROM dt JOIN ev USING (w)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin
    })

  /** BEST-OF-CLUSTER DUP RETENTION — the canonical-selection policy
    * real curation runs AFTER near-dup clustering: instead of keeping
    * the min-id representative (sd01), keep each cluster's
    * HIGHEST-QUALITY member (ties → min doc_id). Edges are the exact
    * prefix-filtered Jaccard pairs at τ=4/5 on the fz02 probe subset;
    * clusters resolve by large/small-star contraction; the quality
    * scorer is x11's. Full id → (cluster, kept?) mapping emitted so
    * the retention decision itself is what's oracle-checked — the
    * DuckDB side recomputes clusters by recursive transitive closure
    * and replays the argmax with the same total (quality DESC, id)
    * order.
    *
    * 100 TB: edge generation is fz02's sub-quadratic path, contraction
    * is the dd06 machinery, and the selection adds ONE window over
    * cluster-sized partitions — nothing new is wide. */
  val dd13BestOfCluster = QueryDef.prepared("dd13_best_of_cluster", jaccardClusters)(
    (s, d, clusters) => {
      import org.apache.spark.sql.expressions.Window
      val scored = probeDocs(s, d).select(col("doc_id"),
        TextFunctions.qualityScore(col("text")).as("quality"))
      val w = Window.partitionBy("cluster_id")
        .orderBy(col("quality").desc, col("doc_id"))
      clusters.join(scored, clusters("id") === scored("doc_id"))
        .withColumn("rk", row_number().over(w))
        .select(col("doc_id"), col("cluster_id"),
          round(col("quality"), 6).as("quality_r"),
          (col("rk") === 1).as("is_kept"))
        .orderBy("doc_id")
    },
    Some(s"""WITH RECURSIVE d AS (SELECT * FROM documents WHERE doc_id % 5 = 0),
            |$sqlTokenJaccard,
            |${GraphQueries.sqlClosure("e", "d", "doc_id")},
            |q AS (SELECT doc_id, $sqlQuality AS quality FROM d),
            |r AS (SELECT lbl.doc_id, cluster_id, quality,
            |    ROW_NUMBER() OVER (PARTITION BY cluster_id
            |      ORDER BY quality DESC, lbl.doc_id) AS rk
            |  FROM lbl JOIN q USING (doc_id))
            |SELECT doc_id, cluster_id, ROUND(quality, 6) AS quality_r,
            |  rk = 1 AS is_kept
            |FROM r ORDER BY doc_id""".stripMargin))

  val all: Seq[QueryDef] = Seq(
    x10TokenStats, x11QualityScore, x12LangId, x13Fingerprint, x14RollingHash,
    x15BpeTokens, x16Utf8Bytes, sm01TrainTestSplit, sm02StratifiedSample,
    sm03KFold, sm04LeakageSafeSplit, ws01PpsSample, ds01DupSpans,
    oov01VocabCoverage,
    cp01CorpusCuration, cp02CurationPipeline,
    dd01ExactGroups, dd02ExactKept, dd03Jaccard,
    dd07HashedJaccard, dd08MinHashRecall, dc01Decontamination,
    dc02BloomDecontamination, dc03FuzzyDecontamination,
    is01ImportanceScore, pii01Redaction,
    cb01TokenBudget, pd01ParagraphDedup, bp01BoilerplateStrip, dd09SimHashPortable,
    dd10HammingPairs, dd11MinHashPortable, bt01BpeTrain, bt02BpeEncode,
    dd13BestOfCluster)
}
