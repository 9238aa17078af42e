package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType, StringType}

/** Text-analysis primitives for LLM training-data pipelines, all built
  * from codegen'd Catalyst expressions (no UDFs): language-ID heuristic,
  * quality scoring, token counting, fingerprinting, shingling.
  *
  * Scale notes: every function here is a narrow per-row expression —
  * fuses into the scan stage, no shuffle, no driver involvement. The
  * only wide ops are in TextDedup (joins/groupBys over derived columns).
  */
object TextFunctions {

  /** Whitespace tokenization (the universal first pass; a BPE-ish regex
    * variant is `bpeTokens`). */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish segmentation: letter runs, digit runs, or single
    * non-alphanumeric marks — the classic pre-tokenizer shape. */
  def bpeTokens(text: Column): Column =
    regexp_extract_all(text, lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"), lit(0))

  /** Count of regex matches, via length difference (identical construct
    * exists in DuckDB for the oracle). `pattern` must match single chars. */
  def charClassCount(text: Column, pattern: String): Column =
    length(text) - length(regexp_replace(text, pattern, ""))

  def punctCount(text: Column): Column = charClassCount(text, "[.,!?;:]")

  /** Occurrences of a word with \b boundaries (Java regex and DuckDB RE2
    * agree on \b for ASCII). One regex scan per word — fine for a few
    * words; see [[tokenEquals]] for the many-marker path. */
  def wordCount(text: Column, word: String): Column =
    size(split(text, s"\\b$word\\b")) - 1

  /** Occurrences of a word as an exact whitespace token. Scans the
    * ALREADY-TOKENIZED array, so scoring 20 markers costs one tokenize
    * + 20 array passes instead of 20 regex scans of the raw string —
    * the per-row shape that holds up at corpus scale. */
  def tokenEquals(toks: Column, word: String): Column =
    size(filter(toks, t => t === word))

  /** Heuristic quality score in [0,1]: penalizes extreme length, high
    * punctuation density, low stopword density — the standard cheap
    * pre-filter shape for web corpora. Computed by the one-scan
    * [[QualityScoreExpr]]; [[qualityScoreComposed]] is the equivalent
    * built-in-expression formulation (bit-parity spec-pinned). */
  def qualityScore(text: Column): Column = QualityScoreExpr.quality(text)

  /** Reference formulation of [[qualityScore]] from composable
    * expressions — 4+ regex passes per row; kept for regression
    * comparison and as documentation of the formula. */
  def qualityScoreComposed(text: Column): Column = {
    val nTok = tokenCount(text).cast(DoubleType)
    val nChars = length(text).cast(DoubleType)
    // NULLIF-style guard: ANSI Spark errors on /0 (empty text); null
    // ratio fails the <= test → punctOk 0, matching QualityScoreExpr
    val punctRatio = punctCount(text).cast(DoubleType) / when(nChars > 0, nChars)
    val stopRatio = (wordCount(text, "the") + wordCount(text, "and") +
      wordCount(text, "of")).cast(DoubleType) / nTok
    val lengthOk = when(nTok >= 5 && nTok <= 1000, lit(1.0)).otherwise(lit(0.0))
    val punctOk = when(punctRatio <= 0.2, lit(1.0)).otherwise(lit(0.0))
    (lengthOk + punctOk + least(stopRatio * 2.0, lit(1.0))) / 3.0
  }

  /** Marker-word language ID (n-gram heuristic): score per language =
    * marker-token hits, all counted in ONE compiled pass over one
    * tokenization ([[TokenCountsExpr]]); argmax with a fixed tie-break
    * order. Words shared between languages (e.g. "le" in fr and zh)
    * read the same counter, matching the per-word-count formulation. */
  def langId(text: Column): Column = {
    val scoreArr = TokenCountsExpr.groupCounts(tokens(text), langMarkers.map(_._2))
    // argmax with first-listed-wins tie-break: array_position returns
    // the FIRST index of the max — identical to a fold where a later
    // language replaces the best only on a strictly greater score
    element_at(
      array(langMarkers.map(s => lit(s._1)): _*),
      array_position(scoreArr, array_max(scoreArr)).cast(IntegerType))
  }

  /** [[langId]]'s languages in tie-break order, each with its marker
    * tokens; the oracle's SQL replay reads the same table. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is"),
    "es" -> Seq("el", "la", "los", "que"),
    "de" -> Seq("der", "die", "und", "nicht"),
    "fr" -> Seq("le", "les", "est", "une"),
    "zh" -> Seq("de", "shi", "bu", "le"))

  /** Normalization for fingerprinting: lowercase, strip punctuation,
    * collapse whitespace. */
  def normalize(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[.,!?;:]", ""), "\\s+", " "))

  /** Content fingerprint = md5 of normalized text (exact-dup key). */
  def fingerprint(text: Column): Column = md5(normalize(text))

  /** PII scrub, pii01's operator: `n_pii` counts the lowercase email
    * addresses in `text`, and `text` comes back with each replaced by
    * `[PII]`. Row-local codegen'd built-ins (no UDF, no state), so a
    * document stream runs it unchanged. */
  def redactPii(docs: DataFrame): DataFrame = {
    val email = "[a-z0-9]+@[a-z]+\\.[a-z]+"
    docs.withColumn("n_pii", regexp_count(col("text"), lit(email)).cast(LongType))
      .withColumn("text", regexp_replace(col("text"), email, "[PII]"))
  }

  /** Polynomial rolling hash (Karp-Rabin) over the normalized text
    * chars: h = Σ c_i · B^(n-1-i) mod M, B=131, M=1e9+7. M is kept in
    * int range so acc·B + c never overflows a long under ANSI mode.
    * Built from `aggregate` over the char codes — codegen'd, no UDF. */
  def rollingHash(text: Column): Column = {
    val m = 1000000007L
    aggregate(
      transform(split(normalize(text), ""), c => ascii(c).cast(LongType)),
      lit(0L),
      (acc, c) => pmod(acc * lit(131L) + c, lit(m)))
  }

  /** k-token shingles as an array of strings ("w1 w2 w3"). Distinct per
    * document (set semantics for Jaccard); documents with fewer than k
    * tokens yield no shingles (matching the SQL self-join formulation). */
  def shingles(text: Column, k: Int): Column = {
    val toks = tokens(text)
    when(size(toks) < k, array().cast(ArrayType(StringType)))
      .otherwise(array_distinct(
        transform(sequence(lit(0), size(toks) - k),
          i => concat_ws(" ", slice(toks, i + 1, lit(k))))))
  }

  /** MULTISET form of [[shingles]] (every occurrence, in order) — for
    * n-gram COUNTING (lm01's bigram table), where repeated shingles
    * carry the signal that set semantics would erase. Same row-local
    * construction: no join builds n-grams (the ds01 lesson). */
  def shinglesAll(text: Column, k: Int): Column = {
    val toks = tokens(text)
    when(size(toks) < k, array().cast(ArrayType(StringType)))
      .otherwise(
        transform(sequence(lit(0), size(toks) - k),
          i => concat_ws(" ", slice(toks, i + 1, lit(k)))))
  }
}
