package graft.queries

import graft.{QueryDef, Tables}
import graft.text.TextFunctions
import graft.util.Exact._
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus indexing structures: the inverted index (search/retrieval),
  * asymmetric shingle containment (quote/subset detection — what
  * symmetric Jaccard misses), and the n-gram LM table (the classic
  * data-quality scorer's backbone). All exact and oracle-gated. */
object IndexQueries {

  /** INVERTED INDEX build (bigram term → df, tf, bounded posting list)
    * in the TWO-PASS shape: pass 1 computes df/tf per term and filters
    * to the useful band (df ∈ [3, 50] — drops hapaxes AND would drop
    * stopword-grade terms); pass 2 collects postings ONLY for
    * qualifying terms. The order matters at scale: a single-pass
    * collect_list would materialize a hot term's full posting array in
    * one aggregation buffer before any truncation could bite — the
    * df-filter-then-join form never builds a hot term's postings at
    * all. Terms are BIGRAMS (phrase search's unit; the corpus'
    * unigram vocabulary is ~31 tokens, all stopword-grade — every
    * real index drops that band). Postings are sorted, truncated to
    * 10, and CSV-serialized (driver compare sorts rows in pandas,
    * where raw array cells are unhashable — the f05 rule).
    *
    * 100 TB: explode + two term-keyed shuffles; AQE broadcasts the
    * filtered stats side when small. The df band is the skew guard. */
  val ix01InvertedIndex = QueryDef("ix01_inverted_index",
    (s, d) => {
      // explode ONCE, collapse to (term, doc) immediately (the ppx01
      // shape): df is then a plain row count and tf a sum — no
      // countDistinct over occurrences — and the postings pass joins
      // the same pre-aggregated frame (identical exchange →
      // ReusedExchange), so the occurrence stream is scanned once
      val dtc = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(TextFunctions.shinglesAll(col("text"), 2)).as("term"))
        .groupBy("term", "doc_id").agg(count(lit(1)).as("cnt"))
      val stats = dtc.groupBy("term")
        .agg(count(lit(1)).as("df"), sum(col("cnt")).cast("bigint").as("tf"))
        .filter(col("df").between(3, 50))
      dtc.join(stats, Seq("term"))
        .groupBy("term", "df", "tf")
        .agg(array_join(
          slice(sort_array(collect_set(col("doc_id"))), 1, 10)
            .cast("array<string>"), ",").as("postings10"))
        .orderBy("term")
    },
    Some(s"""WITH ${TextQueries.sqlTok()},
           |term AS (SELECT a.doc_id, a.w || ' ' || b.w AS term
           |         ${TextQueries.sqlBigrams()})
           |SELECT term, COUNT(DISTINCT doc_id) AS df, COUNT(*) AS tf,
           |  array_to_string(list_sort(list_distinct(list(doc_id)))[1:10], ',') AS postings10
           |FROM term GROUP BY term
           |HAVING COUNT(DISTINCT doc_id) BETWEEN 3 AND 50
           |ORDER BY term""".stripMargin))

  /** ASYMMETRIC SHINGLE CONTAINMENT (Broder's containment, the
    * quote/excerpt detector): C(A,B) = |S(A) ∩ S(B)| / |S(A)| ≥ 0.9
    * flags probe A as essentially contained in document B — a relation
    * symmetric Jaccard structurally misses when |A| ≪ |B| (the small
    * quote inside the big doc drags J below any useful threshold while
    * containment sits at 1.0). The probe side is CONSTRUCTED quotes —
    * the first 8 tokens of every 20th doc — so every probe has a known
    * true source (containment exactly 1.0 there) and the oracle
    * verifies both the detector's hits and its integer arithmetic:
    * the threshold applies as the cross-multiply 10·inter ≥ 9·|S(A)|
    * and the reported value divides two exactly-determined integers.
    * Intersections come from the shingle inverted index (pairs only
    * where a shingle is shared — never all-pairs), and cross-only
    * pairing (probe × corpus) keeps fan-out output-bound (the dc03
    * lesson: corpus near-dup families never pair among themselves).
    *
    * Reference: the dedup pass in load_hhs.py:98-105 is exact-key
    * only; containment is the extension its quote-heavy analogue
    * would need. */
  val dd12Containment = QueryDef("dd12_containment",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val ex = docs.filter(Probe.scoped(col("doc_id") % 20 === 0))
        .select(col("doc_id").as("ex_id"),
          concat_ws(" ", slice(TextFunctions.tokens(col("text")), 1, 8)).as("text"))
      val esh = ex.select(col("ex_id"),
        explode(TextFunctions.shingles(col("text"), 2)).as("s"))
      val dsh = docs.select(col("doc_id"),
        explode(TextFunctions.shingles(col("text"), 2)).as("s"))
      val sizes = esh.groupBy("ex_id").agg(count(lit(1)).as("n"))
      // broadcast the PROBE-side shingles: esh is
      // 1/20 of docs × ≤7 prefix shingles — small by construction at
      // any corpus size — while dsh is the full corpus shingle stream.
      // Unhinted, Spark's size estimate (raw parquet bytes, blind to
      // the explode fan-out) picked the CORPUS side as the build side;
      // the hint pins the only side that stays broadcastable at scale,
      // and the intersection count then partial-aggregates map-side
      // without dsh ever crossing an exchange.
      val inter = broadcast(esh).join(dsh, Seq("s"))
        .groupBy("ex_id", "doc_id").agg(count(lit(1)).as("inter"))
      inter.join(sizes, Seq("ex_id"))
        .filter(col("inter") * 10 >= col("n") * 9)
        .select(col("ex_id"), col("doc_id"), col("inter"), col("n"),
          round(col("inter").cast("double") / col("n").cast("double"), 6)
            .as("containment"))
        .orderBy("ex_id", "doc_id")
    },
    Some(s"""WITH ex AS (SELECT doc_id AS ex_id,
           |        array_to_string((${TextQueries.sqlTokArr})[1:8], ' ') AS text
           |      FROM documents WHERE doc_id % 20 = 0),
           |${TextQueries.sqlTok("etok", "ex", "ex_id", "regexp_split_to_array(text, '\\s+')")},
           |esh AS (SELECT DISTINCT a.ex_id, a.w || ' ' || b.w AS s
           |        ${TextQueries.sqlBigrams("etok", "ex_id")}),
           |${TextQueries.sqlTok("dtok")},
           |dsh AS (SELECT DISTINCT a.doc_id, a.w || ' ' || b.w AS s
           |        ${TextQueries.sqlBigrams("dtok")}),
           |sizes AS (SELECT ex_id, COUNT(*) AS n FROM esh GROUP BY ex_id),
           |inter AS (SELECT e.ex_id, d.doc_id, COUNT(*) AS inter
           |          FROM esh e JOIN dsh d ON e.s = d.s GROUP BY 1, 2)
           |SELECT i.ex_id, i.doc_id, i.inter, z.n,
           |  round(CAST(i.inter AS DOUBLE) / CAST(z.n AS DOUBLE), 6) AS containment
           |FROM inter i JOIN sizes z USING (ex_id)
           |WHERE i.inter * 10 >= z.n * 9
           |ORDER BY ex_id, doc_id""".stripMargin))

  /** BIGRAM NEXT-TOKEN TABLE (the n-gram LM the KenLM-style quality
    * scorers train): for every context token seen ≥ 100 times, the
    * top-3 next tokens by count with a deterministic (count DESC,
    * token ASC) tie-break. Counts are exact integers; the rank is a
    * per-context row_number (qf01 shape). Context totals ride the same
    * aggregation's window — no second scan.
    *
    * 100 TB: bigram extraction is row-local (the ds01 lesson — no join
    * builds n-grams); one shuffle by (ctx, nxt) to count, one by ctx
    * to rank. Stopword contexts are hot keys: the windowed top-k here
    * is fine because rows-per-context is already collapsed to DISTINCT
    * next tokens; raw-event top-k under skew goes through TopKAgg's
    * heap (w05) instead. */
  val lm01BigramNext = QueryDef("lm01_bigram_next",
    (s, d) => {
      val pairs = Tables.documents(s, d)
        .select(explode(TextFunctions.shinglesAll(col("text"), 2)).as("sh"))
        .select(split(col("sh"), " ").getItem(0).as("ctx"),
          split(col("sh"), " ").getItem(1).as("nxt"))
        .groupBy("ctx", "nxt").agg(count(lit(1)).as("cnt"))
      val byCtx = Window.partitionBy("ctx")
      // rank FIRST, total SECOND: row_number's window sorts
      // by (ctx, cnt desc, nxt); the unordered sum-over-ctx window only
      // requires clustering by ctx, which that ordering already
      // satisfies — this order plans ONE sort between the two windows
      // where the reverse order needed two (sort by ctx, then re-sort
      // by (ctx, cnt desc, nxt)). Same two window functions, same
      // values, one less vocab-sized sort.
      val ranked = pairs
        .withColumn("rk", row_number().over(
          byCtx.orderBy(col("cnt").desc, col("nxt"))).cast("long"))
        .withColumn("ctx_total", sum(col("cnt")).over(byCtx))
      ranked.filter(col("ctx_total") >= 100 && col("rk") <= 3)
        .select(col("ctx"), col("nxt"), col("cnt"), col("ctx_total"), col("rk"))
        .orderBy("ctx", "rk")
    },
    Some(s"""WITH ${TextQueries.sqlTok()},
           |big AS (SELECT a.w AS ctx, b.w AS nxt, COUNT(*) AS cnt
           |        ${TextQueries.sqlBigrams()}
           |        GROUP BY 1, 2),
           |r AS (SELECT ctx, nxt, cnt,
           |        CAST(SUM(cnt) OVER (PARTITION BY ctx) AS BIGINT) AS ctx_total,
           |        ROW_NUMBER() OVER (PARTITION BY ctx
           |          ORDER BY cnt DESC, nxt) AS rk
           |      FROM big)
           |SELECT ctx, nxt, cnt, ctx_total, CAST(rk AS BIGINT) AS rk
           |FROM r WHERE ctx_total >= 100 AND rk <= 3
           |ORDER BY ctx, rk""".stripMargin))

  /** x⁴ as a product of four int128 factors, and its SQL twin. */
  private def pow4(x: String): Column = Seq.fill(4)(int128(col(x))).reduce(_ * _)
  private def sqlPow4(x: String): String = Seq.fill(4)(sqlInt128(x)).mkString(" * ")

  /** QUANTIZED CONDITIONAL SURPRISAL (the KenLM-style LM quality
    * scorer, made bit-portable): per-doc mean of
    * floor(4·log₂(T_ctx/c)) over its bigram occurrences, where c is
    * the bigram count and T_ctx the context total — i.e. −log₂ of the
    * conditional bigram probability in quarter-bit units. High mean
    * surprisal = unusual phrasing (the CCNet/Gopher perplexity filter
    * signal); low = boilerplate.
    *
    * NO LOGARITHM IS EVER EVALUATED. floor(log₂(T/c)) = max k with
    * c·2ᵏ ≤ T (row-local exact bit length of T div c — see the note
    * at the computation), and the two fractional bits come from comparing
    * c⁴·2⁴ᵇ·{2,4,8} ≤ T⁴ in DECIMAL(38,0) — floor(4·log₂ r) = 4b+f
    * exactly, because x ∈ [1,2) ⇒ floor(log₂ x⁴) = floor(4·log₂ x).
    * Cross-checked against float log₂ on every term at build time;
    * libm never enters, so both engines agree bit-for-bit (the mx02
    * no-libm rationale, extended to a logarithmic statistic).
    *
    * Bounds: T⁴ fits DECIMAL(38,0)/int128 up to T ≈ 3·10⁹ context
    * occurrences — beyond that, shard contexts or drop to 2 fractional
    * bits. 100 TB: counts are one partial-agg shuffle; the per-term
    * qbits table is vocab-sized and BROADCAST back onto the occurrence
    * stream; the powers join is 40 rows. */
  val ppx01QuantizedSurprisal = QueryDef("ppx01_quantized_surprisal",
    (s, d) => {
      // explode ONCE and collapse to (doc, term) occurrence counts
      // immediately: `dt` is the shared base for both the term-level
      // LM counts and the final per-doc scoring join (its exchange is
      // identical in both uses → ReusedExchange), so no second pass
      // over the occurrence stream exists anywhere in the plan
      val dt = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(TextFunctions.shinglesAll(col("text"), 2)).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("occ"))
      val c = dt.groupBy("term").agg(sum(col("occ")).cast("bigint").as("c"))
        .withColumn("ctx", split(col("term"), " ").getItem(0))
      val t = c.groupBy("ctx").agg(sum(col("c")).cast("bigint").as("tc"))
      // b = max k with c·2ᵏ ≤ tc, computed ROW-LOCALLY: since
      // 2ᵏ is an integer, c·2ᵏ ≤ tc ⟺ 2ᵏ ≤ tc div c, so
      // b = floor(log₂(tc div c)) = length(bin(tc div c)) − 1 — the
      // gn02 exact-bit-length trick (no libm log2, whose 2.999… at
      // powers of two would mis-floor). The old shape derived the same
      // b from a 40-row broadcast nested-loop powers join (×40 row
      // fan-out on the vocab frame) + a re-aggregation; this is one
      // codegen'd expression per vocab row, and keeps the old form's
      // k ≤ 39 cap so the two are value-identical on any input either
      // handles (tc div c ≥ 1 always: c ≤ tc by construction).
      val b = c.join(t, Seq("ctx"))
        .withColumn("b", least(length(bin(expr("tc div c"))).cast("long") - 1L,
          lit(39L)))
        .withColumn("pb", expr("shiftleft(cast(1 as bigint), cast(b as int))"))
      val (c4, pb4, tc4) = (pow4("c"), pow4("pb"), pow4("tc"))
      val qb = b.select(col("term"), (lit(4L) * col("b") +
          when(c4 * pb4 * 8 <= tc4, 3L)
            .when(c4 * pb4 * 4 <= tc4, 2L)
            .when(c4 * pb4 * 2 <= tc4, 1L).otherwise(0L))
          .cast("bigint").as("qbits"))
      dt.join(broadcast(qb), Seq("term"))
        .groupBy("doc_id")
        .agg(sum(col("occ")).cast("bigint").as("n_bigrams"),
          sum(col("occ") * col("qbits")).cast("bigint").as("sum_qbits"))
        .select(col("doc_id"), col("n_bigrams"), col("sum_qbits"),
          round(col("sum_qbits").cast("double") /
            (lit(4.0) * col("n_bigrams").cast("double")), 6).as("avg_bits"))
        .orderBy("doc_id")
    },
    Some(s"""WITH ${TextQueries.sqlTok()},
           |bg AS (SELECT a.doc_id, a.w AS ctx, a.w || ' ' || b.w AS term
           |       ${TextQueries.sqlBigrams()}),
           |c AS (SELECT ctx, term, COUNT(*) AS c FROM bg GROUP BY 1, 2),
           |t AS (SELECT ctx, CAST(SUM(c) AS BIGINT) AS tc FROM c GROUP BY 1),
           |pw AS (SELECT k, CAST(1 AS BIGINT) << k AS p
           |       FROM (SELECT unnest(range(0, 40)) AS k)),
           |b AS (SELECT c.term, c.c, t.tc, MAX(pw.k) AS b, MAX(pw.p) AS pb
           |      FROM c JOIN t USING (ctx)
           |      JOIN pw ON pw.p <= t.tc AND c.c * pw.p <= t.tc
           |      GROUP BY 1, 2, 3),
           |qb AS (SELECT term, CAST(4 * b +
           |    CASE WHEN ${sqlPow4("c")} * (${sqlPow4("pb")}) * 8
           |              <= ${sqlPow4("tc")} THEN 3
           |         WHEN ${sqlPow4("c")} * (${sqlPow4("pb")}) * 4
           |              <= ${sqlPow4("tc")} THEN 2
           |         WHEN ${sqlPow4("c")} * (${sqlPow4("pb")}) * 2
           |              <= ${sqlPow4("tc")} THEN 1
           |         ELSE 0 END AS BIGINT) AS qbits FROM b)
           |SELECT d.doc_id, COUNT(*) AS n_bigrams,
           |  CAST(SUM(q.qbits) AS BIGINT) AS sum_qbits,
           |  ROUND(CAST(SUM(q.qbits) AS DOUBLE) / (4.0 * COUNT(*)), 6) AS avg_bits
           |FROM bg d JOIN qb q USING (term)
           |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin))

  val all: Seq[QueryDef] = Seq(ix01InvertedIndex, dd12Containment, lm01BigramNext,
    ppx01QuantizedSurprisal)
}
