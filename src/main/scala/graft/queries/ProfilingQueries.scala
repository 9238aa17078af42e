package graft.queries

import graft.{QueryDef, Tables}
import graft.util.Exact._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Dataset profiling: the "what is in this table" pass every ingest
  * runs before modeling (the Deequ `ColumnProfiler` / pandas-profiling
  * shape, re-expressed as single-scan aggregates). Reference analogue:
  * the notebook's ad-hoc `df.describe()`-style inspection before the
  * cleaning rules were chosen (Health+Data... ipynb cells 3-5). */
object ProfilingQueries {

  /** PER-COLUMN PROFILE of orders in ONE scan: row count, null count,
    * exact distinct count, min/max — one result row per column via
    * `stack` (the qc01 unpivot pattern). Values render as strings so
    * heterogeneous column types share one schema; numeric columns go
    * through DECIMAL and temporals through DATE so both engines print
    * identically (double→string formatting differs across engines;
    * decimal→string does not).
    *
    * 100 TB: the scan is the cost — the aggregates ride two parallel
    * passes (numeric/distinct + string min/max; see the note in
    * [[ordersProfile]]) with partial (map-side) aggregation, and
    * adding a column adds expressions, not passes per column. The
    * deliberate scale caveat is
    * `countDistinct`: exact distinct on a high-cardinality key
    * shuffles that column's values; at 100 TB flip the
    * [[ordersProfile]] `approx` knob to HLL++ sketches — wired and
    * oracle-gated as dp02 below; the profile contract
    * (one scan, stacked rows) is unchanged. */
  val dp01Profile = QueryDef("dp01_profile",
    (s, d) => ordersProfile(s, d, approx = false),
    Some(dp01OracleSql))

  /** The profiling pass as the reusable KNOB dp01's scaladoc promises:
    * `approx = false` is dp01's exact form;
    * `approx = true` swaps every exact countDistinct for HLL++
    * `approx_count_distinct` (rsd 1%) — at 100 TB that removes the
    * only per-column value shuffle (the expand feeding exact
    * distinct), leaving one scan with fixed-size mergeable sketches
    * per column. Identical contract either way: one aggregate row,
    * stacked to one output row per column. */
  def ordersProfile(s: SparkSession, d: String, approx: Boolean): DataFrame = {
      val nd: Column => Column =
        if (approx) c => approx_count_distinct(c, 0.01) else c => countDistinct(c)
      val price = money(col("o_totalprice"))
      val day = col("o_orderdate").cast("date")
      // EXACT PATH ONLY: the four STRING
      // min/max aggregates (status, priority) have immutable (string)
      // buffers, and one of them in an aggregate forces the WHOLE
      // aggregate into SortAggregate — with the exact path's
      // distinct-rewrite Expand that would sort 7× the table on both
      // sides of the exchange (measured: the two Sorts dominated dp01,
      // 3.2 s → 1.8 s at sf0.1). Split them into their own ungrouped
      // aggregate (SortAggregate with NO grouping keys needs no Sort:
      // partial min/max streams per partition) and crossJoin the two
      // 1-row frames; every numeric/distinct aggregate then rides a
      // plain HashAggregate over the Expand. Values are identical — the
      // same aggregates over the same scan, just planned in two frames.
      // The APPROX path keeps the original single-frame shape: with no
      // distinct rewrite there is no Expand, the ungrouped SortAggregate
      // never sorts, and splitting it was measured to REGRESS (a second
      // scan bought nothing).
      val o = Tables.orders(s, d)
      val numAggs = Seq(
        count(lit(1)).as("n"),
        // o_orderkey
        sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("nn1"),
        nd(col("o_orderkey")).as("nd1"),
        min(col("o_orderkey")).cast("string").as("mn1"),
        max(col("o_orderkey")).cast("string").as("mx1"),
        // o_custkey
        sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("nn2"),
        nd(col("o_custkey")).as("nd2"),
        min(col("o_custkey")).cast("string").as("mn2"),
        max(col("o_custkey")).cast("string").as("mx2"),
        // o_orderstatus (string min/max in strAggs)
        sum(when(col("o_orderstatus").isNull, 1L).otherwise(0L)).as("nn3"),
        nd(col("o_orderstatus")).as("nd3"),
        // o_totalprice (as decimal for stable rendering)
        sum(when(col("o_totalprice").isNull, 1L).otherwise(0L)).as("nn4"),
        nd(price).as("nd4"),
        min(price).cast("string").as("mn4"),
        max(price).cast("string").as("mx4"),
        // o_orderdate (as date)
        sum(when(col("o_orderdate").isNull, 1L).otherwise(0L)).as("nn5"),
        nd(day).as("nd5"),
        min(day).cast("string").as("mn5"),
        max(day).cast("string").as("mx5"),
        // o_orderpriority (string min/max in strAggs)
        sum(when(col("o_orderpriority").isNull, 1L).otherwise(0L)).as("nn6"),
        nd(col("o_orderpriority")).as("nd6"))
      val strAggs = Seq(
        min(col("o_orderstatus")).as("mn3"),
        max(col("o_orderstatus")).as("mx3"),
        min(col("o_orderpriority")).as("mn6"),
        max(col("o_orderpriority")).as("mx6"))
      val profiled =
        if (approx) // single frame: no Expand exists to poison
          o.agg((numAggs ++ strAggs).head, (numAggs ++ strAggs).tail: _*)
        else // split: Expand side stays HashAggregate, strings sort-free
          o.agg(numAggs.head, numAggs.tail: _*)
            .crossJoin(broadcast(o.agg(strAggs.head, strAggs.tail: _*)))
      profiled
        .selectExpr("n", """stack(6,
          'o_orderkey',      nn1, nd1, mn1, mx1,
          'o_custkey',       nn2, nd2, mn2, mx2,
          'o_orderstatus',   nn3, nd3, mn3, mx3,
          'o_totalprice',    nn4, nd4, mn4, mx4,
          'o_orderdate',     nn5, nd5, mn5, mx5,
          'o_orderpriority', nn6, nd6, mn6, mx6)
          as (col_name, n_null, n_distinct, min_s, max_s)""")
        .select(col("col_name"), col("n"), col("n_null"), col("n_distinct"),
          col("min_s"), col("max_s"))
        .orderBy("col_name")
  }

  // lazy: dp01Profile above references this textually-later val — a
  // strict val would still be null at dp01Profile's init
  private lazy val dp01OracleSql: String =
    s"""WITH a AS (SELECT COUNT(*) AS n,
           |  SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS nn1,
           |  COUNT(DISTINCT o_orderkey) AS nd1,
           |  CAST(MIN(o_orderkey) AS VARCHAR) AS mn1, CAST(MAX(o_orderkey) AS VARCHAR) AS mx1,
           |  SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS nn2,
           |  COUNT(DISTINCT o_custkey) AS nd2,
           |  CAST(MIN(o_custkey) AS VARCHAR) AS mn2, CAST(MAX(o_custkey) AS VARCHAR) AS mx2,
           |  SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS nn3,
           |  COUNT(DISTINCT o_orderstatus) AS nd3,
           |  MIN(o_orderstatus) AS mn3, MAX(o_orderstatus) AS mx3,
           |  SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS nn4,
           |  COUNT(DISTINCT ${sqlMoney("o_totalprice")}) AS nd4,
           |  CAST(MIN(${sqlMoney("o_totalprice")}) AS VARCHAR) AS mn4,
           |  CAST(MAX(${sqlMoney("o_totalprice")}) AS VARCHAR) AS mx4,
           |  SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS nn5,
           |  COUNT(DISTINCT CAST(o_orderdate AS DATE)) AS nd5,
           |  CAST(MIN(CAST(o_orderdate AS DATE)) AS VARCHAR) AS mn5,
           |  CAST(MAX(CAST(o_orderdate AS DATE)) AS VARCHAR) AS mx5,
           |  SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS nn6,
           |  COUNT(DISTINCT o_orderpriority) AS nd6,
           |  MIN(o_orderpriority) AS mn6, MAX(o_orderpriority) AS mx6
           |  FROM orders)
           |SELECT col_name, CAST(n AS BIGINT) AS n, CAST(n_null AS BIGINT) AS n_null,
           |  CAST(n_distinct AS BIGINT) AS n_distinct, min_s, max_s
           |FROM (
           |  SELECT n, 'o_orderkey' AS col_name, nn1 AS n_null, nd1 AS n_distinct, mn1 AS min_s, mx1 AS max_s FROM a
           |  UNION ALL SELECT n, 'o_custkey', nn2, nd2, mn2, mx2 FROM a
           |  UNION ALL SELECT n, 'o_orderstatus', nn3, nd3, mn3, mx3 FROM a
           |  UNION ALL SELECT n, 'o_totalprice', nn4, nd4, mn4, mx4 FROM a
           |  UNION ALL SELECT n, 'o_orderdate', nn5, nd5, mn5, mx5 FROM a
           |  UNION ALL SELECT n, 'o_orderpriority', nn6, nd6, mn6, mx6 FROM a)
           |ORDER BY col_name""".stripMargin

  /** The approx knob ORACLE-GATED (the x04 bound pattern): the exact
    * profile (dp01's frame, which the oracle replays) joined against
    * the `approx = true` profile on col_name, with a flag pinning each
    * column's HLL++ estimate within 5× its 1% rsd of the exact
    * distinct count. The oracle pins `within_bound = true`, so an HLL
    * regression on ANY profiled column — including the low-cardinality
    * ones where the sparse encoding must be exact — is a driver-gate
    * hash mismatch. The exact side exists because the CHECK needs
    * ground truth; production profiling at 100 TB calls
    * `ordersProfile(_, _, approx = true)` alone (no expand, no value
    * shuffle) — this query is the accuracy gate that keeps that knob
    * honest. Both sides are 6-row frames after their single-scan
    * aggregates; the join broadcasts. */
  val dp02ProfileApproxBound = QueryDef("dp02_profile_approx_bound",
    (s, d) => {
      // Don't rescan what a running pass can carry: running
      // ordersProfile twice would take THREE orders scans (exact
      // numeric frame, exact string frame, approx frame) and join two
      // stacked 6-row frames on col_name. The six HLL
      // aggregates have no distinct rewrite, so they ride the exact
      // path's ungrouped string frame (already a sort-free streaming
      // SortAggregate; one scan serves both) and the bound flag is
      // computed per column BEFORE the stack: two scans, no join, same
      // rows — frames MERGE, scans 3→2 (splitting the approx frame
      // into two scans instead would add one).
      val price = money(col("o_totalprice"))
      val day = col("o_orderdate").cast("date")
      val apx = (c: Column) => approx_count_distinct(c, 0.01)
      val o = Tables.orders(s, d)
      val exactNum = o.agg(count(lit(1)).as("n"),
        sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("nn1"),
        countDistinct(col("o_orderkey")).as("nd1"),
        min(col("o_orderkey")).cast("string").as("mn1"),
        max(col("o_orderkey")).cast("string").as("mx1"),
        sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("nn2"),
        countDistinct(col("o_custkey")).as("nd2"),
        min(col("o_custkey")).cast("string").as("mn2"),
        max(col("o_custkey")).cast("string").as("mx2"),
        sum(when(col("o_orderstatus").isNull, 1L).otherwise(0L)).as("nn3"),
        countDistinct(col("o_orderstatus")).as("nd3"),
        sum(when(col("o_totalprice").isNull, 1L).otherwise(0L)).as("nn4"),
        countDistinct(price).as("nd4"),
        min(price).cast("string").as("mn4"),
        max(price).cast("string").as("mx4"),
        sum(when(col("o_orderdate").isNull, 1L).otherwise(0L)).as("nn5"),
        countDistinct(day).as("nd5"),
        min(day).cast("string").as("mn5"),
        max(day).cast("string").as("mx5"),
        sum(when(col("o_orderpriority").isNull, 1L).otherwise(0L)).as("nn6"),
        countDistinct(col("o_orderpriority")).as("nd6"))
      val strApx = o.agg(
        min(col("o_orderstatus")).as("mn3"),
        max(col("o_orderstatus")).as("mx3"),
        min(col("o_orderpriority")).as("mn6"),
        max(col("o_orderpriority")).as("mx6"),
        apx(col("o_orderkey")).as("and1"),
        apx(col("o_custkey")).as("and2"),
        apx(col("o_orderstatus")).as("and3"),
        apx(price).as("and4"),
        apx(day).as("and5"),
        apx(col("o_orderpriority")).as("and6"))
      val wb = (nd: String, and: String) =>
        when(col(nd) === 0, col(and) === 0)
          .otherwise(abs(col(and) - col(nd)).cast(DoubleType) /
            col(nd) <= 0.05).as(s"wb${nd.stripPrefix("nd")}")
      exactNum.crossJoin(broadcast(strApx))
        .select(Seq(col("n"), col("nn1"), col("nd1"), col("mn1"), col("mx1"),
          col("nn2"), col("nd2"), col("mn2"), col("mx2"),
          col("nn3"), col("nd3"), col("mn3"), col("mx3"),
          col("nn4"), col("nd4"), col("mn4"), col("mx4"),
          col("nn5"), col("nd5"), col("mn5"), col("mx5"),
          col("nn6"), col("nd6"), col("mn6"), col("mx6")) ++
          (1 to 6).map(i => wb(s"nd$i", s"and$i")): _*)
        .selectExpr("n", """stack(6,
          'o_orderkey',      nn1, nd1, mn1, mx1, wb1,
          'o_custkey',       nn2, nd2, mn2, mx2, wb2,
          'o_orderstatus',   nn3, nd3, mn3, mx3, wb3,
          'o_totalprice',    nn4, nd4, mn4, mx4, wb4,
          'o_orderdate',     nn5, nd5, mn5, mx5, wb5,
          'o_orderpriority', nn6, nd6, mn6, mx6, wb6)
          as (col_name, n_null, n_distinct, min_s, max_s, within_bound)""")
        .select(col("col_name"), col("n"), col("n_null"), col("n_distinct"),
          col("min_s"), col("max_s"), col("within_bound"))
        .orderBy("col_name")
    },
    Some(s"""SELECT col_name, n, n_null, n_distinct, min_s, max_s,
           |  true AS within_bound
           |FROM (${dp01OracleSql.stripSuffix("ORDER BY col_name")})
           |ORDER BY col_name""".stripMargin))

  /** cv01's measures, keyed by the letter that names their sums, and
    * the 10 (x, y) pairs with x not after y. */
  private val covMeasures = Seq("q" -> "l_quantity", "p" -> "l_extendedprice",
    "d" -> "l_discount", "t" -> "l_tax")
  private val covPairs =
    for ((x, i) <- covMeasures.zipWithIndex; y <- covMeasures.drop(i)) yield (x, y)

  /** PAIRWISE COVARIANCE MATRIX of lineitem's four numeric measures in
    * ONE scan: every Σx and Σxy accumulates in DECIMAL (exact,
    * order-independent — the QueryDef parity discipline), and the
    * covariance (n·Σxy − Σx·Σy)/n² is assembled AFTER aggregation from
    * exactly-determined doubles, so both engines execute the identical
    * IEEE-754 sequence. 10 cells (4 variances + 6 covariances) unpivot
    * from one aggregate row via `stack` — profiling a wider table adds
    * expressions, never passes.
    *
    * 100 TB: one pruned 4-column scan with map-side partial sums; no
    * shuffle wider than one row. This is the exact-arithmetic sibling
    * of `covar_pop`: the built-in accumulates doubles (partial-order-
    * dependent), which can differ in the last ulp across engines and
    * partitionings — the decimal-sum form cannot. */
  val cv01CovarianceMatrix = QueryDef("cv01_covariance_matrix",
    (s, d) => {
      val m = (c: String) => money(col(c))
      // lineitemSpread: the decimal sums in the partial phase of a
      // 1-task scan would be the whole query (see Tables)
      val agg = Tables.lineitemSpread(s, d).agg(count(lit(1)).as("n"),
        covMeasures.map { case (k, c) => exactSum(m(c)).as(s"s$k") } ++
          covPairs.map { case ((k1, c1), (k2, c2)) =>
            exactSum(m(c1) * m(c2)).as(s"s$k1$k2") }: _*)
      val nD = col("n").cast(DoubleType)
      def cov(sxy: String, sx: String, sy: String) =
        round((nD * col(sxy) - col(sx) * col(sy)) / nD / nD, 6)
      agg.select(col("n"),
          cov("sqq", "sq", "sq").as("c11"), cov("sqp", "sq", "sp").as("c12"),
          cov("sqd", "sq", "sd").as("c13"), cov("sqt", "sq", "st").as("c14"),
          cov("spp", "sp", "sp").as("c22"), cov("spd", "sp", "sd").as("c23"),
          cov("spt", "sp", "st").as("c24"), cov("sdd", "sd", "sd").as("c33"),
          cov("sdt", "sd", "st").as("c34"), cov("stt", "st", "st").as("c44"))
        .selectExpr("n", """stack(10,
          'l_quantity',      'l_quantity',      c11,
          'l_quantity',      'l_extendedprice', c12,
          'l_quantity',      'l_discount',      c13,
          'l_quantity',      'l_tax',           c14,
          'l_extendedprice', 'l_extendedprice', c22,
          'l_extendedprice', 'l_discount',      c23,
          'l_extendedprice', 'l_tax',           c24,
          'l_discount',      'l_discount',      c33,
          'l_discount',      'l_tax',           c34,
          'l_tax',           'l_tax',           c44)
          as (x_col, y_col, cov)""")
        .select(col("x_col"), col("y_col"), col("n"), col("cov"))
        .orderBy("x_col", "y_col")
    },
    Some(s"""WITH a AS (SELECT COUNT(*) AS n,
           |  ${(covMeasures.map { case (k, c) => s"${sqlMoneySum(c)} AS s$k" } ++
                covPairs.map { case ((k1, c1), (k2, c2)) =>
                  s"${sqlExactSum(s"${sqlMoney(c1)} * ${sqlMoney(c2)}")} AS s$k1$k2" })
                .mkString(",\n  ")}
           |  FROM lineitem),
           |c AS (SELECT n,
           |  ROUND((n * sqq - sq * sq) / n / n, 6) AS c11,
           |  ROUND((n * sqp - sq * sp) / n / n, 6) AS c12,
           |  ROUND((n * sqd - sq * sd) / n / n, 6) AS c13,
           |  ROUND((n * sqt - sq * st) / n / n, 6) AS c14,
           |  ROUND((n * spp - sp * sp) / n / n, 6) AS c22,
           |  ROUND((n * spd - sp * sd) / n / n, 6) AS c23,
           |  ROUND((n * spt - sp * st) / n / n, 6) AS c24,
           |  ROUND((n * sdd - sd * sd) / n / n, 6) AS c33,
           |  ROUND((n * sdt - sd * st) / n / n, 6) AS c34,
           |  ROUND((n * stt - st * st) / n / n, 6) AS c44
           |  FROM a)
           |SELECT x_col, y_col, CAST(n AS BIGINT) AS n, cov FROM (
           |  SELECT n, 'l_quantity' AS x_col, 'l_quantity' AS y_col, c11 AS cov FROM c
           |  UNION ALL SELECT n, 'l_quantity', 'l_extendedprice', c12 FROM c
           |  UNION ALL SELECT n, 'l_quantity', 'l_discount', c13 FROM c
           |  UNION ALL SELECT n, 'l_quantity', 'l_tax', c14 FROM c
           |  UNION ALL SELECT n, 'l_extendedprice', 'l_extendedprice', c22 FROM c
           |  UNION ALL SELECT n, 'l_extendedprice', 'l_discount', c23 FROM c
           |  UNION ALL SELECT n, 'l_extendedprice', 'l_tax', c24 FROM c
           |  UNION ALL SELECT n, 'l_discount', 'l_discount', c33 FROM c
           |  UNION ALL SELECT n, 'l_discount', 'l_tax', c34 FROM c
           |  UNION ALL SELECT n, 'l_tax', 'l_tax', c44 FROM c)
           |ORDER BY x_col, y_col""".stripMargin))

  /** GINI CONCENTRATION of the corpus' bigram frequency distribution —
    * the mixture-balance signal ("is this corpus dominated by a few
    * phrases?") a training-data pipeline reads before weighting
    * sources. The Gini coefficient is computed from the closed form
    * over ascending-ranked counts, G = (2·Σi·cᵢ − (n+1)·Σcᵢ)/(n·Σcᵢ),
    * entirely in BIGINT (rank × count products) — no sorting of
    * floats, no libm (the mx02 TV rationale); the only float op is
    * the final division of two exactly-determined integers-as-doubles.
    * Rank ties break by term, so both engines rank identically. Also
    * reports the top-10 share (head concentration) the same way.
    *
    * 100 TB: counts come from one explode + one partial-agg shuffle;
    * the ranked pass runs over the AGGREGATED term table (vocab-sized,
    * millions not trillions — a single-partition window is fine; for
    * a billion-term vocab swap in the sh01 bucketed-rank shape). The
    * BIGINT Σi·cᵢ overflows only past ~10¹⁸ — at that scale move the
    * two sums to DECIMAL(38,0); the closed form is unchanged. */
  val gn01GiniConcentration = QueryDef("gn01_gini_concentration",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val counts = Tables.documents(s, d)
        .select(explode(graft.text.TextFunctions.shinglesAll(col("text"), 2)).as("term"))
        .groupBy("term").agg(count(lit(1)).as("c"))
      // Descending rank j relates to the ascending Gini rank i by
      // i = n − j + 1, so Σi·c = (n+1)·Σc − Σj·c and one window pass
      // serves both the Gini sum and the top-10 head share.
      val ranked = counts.withColumn("j",
        row_number().over(Window.orderBy(col("c").desc, col("term").desc))
          .cast(LongType))
      ranked.agg(
          count(lit(1)).as("n_terms"),
          sum(col("c")).as("total"),
          sum(col("j") * col("c")).as("sjc"),
          sum(when(col("j") <= 10, col("c")).otherwise(0L)).as("top10"))
        .select(col("n_terms"), col("total"),
          round(((col("n_terms") + 1) * col("total") - lit(2) * col("sjc"))
            .cast(DoubleType) / (col("n_terms") * col("total")).cast(DoubleType), 6)
            .as("gini"),
          round(col("top10").cast(DoubleType) / col("total").cast(DoubleType), 6)
            .as("top10_share"))
    },
    Some(s"""WITH ${TextQueries.sqlTok()},
           |bg AS (SELECT a.w || ' ' || b.w AS term
           |       ${TextQueries.sqlBigrams()}),
           |c AS (SELECT term, COUNT(*) AS c FROM bg GROUP BY term),
           |r AS (SELECT c, term,
           |             ROW_NUMBER() OVER (ORDER BY c DESC, term DESC) AS j FROM c)
           |SELECT COUNT(*) AS n_terms, CAST(SUM(c) AS BIGINT) AS total,
           |  ROUND(CAST((COUNT(*) + 1) * SUM(c) - 2 * SUM(j * c) AS DOUBLE)
           |        / CAST(COUNT(*) * SUM(c) AS DOUBLE), 6) AS gini,
           |  ROUND(CAST(SUM(CASE WHEN j <= 10 THEN c ELSE 0 END) AS DOUBLE)
           |        / CAST(SUM(c) AS DOUBLE), 6) AS top10_share
           |FROM r""".stripMargin))

  /** VOCABULARY GROWTH (Heaps' law, measured): docs in id-order are
    * bucketed into batches of 50; a bigram "arrives" in the batch of
    * the minimum doc_id containing it. Reports new terms per batch and
    * the running vocabulary size — the curve that says whether a
    * corpus is still contributing novel phrasing or has saturated
    * (the data-valuation signal for "should we ingest more of this
    * source"). All exact integers: min-agg per term, count per batch,
    * cumulative window over the tiny per-batch frame.
    *
    * 100 TB: explode + one term-keyed partial-agg shuffle (min is
    * mergeable); the cumulative pass runs over n_batches rows. Batch
    * id from integer `div` — no float division anywhere. */
  val vg01VocabGrowth = QueryDef("vg01_vocab_growth",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val firstSeen = Tables.documents(s, d)
        .select(expr("doc_id div 50").as("batch"),
          explode(graft.text.TextFunctions.shinglesAll(col("text"), 2)).as("term"))
        .groupBy("term").agg(min(col("batch")).as("fb"))
      firstSeen.groupBy(col("fb").as("batch"))
        .agg(count(lit(1)).as("new_terms"))
        .withColumn("cum_vocab",
          sum(col("new_terms")).over(
            Window.orderBy("batch").rowsBetween(Window.unboundedPreceding, 0)))
        .orderBy("batch")
    },
    Some(s"""WITH ${TextQueries.sqlTok()},
           |bg AS (SELECT a.doc_id // 50 AS batch, a.w || ' ' || b.w AS term
           |       ${TextQueries.sqlBigrams()}),
           |fs AS (SELECT term, MIN(batch) AS fb FROM bg GROUP BY term),
           |nb AS (SELECT fb AS batch, COUNT(*) AS new_terms FROM fs GROUP BY fb)
           |SELECT batch, new_terms,
           |  CAST(SUM(new_terms) OVER (ORDER BY batch
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_vocab
           |FROM nb ORDER BY batch""".stripMargin))

  /** ORDER-INDEPENDENT TABLE CHECKSUM (fixity audit): every row is
    * serialized to a canonical string (ints/strings verbatim, doubles
    * through DECIMAL, timestamps as epoch-µs ints, NULLs as a sentinel
    * — the dp01 rendering discipline, since double→string and
    * ts→string formats differ across engines), hashed to a 60-bit int
    * (md5 prefix), and SUMMED in unbounded-precision integers. The sum
    * is commutative, so the checksum is independent of row order,
    * partitioning, and engine — two replicas disagree iff their row
    * multisets differ (modulo 2⁶⁰-space collisions). This is the
    * replica-drift / migration-fidelity audit: run on both sides,
    * compare three numbers, no row shipping.
    *
    * 100 TB: one scan per table, hash computed scan-side, the sum is
    * a mergeable partial aggregate; output is O(tables), not O(rows). */
  val cs01TableChecksum = QueryDef("cs01_table_checksum",
    (s, d) => {
      def row(parts: org.apache.spark.sql.Column*) =
        concat_ws("|", parts.map(p => coalesce(p.cast("string"), lit("∅"))): _*)
      def h(c: org.apache.spark.sql.Column) = graft.text.TextDedup.portableTokenHash(c)
      def sum38(c: org.apache.spark.sql.Column) =
        int128(sum(int128(c))).cast("string")
      val nat = Tables.nation(s, d).select(h(row(col("n_nationkey"),
        col("n_name"), col("n_regionkey"))).as("rh"))
        .agg(count(lit(1)).as("n_rows"), sum38(col("rh")).as("checksum"))
        .select(lit("nation").as("table_name"), col("n_rows"), col("checksum"))
      val cust = Tables.customer(s, d).select(h(row(col("c_custkey"),
        col("c_name"), col("c_nationkey"),
        money(col("c_acctbal")), col("c_mktsegment"))).as("rh"))
        .agg(count(lit(1)).as("n_rows"), sum38(col("rh")).as("checksum"))
        .select(lit("customer").as("table_name"), col("n_rows"), col("checksum"))
      val ord = Tables.orders(s, d).select(h(row(col("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"),
        money(col("o_totalprice")),
        unix_micros(col("o_orderdate").cast("timestamp")),
        col("o_orderpriority"))).as("rh"))
        .agg(count(lit(1)).as("n_rows"), sum38(col("rh")).as("checksum"))
        .select(lit("orders").as("table_name"), col("n_rows"), col("checksum"))
      nat.unionAll(cust).unionAll(ord).orderBy("table_name")
    },
    Some(s"""WITH n AS (SELECT CAST(('0x' || substr(md5(
           |    concat_ws('|', COALESCE(CAST(n_nationkey AS VARCHAR), '∅'),
           |      COALESCE(n_name, '∅'),
           |      COALESCE(CAST(n_regionkey AS VARCHAR), '∅'))), 1, 15)) AS UBIGINT) AS rh
           |  FROM nation),
           |c AS (SELECT CAST(('0x' || substr(md5(
           |    concat_ws('|', COALESCE(CAST(c_custkey AS VARCHAR), '∅'),
           |      COALESCE(c_name, '∅'),
           |      COALESCE(CAST(c_nationkey AS VARCHAR), '∅'),
           |      COALESCE(CAST(${sqlMoney("c_acctbal")} AS VARCHAR), '∅'),
           |      COALESCE(c_mktsegment, '∅'))), 1, 15)) AS UBIGINT) AS rh
           |  FROM customer),
           |o AS (SELECT CAST(('0x' || substr(md5(
           |    concat_ws('|', COALESCE(CAST(o_orderkey AS VARCHAR), '∅'),
           |      COALESCE(CAST(o_custkey AS VARCHAR), '∅'),
           |      COALESCE(o_orderstatus, '∅'),
           |      COALESCE(CAST(${sqlMoney("o_totalprice")} AS VARCHAR), '∅'),
           |      COALESCE(CAST(epoch_us(o_orderdate) AS VARCHAR), '∅'),
           |      COALESCE(o_orderpriority, '∅'))), 1, 15)) AS UBIGINT) AS rh
           |  FROM orders)
           |SELECT table_name, n_rows, checksum FROM (
           |  SELECT 'nation' AS table_name, COUNT(*) AS n_rows,
           |    CAST(SUM(${sqlInt128("rh")}) AS VARCHAR) AS checksum FROM n
           |  UNION ALL SELECT 'customer', COUNT(*),
           |    CAST(SUM(${sqlInt128("rh")}) AS VARCHAR) FROM c
           |  UNION ALL SELECT 'orders', COUNT(*),
           |    CAST(SUM(${sqlInt128("rh")}) AS VARCHAR) FROM o)
           |ORDER BY table_name""".stripMargin))

  /** PER-GROUP LINEAR TREND (OLS) of weekly revenue vs calendar week —
    * the closed-form regression every KPI dashboard fits ("is this
    * nation's revenue growing, and how fast?"). Two aggregation
    * levels: (nation, epoch-week) revenue accumulates in exact integer
    * cents, then per nation the five OLS sums (n, Σx, Σy, Σxy, Σx²)
    * accumulate in DECIMAL — exact and order-independent — and
    * slope/intercept are assembled AFTER aggregation from
    * exactly-determined doubles (the cv01 discipline: both engines
    * execute the identical IEEE-754 sequence, so `round(…, 6)`
    * hash-matches). slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²), intercept =
    * (Σy − slope·Σx)/n, plus the same-sums correlation r for fit
    * quality — `sqrt` is correctly rounded by standard (the ab01
    * precedent), so it stays portable.
    *
    * 100 TB: level 1 is the only fact-sized shuffle (keyed by
    * (nation, week) — weeks spread each nation's hot key); level 2
    * aggregates a weeks×nations frame. The regression itself costs
    * five sums — no per-point pass, no window, no sort. */
  val lr01LinearFit = QueryDef("lr01_linear_fit",
    (s, d) => {
      val weekly = Tables.orders(s, d)
        .join(Tables.customer(s, d),
          col("o_custkey") === col("c_custkey"))
        .join(Tables.nation(s, d), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"),
          expr("datediff(o_orderdate, date'1970-01-01') div 7").as("wk"))
        .agg(sum(cents(col("o_totalprice"))).as("cents"))
      val (x, y) = (int128(col("wk")), int128(col("cents")))
      val sums = weekly.groupBy("n_name").agg(
        count(lit(1)).as("n_weeks"),
        exactSum(x).as("sx"), exactSum(y).as("sy"), exactSum(x * y).as("sxy"),
        exactSum(x * x).as("sxx"), exactSum(y * y).as("syy"))
      val nD = col("n_weeks").cast(DoubleType)
      val slope = (nD * col("sxy") - col("sx") * col("sy")) /
        (nD * col("sxx") - col("sx") * col("sx"))
      sums.select(col("n_name"), col("n_weeks"),
          round(slope, 6).as("slope_cents_per_week"),
          round((col("sy") - slope * col("sx")) / nD, 2).as("intercept_cents"),
          round((nD * col("sxy") - col("sx") * col("sy")) /
            sqrt((nD * col("sxx") - col("sx") * col("sx")) *
              (nD * col("syy") - col("sy") * col("sy"))), 6).as("r"))
        .orderBy("n_name")
    },
    Some(s"""WITH weekly AS (SELECT n_name,
           |    datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) // 7 AS wk,
           |    CAST(SUM(${sqlCents("o_totalprice")})
           |      AS BIGINT) AS cents
           |  FROM orders JOIN customer ON o_custkey = c_custkey
           |  JOIN nation ON c_nationkey = n_nationkey
           |  GROUP BY 1, 2),
           |s AS (SELECT n_name, COUNT(*) AS n_weeks,
           |    ${sqlExactSum(sqlInt128("wk"))} AS sx,
           |    ${sqlExactSum(sqlInt128("cents"))} AS sy,
           |    ${sqlExactSum(s"${sqlInt128("wk")} * ${sqlInt128("cents")}")} AS sxy,
           |    ${sqlExactSum(s"${sqlInt128("wk")} * ${sqlInt128("wk")}")} AS sxx,
           |    ${sqlExactSum(s"${sqlInt128("cents")} * ${sqlInt128("cents")}")} AS syy
           |  FROM weekly GROUP BY 1)
           |SELECT n_name, n_weeks,
           |  ROUND((n_weeks * sxy - sx * sy) / (n_weeks * sxx - sx * sx), 6)
           |    AS slope_cents_per_week,
           |  ROUND((sy - (n_weeks * sxy - sx * sy) / (n_weeks * sxx - sx * sx) * sx)
           |    / n_weeks, 2) AS intercept_cents,
           |  ROUND((n_weeks * sxy - sx * sy) /
           |    SQRT((n_weeks * sxx - sx * sx) * (n_weeks * syy - sy * sy)), 6) AS r
           |FROM s ORDER BY n_name""".stripMargin))

  /** The bucketed-rank Gini gn01's own scaladoc promises for a
    * billion-term vocab: IDENTICAL output (same oracle), but the
    * vocab-sized global rank window is ELIMINATED, not bucketed —
    * two observations make per-term ranks unnecessary:
    *  1. In the (c desc, term desc) order, all m terms sharing a count
    *     c occupy the contiguous rank run [J+1, J+m] (J = terms with a
    *     strictly greater count), so the rank-weighted sum over the
    *     group has the closed form Σ j·c = c·(J·m + m·(m+1) div 2) —
    *     only the count HISTOGRAM (c, m) is needed, never a row rank.
    *  2. J itself is a prefix sum over that histogram, two-phased
    *     sh01-style: integer log2 buckets via length(bin(c)) (exact —
    *     no libm log2, whose 2.999… at powers of two would misbucket),
    *     ≤64 buckets, contiguous in the c order; cross-bucket offsets
    *     come from a ≤64×64 triangle self-join (window-free, so the
    *     audited unpartitioned-window set is untouched); the
    *     within-bucket prefix window PARTITIONS by bucket. Band
    *     [2^b, 2^(b+1)) holds ≤ min(2^b, Σc/2^b) distinct counts, so
    *     no bucket partition can blow up.
    * The top-10 head share collapses to the SAME closed form: the tie
    * group at c occupies ranks (J, J+m], of which max(0, min(m, 10−J))
    * fall in the head, so top10 = Σ c·clamp(10−J, 0, m) — the per-term
    * tie-break never changes which COUNT VALUES land in the head, so
    * no rank, no TakeOrdered, no second corpus-scale branch at all.
    * 100 TB: one explode + one term-keyed shuffle (as gn01), then ONE
    * histogram-keyed shuffle — the histogram is #distinct-count-values
    * rows, Zipf-tiny vs the vocab, and it is sharedInPlan so its two
    * small-frame consumers (bucket totals, ranked rows) hit one
    * materialization instead of re-running the corpus scan (Spark's
    * exchange reuse does NOT dedupe this diamond: downstream pruning
    * differentiates the subtrees) — the billion-term vocab never
    * sorts or windows anywhere in the plan. */
  val gn02GiniBucketed = QueryDef("gn02_gini_bucketed",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val counts = Tables.documents(s, d)
        .select(explode(graft.text.TextFunctions.shinglesAll(col("text"), 2)).as("term"))
        .groupBy("term").agg(count(lit(1)).as("c"))
      val hist = org.apache.spark.sql.graftbridge.GraftSqlBridge.sharedInPlan(
        counts.groupBy("c").agg(count(lit(1)).as("m"))
          .withColumn("bl", length(bin(col("c")))))
      // terms strictly above bucket bl — window-free ≤64×64 triangle
      val bTot = hist.groupBy("bl").agg(sum(col("m")).as("bm"))
      val bOff = bTot.alias("a")
        .join(bTot.alias("b"), col("b.bl") > col("a.bl"), "left")
        .groupBy(col("a.bl").as("bl"))
        .agg(coalesce(sum(col("b.bm")), lit(0L)).as("j0"))
      // + terms strictly above c WITHIN the bucket (partitioned window)
      val before = Window.partitionBy("bl").orderBy(col("c").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val withJ = hist.join(broadcast(bOff), "bl")
        .withColumn("j_lo", col("j0") + coalesce(sum(col("m")).over(before), lit(0L)))
      withJ.agg(
          sum(col("m")).as("n_terms"),
          sum(col("m") * col("c")).as("total"),
          sum(expr("c * (j_lo * m + (m * (m + 1)) div 2)")).as("sjc"),
          sum(col("c") * greatest(lit(0L),
            least(col("m"), lit(10L) - col("j_lo")))).as("top10"))
        .select(
          col("n_terms"), col("total"),
          round(((col("n_terms") + 1) * col("total") - lit(2) * col("sjc"))
            .cast(DoubleType) / (col("n_terms") * col("total")).cast(DoubleType), 6)
            .as("gini"),
          round(col("top10").cast(DoubleType) / col("total").cast(DoubleType), 6)
            .as("top10_share"))
    },
    gn01GiniConcentration.oracle)

  val all: Seq[QueryDef] = Seq(dp01Profile, dp02ProfileApproxBound,
    cv01CovarianceMatrix,
    gn01GiniConcentration, gn02GiniBucketed, vg01VocabGrowth,
    cs01TableChecksum, lr01LinearFit)
}
