package graft.queries

import graft.{QueryDef, Tables}
import graft.util.Exact._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Breadth beyond the reference's surface: outer joins, scalar string/
  * date functions, conditional aggregation, ranking windows, exact
  * quartiles — the rest of what "a user could switch engines" implies.
  * All oracle-checked. */
object BreadthQueries {

  /** LEFT OUTER join — the right side is filtered to recent orders so
    * some customers genuinely null-extend (at sf0.01 every customer has
    * *some* order; without the filter the outer branch never fires). */
  val j01LeftOuter = QueryDef("j01_left_outer",
    (s, d) => Tables.customer(s, d)
      .join(Tables.orders(s, d)
        .filter(col("o_orderdate") >= to_timestamp(lit("2001-01-01 00:00:00")))
        .groupBy("o_custkey").agg(count(lit(1)).as("n_orders")),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .select(col("c_custkey"), coalesce(col("n_orders"), lit(0L)).as("n_orders"))
      .orderBy("c_custkey"),
    Some("""SELECT c_custkey, COALESCE(n_orders, 0) AS n_orders
           |FROM customer LEFT JOIN (
           |  SELECT o_custkey, COUNT(*) AS n_orders FROM orders
           |  WHERE o_orderdate >= TIMESTAMP '2001-01-01 00:00:00'
           |  GROUP BY o_custkey) o
           |ON c_custkey = o_custkey ORDER BY c_custkey""".stripMargin))

  /** FULL OUTER join between two key sets with disjoint parts. */
  val j02FullOuter = QueryDef("j02_full_outer",
    (s, d) => {
      val custNations = Tables.customer(s, d).groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_cust"))
      // filter so some nations are supplier-less → both outer branches fire
      val suppNations = Tables.supplier(s, d)
        .filter(col("s_nationkey") < 10).groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_supp"))
      custNations.join(suppNations,
        col("c_nationkey") === col("s_nationkey"), "full_outer")
        .select(
          coalesce(col("c_nationkey"), col("s_nationkey")).as("nationkey"),
          coalesce(col("n_cust"), lit(0L)).as("n_cust"),
          coalesce(col("n_supp"), lit(0L)).as("n_supp"))
        .orderBy("nationkey")
    },
    Some("""SELECT COALESCE(c_nationkey, s_nationkey) AS nationkey,
           |  COALESCE(n_cust, 0) AS n_cust, COALESCE(n_supp, 0) AS n_supp
           |FROM (SELECT c_nationkey, COUNT(*) AS n_cust FROM customer GROUP BY c_nationkey) c
           |FULL JOIN (SELECT s_nationkey, COUNT(*) AS n_supp FROM supplier
           |           WHERE s_nationkey < 10 GROUP BY s_nationkey) s
           |ON c_nationkey = s_nationkey ORDER BY nationkey""".stripMargin))

  /** Scalar string functions: substr/upper/concat/like/length/replace. */
  val f01StringFuncs = QueryDef("f01_string_funcs",
    (s, d) => Tables.part(s, d).select(
      col("p_partkey"),
      upper(substring(col("p_name"), 1, 8)).as("name_prefix"),
      concat_ws("-", col("p_brand"), col("p_type")).as("brand_type"),
      col("p_name").like("%gold%").as("has_gold"),
      length(col("p_name")).cast(LongType).as("name_len"),
      regexp_replace(col("p_type"), "[aeiou]", "_").as("devoweled"))
      .orderBy("p_partkey"),
    Some("""SELECT p_partkey,
           |  upper(substring(p_name, 1, 8)) AS name_prefix,
           |  concat_ws('-', p_brand, p_type) AS brand_type,
           |  p_name LIKE '%gold%' AS has_gold,
           |  length(p_name) AS name_len,
           |  regexp_replace(p_type, '[aeiou]', '_', 'g') AS devoweled
           |FROM part ORDER BY p_partkey""".stripMargin))

  /** Date functions: extract parts, date arithmetic, datediff, trunc. */
  val f02DateFuncs = QueryDef("f02_date_funcs",
    (s, d) => Tables.orders(s, d).select(
      col("o_orderkey"),
      year(col("o_orderdate")).cast(LongType).as("yr"),
      month(col("o_orderdate")).cast(LongType).as("mo"),
      dayofweek(col("o_orderdate")).cast(LongType).as("dow_sun1"),
      date_add(col("o_orderdate").cast("date"), 30).as("due_date"),
      datediff(lit("2002-01-01").cast("date"), col("o_orderdate").cast("date"))
        .cast(LongType).as("days_to_2002"))
      .orderBy("o_orderkey"),
    Some("""SELECT o_orderkey,
           |  EXTRACT(year FROM o_orderdate) AS yr,
           |  EXTRACT(month FROM o_orderdate) AS mo,
           |  EXTRACT(dow FROM o_orderdate) + 1 AS dow_sun1,
           |  CAST(o_orderdate AS DATE) + 30 AS due_date,
           |  date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS days_to_2002
           |FROM orders ORDER BY o_orderkey""".stripMargin))

  /** Conditional aggregation: FILTER-style counts and sums in one pass. */
  val f03ConditionalAgg = QueryDef("f03_conditional_agg",
    (s, d) => Tables.lineitem(s, d).groupBy("l_linestatus").agg(
      count(lit(1)).as("n"),
      count(when(col("l_returnflag") === "R", 1)).as("n_returned"),
      exactSum(when(col("l_discount") > 0.05, money(col("l_extendedprice"))))
        .as("deep_discount_base"),
      max(when(col("l_quantity") >= 49, col("l_quantity"))).as("max_bulk_qty"))
      .orderBy("l_linestatus"),
    Some(s"""SELECT l_linestatus, COUNT(*) AS n,
           |  COUNT(*) FILTER (l_returnflag = 'R') AS n_returned,
           |  CAST(SUM(${sqlMoney("l_extendedprice")}) FILTER (l_discount > 0.05) AS DOUBLE) AS deep_discount_base,
           |  MAX(l_quantity) FILTER (l_quantity >= 49) AS max_bulk_qty
           |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin))

  /** Ranking windows: rank / dense_rank / ntile over grouped revenue. */
  val w04RankNtile = QueryDef("w04_rank_ntile",
    (s, d) => {
      val byNation = Tables.customer(s, d).groupBy("c_nationkey")
        .agg(moneySum(col("c_acctbal")).as("bal"))
      val w = Window.orderBy(col("bal").desc, col("c_nationkey"))
      byNation.select(
        col("c_nationkey"), col("bal"),
        rank().over(w).cast(LongType).as("rnk"),
        dense_rank().over(w).cast(LongType).as("drnk"),
        ntile(4).over(w).cast(LongType).as("quartile"))
        .orderBy("rnk", "c_nationkey")
    },
    Some(s"""WITH b AS (SELECT c_nationkey,
           |  ${sqlMoneySum("c_acctbal")} AS bal
           |  FROM customer GROUP BY c_nationkey)
           |SELECT c_nationkey, bal,
           |  RANK() OVER w AS rnk, DENSE_RANK() OVER w AS drnk,
           |  NTILE(4) OVER w AS quartile
           |FROM b WINDOW w AS (ORDER BY bal DESC, c_nationkey)
           |ORDER BY rnk, c_nationkey""".stripMargin))

  /** Exact quartiles of an integral column — p ∈ {.25,.5,.75} have
    * binary-exact interpolation fractions, so Spark's percentile and
    * DuckDB's quantile_cont produce identical doubles. */
  val f04Quartiles = QueryDef("f04_quartiles",
    (s, d) => Tables.lineitem(s, d).groupBy("l_returnflag").agg(
      expr("percentile(l_quantity, 0.25)").as("q1"),
      expr("percentile(l_quantity, 0.5)").as("median"),
      expr("percentile(l_quantity, 0.75)").as("q3"))
      .orderBy("l_returnflag"),
    Some("""SELECT l_returnflag,
           |  quantile_cont(l_quantity, 0.25) AS q1,
           |  quantile_cont(l_quantity, 0.5) AS median,
           |  quantile_cont(l_quantity, 0.75) AS q3
           |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin))

  /** RANGE-frame window: per-customer trailing-30-day order count and
    * revenue at every order. The frame is defined on the ORDER KEY'S
    * VALUE (epoch day), not row position — peers (same customer, same
    * day) always share a frame, so the result is deterministic under
    * any shuffle order, unlike a ROWS frame over a non-unique key. The
    * decimal sum keeps the window aggregate order-independent; output
    * is keyed by o_orderkey for a total sort. */
  val w07RangeFrame = QueryDef("w07_range_frame",
    (s, d) => {
      val base = Tables.orders(s, d).select(
        col("o_orderkey"), col("o_custkey"),
        datediff(col("o_orderdate").cast("date"), lit("1970-01-01").cast("date"))
          .cast(LongType).as("epoch_day"),
        money(col("o_totalprice")).as("__price"))
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("epoch_day"))
        .rangeBetween(-30, Window.currentRow)
      base.select(
        col("o_orderkey"), col("o_custkey"), col("epoch_day"),
        count(lit(1)).over(w).as("n_30d"),
        sum(col("__price")).over(w).cast(DoubleType).as("rev_30d"))
        .orderBy("o_orderkey")
    },
    Some(s"""WITH b AS (SELECT o_orderkey, o_custkey,
           |    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS epoch_day,
           |    ${sqlMoney("o_totalprice")} AS price
           |  FROM orders)
           |SELECT o_orderkey, o_custkey, epoch_day,
           |  COUNT(*) OVER w AS n_30d,
           |  CAST(SUM(price) OVER w AS DOUBLE) AS rev_30d
           |FROM b WINDOW w AS (PARTITION BY o_custkey ORDER BY epoch_day
           |  RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
           |ORDER BY o_orderkey""".stripMargin))

  /** Array higher-order functions — transform (with and without the
    * index lambda), filter, and a fold — over a row-local token array.
    * Everything stays inside the row (no explode/shuffle): the
    * HOF-composition shape that keeps array work scan-side at scale.
    * Array outputs are string-joined so both engines hash the same
    * scalar encodings. */
  val f07ArrayHof = QueryDef("f07_array_hof",
    (s, d) => Tables.part(s, d)
      .select(col("p_partkey"), split(col("p_name"), " ").as("toks"))
      .select(
        col("p_partkey"),
        size(col("toks")).cast(LongType).as("n_toks"),
        aggregate(col("toks"), lit(0L), (a, x) => a + length(x)).as("total_chars"),
        array_join(filter(col("toks"), x => length(x) > 5), " ").as("long_toks"),
        array_join(transform(col("toks"),
          (x, i) => concat((i + 1).cast("string"), lit(":"), x)), ",").as("indexed"),
        array_join(array_sort(col("toks")), " ").as("sorted_toks"))
      .orderBy("p_partkey"),
    Some("""WITH b AS (SELECT p_partkey, string_split(p_name, ' ') AS toks FROM part)
           |SELECT p_partkey,
           |  len(toks) AS n_toks,
           |  CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS total_chars,
           |  COALESCE(array_to_string(list_filter(toks, x -> length(x) > 5), ' '), '') AS long_toks,
           |  array_to_string(list_transform(toks, (x, i) -> concat(i, ':', x)), ',') AS indexed,
           |  array_to_string(list_sort(toks), ' ') AS sorted_toks
           |FROM b ORDER BY p_partkey""".stripMargin))

  /** Value-picking and distribution windows: first_value / last_value
    * (with the explicit unbounded-following frame last_value needs in
    * BOTH engines — the default frame silently returns the current row),
    * lag with a default, percent_rank, cume_dist. Ordered by the unique
    * customer key within each nation, so every function is
    * deterministic; percent_rank/cume_dist divide exact integer
    * rank/count pairs — identical IEEE doubles in both engines. */
  val w08ValueWindows = QueryDef("w08_value_windows",
    (s, d) => {
      val w = Window.partitionBy(col("c_nationkey")).orderBy(col("c_custkey"))
      val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.customer(s, d).select(
        col("c_custkey"), col("c_nationkey"),
        first(col("c_acctbal")).over(w).as("first_bal"),
        last(col("c_acctbal")).over(wFull).as("last_bal"),
        lag(col("c_acctbal"), 1, 0.0).over(w).as("prev_bal"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cdist"))
        .orderBy("c_custkey")
    },
    Some("""SELECT c_custkey, c_nationkey,
           |  first_value(c_acctbal) OVER w AS first_bal,
           |  last_value(c_acctbal) OVER (PARTITION BY c_nationkey ORDER BY c_custkey
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_bal,
           |  lag(c_acctbal, 1, 0.0) OVER w AS prev_bal,
           |  percent_rank() OVER w AS pct_rank,
           |  cume_dist() OVER w AS cdist
           |FROM customer
           |WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_custkey)
           |ORDER BY c_custkey""".stripMargin))

  /** DECOMPOSED test suffix — "cafe" + COMBINING ACUTE, "A" + COMBINING
    * RING — written with escapes so the source bytes are unambiguous;
    * interpolated into the oracle SQL so both engines receive the
    * identical codepoint sequence. */
  private val F08Suffix = " café Å"

  /** Unicode normalization + accent stripping (graft.text.NormalizeExpr
    * — Spark has no built-in; DuckDB's nfc_normalize/strip_accents are
    * the oracle). A decomposed suffix (e+U+0301, A+U+030A) is appended
    * to every part name so the composed/decomposed length delta and the
    * stripped form are exercised on every row; codepoint lengths pin
    * that NFC actually composed (len_nfc = len_raw - 2). */
  val f08UnicodeNormalize = QueryDef("f08_unicode_normalize",
    (s, d) => {
      import graft.text.NormalizeExpr.normalize
      val base = concat(col("p_name"), lit(F08Suffix))
      Tables.part(s, d).select(
        col("p_partkey"),
        length(base).cast(LongType).as("len_raw"),
        length(normalize(base, "NFC")).cast(LongType).as("len_nfc"),
        normalize(base, "NFC").as("nfc"),
        regexp_replace(normalize(base, "NFD"), "\\p{M}", "").as("stripped"))
        .orderBy("p_partkey")
    },
    Some(s"""SELECT p_partkey,
            |  length(p_name || '$F08Suffix') AS len_raw,
           |  length(nfc_normalize(p_name || '$F08Suffix')) AS len_nfc,
           |  nfc_normalize(p_name || '$F08Suffix') AS nfc,
           |  strip_accents(p_name || '$F08Suffix') AS stripped
           |FROM part ORDER BY p_partkey""".stripMargin))

  /** WINSORIZED (percentile-clipped) robust statistics per group:
    * p05/p95 bounds, clip counts, and the robust mean after clipping —
    * the outlier-resistant aggregate a metrics pipeline uses where a
    * plain mean is one corrupt row away from garbage. Parity recipe:
    * bounds are 6dp-ROUNDED before use (0.05/0.95 interpolation
    * positions aren't binary-exact, unlike f04's quartiles — rounding
    * makes both engines clip on identical values), clipped values sum
    * in DECIMAL, and the mean divides two exactly-determined values as
    * doubles. Bounds come back via a broadcast join (two-pass shape:
    * tiny per-group bound table, corpus scanned twice, no window). */
  val f09WinsorizedStats = QueryDef("f09_winsorized_stats",
    (s, d) => {
      // lineitemSpread: exact percentile buffers every value in
      // per-group maps during the PARTIAL phase — single-threaded on
      // the 1-row-group scan before the spread (see Tables)
      val li = Tables.lineitemSpread(s, d)
      val bounds = li.groupBy("l_returnflag").agg(
        round(expr("percentile(l_extendedprice, 0.05)"), 6).as("lo_r"),
        round(expr("percentile(l_extendedprice, 0.95)"), 6).as("hi_r"))
      val price = col("l_extendedprice").cast(DoubleType)
      li.join(broadcast(bounds), "l_returnflag")
        .select(col("l_returnflag"), col("lo_r"), col("hi_r"),
          least(greatest(price, col("lo_r")), col("hi_r")).as("clip"),
          (price < col("lo_r")).cast(LongType).as("is_lo"),
          (price > col("hi_r")).cast(LongType).as("is_hi"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(col("is_lo")).as("n_clip_lo"),
          sum(col("is_hi")).as("n_clip_hi"),
          (exactSum(clipped(col("clip"))) /
            count(lit(1)).cast(DoubleType)).as("robust_mean"),
          first(col("lo_r")).as("lo_r"), first(col("hi_r")).as("hi_r"))
        .orderBy("l_returnflag")
    },
    Some(s"""WITH b AS (SELECT l_returnflag,
           |    round(quantile_cont(l_extendedprice, 0.05), 6) AS lo_r,
           |    round(quantile_cont(l_extendedprice, 0.95), 6) AS hi_r
           |  FROM lineitem GROUP BY l_returnflag)
           |SELECT l.l_returnflag, COUNT(*) AS n,
           |  CAST(SUM(CASE WHEN l_extendedprice < lo_r THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_lo,
           |  CAST(SUM(CASE WHEN l_extendedprice > hi_r THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_hi,
           |  ${sqlExactSum(sqlClipped("LEAST(GREATEST(l_extendedprice, lo_r), hi_r)"))}
           |    / COUNT(*) AS robust_mean,
           |  ANY_VALUE(lo_r) AS lo_r, ANY_VALUE(hi_r) AS hi_r
           |FROM lineitem l JOIN b ON l.l_returnflag = b.l_returnflag
           |GROUP BY l.l_returnflag ORDER BY l.l_returnflag""".stripMargin))

  /** MEDIAN-ABSOLUTE-DEVIATION robust outlier detection per group —
    * the f09 (winsorize) sibling for DETECTION rather than clipping:
    * med = median(x), MAD = median(|x − med|), outlier ⟺
    * |x − med| > 3·MAD. On integer quantities every value in play is a
    * dyadic rational (medians interpolate as (a+b)/2, deviations step
    * by 0.5), so the whole pipeline is EXACT double arithmetic in both
    * engines — no rounding recipe needed, unlike f09's 0.05/0.95
    * non-binary fractions. Two aggregate passes + broadcast joins of
    * the 3-row stats tables; corpus rows never shuffle. */
  val f10MadOutliers = QueryDef("f10_mad_outliers",
    (s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_returnflag").as("g"), col("l_quantity").as("x"))
      val med = li.groupBy("g").agg(expr("percentile(x, 0.5)").as("med"))
      val dev = li.join(broadcast(med), "g")
        .withColumn("ad", abs(col("x") - col("med")))
      val mad = dev.groupBy("g", "med")
        .agg(expr("percentile(ad, 0.5)").as("mad"))
      dev.select("g", "ad").join(broadcast(mad), "g")
        .groupBy("g", "med", "mad").agg(
          count(lit(1)).as("n_rows"),
          sum(when(col("ad") > lit(3d) * col("mad"), 1L).otherwise(0L))
            .as("n_outliers"))
        .orderBy("g")
    },
    Some("""WITH med AS (SELECT l_returnflag AS g,
           |    quantile_cont(l_quantity, 0.5) AS med FROM lineitem GROUP BY 1),
           |d AS (SELECT g, med, ABS(l_quantity - med) AS ad
           |      FROM lineitem JOIN med ON l_returnflag = g),
           |m AS (SELECT g, med, quantile_cont(ad, 0.5) AS mad
           |      FROM d GROUP BY 1, 2)
           |SELECT d.g, m.med, m.mad, COUNT(*) AS n_rows,
           |  CAST(SUM(CASE WHEN d.ad > 3 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_outliers
           |FROM d JOIN m ON d.g = m.g GROUP BY 1, 2, 3 ORDER BY d.g""".stripMargin))

  val all: Seq[QueryDef] = Seq(
    j01LeftOuter, j02FullOuter, f01StringFuncs, f02DateFuncs,
    f03ConditionalAgg, w04RankNtile, f04Quartiles,
    w07RangeFrame, w08ValueWindows, f07ArrayHof, f08UnicodeNormalize,
    f09WinsorizedStats, f10MadOutliers)
}
