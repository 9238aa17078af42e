package graft.queries

import graft.{QueryDef, Tables}
import graft.etl.{Dedup, Validation}
import graft.util.Exact._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference-parity relational operator inventory (SURVEY.md §2) over
  * the driver testdata, each with a DuckDB oracle.
  *
  * Parity discipline: see [[graft.QueryDef]] — decimal-exact aggregation,
  * final-step double casts, total ORDER BY.
  *
  * Scale notes are per-query in the Scaladoc of each definition.
  */
object RelationalQueries {

  /** Exact revenue term: price * (1 - discount), in [[graft.util.Exact]] decimals. */
  private[queries] def revTerm: Column = money(col("l_extendedprice")) * (one - rate(col("l_discount")))
  private[queries] val sqlRevTerm =
    s"${sqlMoney("l_extendedprice")} * ($sqlOne - ${sqlRate("l_discount")})"
  private def weekOf(c: Column): Column = date_trunc("week", c).cast(DateType)

  // =========================================================================
  // P — projections / scalar transforms (SURVEY §2.2)
  // =========================================================================

  /** P4/P8/P9 — sentinel→NULL, cast, date-from-timestamp, recode. Narrow
    * ops only: fuses into the scan under whole-stage codegen, zero shuffle
    * at any scale (ref: load_hhs.py:49-53, load_quality.py:103). */
  val p01CleanCast = QueryDef("p01_clean_cast",
    (s, d) => Tables.events(s, d).select(
      col("event_id"),
      col("ts").cast(DateType).as("day"),
      when(col("value") === lit(-999999d), lit(null)).otherwise(col("value")).as("value_clean"),
      when(col("event_type") === "purchase", lit("buy")).otherwise(col("event_type")).as("etype"),
      (col("event_type") === "error").as("is_error"))
      .orderBy("event_id"),
    Some("""SELECT event_id, CAST(ts AS DATE) AS day,
           |  CASE WHEN value = -999999 THEN NULL ELSE value END AS value_clean,
           |  CASE WHEN event_type = 'purchase' THEN 'buy' ELSE event_type END AS etype,
           |  event_type = 'error' AS is_error
           |FROM events ORDER BY event_id""".stripMargin))

  // =========================================================================
  // V — validation split (SURVEY §2.3)
  // =========================================================================

  private def shiftedEvents(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).withColumn("value_shift", col("value") - lit(100.0))
  private val shiftRule =
    Validation.Rule("negative_value_shift", Validation.nonNegativeTruncated(col("value_shift")))

  /** V1 valid side — non-negativity with the reference's int() truncation
    * quirk: values in (-1, 0) PASS (ref: load_hhs.py:104-127). The shift
    * derives negatives from the all-positive testdata. */
  val v01ValidSplit = QueryDef("v01_validation_valid",
    (s, d) => Validation.split(shiftedEvents(s, d), Seq(shiftRule))._1
      .select("event_id", "user_id", "value_shift").orderBy("event_id"),
    Some("""SELECT event_id, user_id, value - 100.0 AS value_shift FROM events
           |WHERE value - 100.0 IS NULL OR TRUNC(value - 100.0) >= 0
           |ORDER BY event_id""".stripMargin))

  /** V1 reject side with reject_reason (first failing rule). */
  val v02RejectSplit = QueryDef("v02_validation_rejects",
    (s, d) => Validation.split(shiftedEvents(s, d), Seq(shiftRule))._2
      .select("event_id", "user_id", "value_shift", "reject_reason").orderBy("event_id"),
    Some("""SELECT event_id, user_id, value - 100.0 AS value_shift,
           |  'negative_value_shift' AS reject_reason FROM events
           |WHERE NOT (value - 100.0 IS NULL OR TRUNC(value - 100.0) >= 0)
           |ORDER BY event_id""".stripMargin))

  /** V5 — range filter pushed to the parquet scan (timestamp literals so
    * PushedFilters can use row-group min/max stats; ref: Reporting.py:38,149). */
  val v05RangeFilter = QueryDef("v05_range_filter",
    (s, d) => Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01 00:00:00")) &&
        col("l_shipdate") < to_timestamp(lit("1997-01-01 00:00:00")))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), exactSum(revTerm).as("revenue"))
      .orderBy("l_returnflag"),
    Some(s"""SELECT l_returnflag, COUNT(*) AS n,
            |  ${sqlExactSum(sqlRevTerm)} AS revenue
            |FROM lineitem
            |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
            |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
            |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin))

  /** V6 — na.drop before aggregation (ref: Reporting.py:254). */
  val v06DropNa = QueryDef("v06_dropna",
    (s, d) => Tables.events(s, d).na.drop(Seq("value", "props"))
      .groupBy("event_type").agg(count(lit(1)).as("n")).orderBy("event_type"),
    Some("""SELECT event_type, COUNT(*) AS n FROM events
           |WHERE value IS NOT NULL AND props IS NOT NULL
           |GROUP BY event_type ORDER BY event_type""".stripMargin))

  // =========================================================================
  // D — dedup / anti-join (SURVEY §2.4, the reference's signature operator)
  // =========================================================================

  /** D1 — within-batch first-occurrence-wins, single key. One hash
    * shuffle on the key; per-key sort inside partitions (no global sort).
    * At 100 TB: AQE skew handling; ordering column is a cheap total order
    * captured at scan (ref: load_hhs.py:75). */
  val d01DedupFirstWins = QueryDef("d01_dedup_first_wins",
    (s, d) => Dedup.firstOccurrenceWins(Tables.events(s, d), Seq("user_id"), "event_id")
      .select("user_id", "event_id", "event_type").orderBy("user_id"),
    Some("""SELECT user_id, event_id, event_type FROM (
           |  SELECT user_id, event_id, event_type,
           |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
           |  FROM events) t WHERE rn = 1 ORDER BY user_id""".stripMargin))

  /** Latest-wins dedup — the freshest row per user (CDC/compaction
    * semantics; temporal complement of d01's first-wins). */
  val d05LatestWins = QueryDef("d05_dedup_latest_wins",
    (s, d) => Dedup.latestWins(Tables.events(s, d), Seq("user_id"), "ts", "event_id")
      .select("user_id", "event_id", "event_type").orderBy("user_id"),
    Some("""SELECT user_id, event_id, event_type FROM (
           |  SELECT user_id, event_id, event_type,
           |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
           |  FROM events) t WHERE rn = 1 ORDER BY user_id""".stripMargin))

  /** D2 — composite-key first-occurrence-wins (ref: load_hhs.py:103). */
  val d02DedupComposite = QueryDef("d02_dedup_composite_key",
    (s, d) => Dedup.firstOccurrenceWins(Tables.events(s, d), Seq("user_id", "event_type"), "event_id")
      .select("user_id", "event_type", "event_id").orderBy("user_id", "event_type"),
    Some("""SELECT user_id, event_type, event_id FROM (
           |  SELECT user_id, event_type, event_id,
           |    ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY event_id) AS rn
           |  FROM events) t WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin))

  /** D3 — anti-join: incoming keys not in the "warehouse" (customers with
    * no orders). Existing side pruned to its key column; Catalyst plans
    * broadcast-hash anti-join when it fits (ref: load_quality.py:122-126). */
  val d03AntiJoin = QueryDef("d03_antijoin_new_keys",
    (s, d) => Dedup.antiJoinExisting(
      Tables.customer(s, d),
      Tables.orders(s, d).select(col("o_custkey").as("c_custkey")), Seq("c_custkey"))
      .select("c_custkey", "c_name").orderBy("c_custkey"),
    Some("""SELECT c_custkey, c_name FROM customer
           |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
           |ORDER BY c_custkey""".stripMargin))

  /** D3 complement — semi-join duplicate channel (ref: load_quality.py:124). */
  val d04SemiJoin = QueryDef("d04_semijoin_existing",
    (s, d) => Dedup.duplicatesOfExisting(
      Tables.customer(s, d),
      Tables.orders(s, d).select(col("o_custkey").as("c_custkey")), Seq("c_custkey"))
      .select("c_custkey", "c_name").orderBy("c_custkey"),
    Some("""SELECT c_custkey, c_name FROM customer
           |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
           |ORDER BY c_custkey""".stripMargin))

  // =========================================================================
  // A — aggregations (SURVEY §2.6) + J — joins (§2.5)
  // =========================================================================

  /** A1/V4 — scalar count under an equality filter (ref: Reporting.py:29-33).
    * Partial counts combine map-side; one row crosses the wire per task. */
  val a01CountFilter = QueryDef("a01_count_filter",
    (s, d) => Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
      .agg(count(lit(1)).as("n_records")),
    Some("SELECT COUNT(*) AS n_records FROM lineitem WHERE l_returnflag = 'R'"))

  /** A2/T1 — count per group, ordered (ref: Reporting.py:36-41). */
  val a02CountByGroup = QueryDef("a02_count_by_group",
    (s, d) => Tables.orders(s, d).groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders")).orderBy("o_orderstatus"),
    Some("""SELECT o_orderstatus, COUNT(*) AS n_orders FROM orders
           |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin))

  /** A3 — multi-column global sums (ref: Reporting.py:59-67). Decimal
    * partial aggregation: exact, order-independent, map-side combined. */
  val a03GlobalSums = QueryDef("a03_global_sums",
    (s, d) => Tables.lineitem(s, d).agg(
      count(lit(1)).as("n_rows"),
      moneySum(col("l_quantity")).as("sum_qty"),
      moneySum(col("l_extendedprice")).as("sum_base"),
      (exactSum(rate(col("l_discount"))) / count(lit(1))).as("avg_disc")),
    Some(s"""SELECT COUNT(*) AS n_rows,
           |  ${sqlMoneySum("l_quantity")} AS sum_qty,
           |  ${sqlMoneySum("l_extendedprice")} AS sum_base,
           |  ${sqlExactSum(sqlRate("l_discount"))} / COUNT(*) AS avg_disc
           |FROM lineitem""".stripMargin))

  /** A4 — grouped weekly sums (ref: Reporting.py:84-96). */
  val a04SumsByWeek = QueryDef("a04_sums_by_week",
    (s, d) => Tables.lineitem(s, d)
      .groupBy(weekOf(col("l_shipdate")).as("week"))
      .agg(
        moneySum(col("l_quantity")).as("sum_qty"),
        exactSum(revTerm).as("revenue"))
      .orderBy("week"),
    Some(s"""SELECT CAST(date_trunc('week', l_shipdate) AS DATE) AS week,
            |  ${sqlMoneySum("l_quantity")} AS sum_qty,
            |  ${sqlExactSum(sqlRevTerm)} AS revenue
            |FROM lineitem GROUP BY 1 ORDER BY week""".stripMargin))

  /** A5/J1 — ratio-of-sums after a fact⨝fact join, the flagship report
    * shape (ref: Reporting.py:109-135). Join shuffles both sides on
    * orderkey (sort-merge at scale; AQE may broadcast the filtered side).
    * Both sums reduce in the same aggregation — one shuffle, one pass. */
  val a05RatioByStatus = QueryDef("a05_ratio_by_status",
    (s, d) => {
      val o = Tables.orders(s, d)
      val l = Tables.lineitem(s, d)
      o.join(l, o("o_orderkey") === l("l_orderkey"))
        .groupBy("o_orderstatus")
        .agg(
          exactSum(revTerm).as("revenue"),
          moneySum(col("l_extendedprice")).as("base"))
        // NULLIF guard: ANSI Spark ERRORS on /0 (like Postgres); null on
        // both engine and oracle keeps pathological groups comparable
        .withColumn("discounted_fraction",
          col("revenue") / when(col("base") =!= 0d, col("base")))
        .orderBy("o_orderstatus")
    },
    Some(s"""SELECT o_orderstatus,
            |  ${sqlExactSum(sqlRevTerm)} AS revenue,
            |  ${sqlMoneySum("l_extendedprice")} AS base,
            |  ${sqlExactSum(sqlRevTerm)} /
            |    NULLIF(${sqlMoneySum("l_extendedprice")}, 0) AS discounted_fraction
            |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
            |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin))

  /** A6/P11 — sum of column arithmetic (ref: Reporting.py:144-153). */
  val a06SumArithmetic = QueryDef("a06_sum_arithmetic",
    (s, d) => Tables.lineitem(s, d).groupBy("l_returnflag")
      .agg(
        exactSum(money(col("l_extendedprice")) * (one + rate(col("l_tax")))).as("charge"),
        exactSum(revTerm).as("revenue"))
      .orderBy("l_returnflag"),
    Some(s"""SELECT l_returnflag,
            |  CAST(SUM(${sqlMoney("l_extendedprice")} *
            |    ($sqlOne + ${sqlRate("l_tax")})) AS DOUBLE) AS charge,
            |  ${sqlExactSum(sqlRevTerm)} AS revenue
            |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin))

  /** Deep multi-join analytics — the TPC-H Q5 shape over the testdata
    * tables: 6-way join (region→nation→customer+supplier, orders,
    * lineitem) with a same-nation customer/supplier condition, selective
    * region + date-range filters, decimal-exact revenue by nation. The
    * point at scale: Catalyst gets a FREE HAND on join order, the three
    * dims broadcast (zero fact shuffle to pick up nation names), the
    * date filter pushes to the orders scan, and only the two fact⨝fact
    * equi-joins shuffle — the plan a hand-scheduled engine has to build
    * by hand falls out of the declaration. */
  val a10RegionalRevenue = QueryDef("a10_regional_revenue",
    (s, d) => Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
      .join(Tables.lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA" &&
        col("o_orderdate") >= lit("1996-01-01").cast(TimestampType) &&
        col("o_orderdate") < lit("1998-01-01").cast(TimestampType))
      .groupBy("n_name")
      .agg(exactSum(revTerm).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("revenue").desc, col("n_name")),
    Some(s"""SELECT n_name, ${sqlExactSum(sqlRevTerm)} AS revenue,
            |  COUNT(*) AS n_items
            |FROM customer
            |JOIN orders   ON c_custkey = o_custkey
            |JOIN lineitem ON l_orderkey = o_orderkey
            |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
            |JOIN nation   ON s_nationkey = n_nationkey
            |JOIN region   ON n_regionkey = r_regionkey
            |WHERE r_name = 'ASIA'
            |  AND o_orderdate >= TIMESTAMP '1996-01-01'
            |  AND o_orderdate < TIMESTAMP '1998-01-01'
            |GROUP BY n_name
            |ORDER BY revenue DESC, n_name""".stripMargin))

  /** A7/J2 — count after a 3-way dim join (ref: Reporting.py:180-196).
    * nation and region are broadcast (tiny dims): zero shuffle on the
    * customer side beyond the final group-by. */
  val a07Join3Count = QueryDef("a07_join3_count",
    (s, d) => Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name")
      .agg(count(lit(1)).as("n_customers"), moneySum(col("c_acctbal")).as("total_balance"))
      .orderBy("r_name"),
    Some(s"""SELECT r_name, COUNT(*) AS n_customers,
           |  ${sqlMoneySum("c_acctbal")} AS total_balance
           |FROM customer
           |JOIN nation ON c_nationkey = n_nationkey
           |JOIN region ON n_regionkey = r_regionkey
           |GROUP BY r_name ORDER BY r_name""".stripMargin))

  /** A8/J4 — two-key grouped ratio with a dimension filter
    * (ref: Reporting.py:200-224). */
  val a08RatioByPriorityWeek = QueryDef("a08_ratio_by_priority_week",
    (s, d) => {
      val o = Tables.orders(s, d).filter(col("o_orderstatus") === "F")
      val l = Tables.lineitem(s, d)
      o.join(l, o("o_orderkey") === l("l_orderkey"))
        .groupBy(col("o_orderpriority"), weekOf(col("o_orderdate")).as("week"))
        .agg(exactSum(revTerm).as("revenue"),
          moneySum(col("l_extendedprice")).as("base"))
        .withColumn("discounted_fraction",
          col("revenue") / when(col("base") =!= 0d, col("base")))
        .orderBy("o_orderpriority", "week")
    },
    Some(s"""SELECT o_orderpriority, CAST(date_trunc('week', o_orderdate) AS DATE) AS week,
            |  ${sqlExactSum(sqlRevTerm)} AS revenue,
            |  ${sqlMoneySum("l_extendedprice")} AS base,
            |  ${sqlExactSum(sqlRevTerm)} /
            |    NULLIF(${sqlMoneySum("l_extendedprice")}, 0) AS discounted_fraction
            |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
            |WHERE o_orderstatus = 'F'
            |GROUP BY o_orderpriority, 2 ORDER BY o_orderpriority, week""".stripMargin))

  /** A9 — per-group average as exact-sum / count (ref: Reporting.py:259). */
  val a09AvgByGroup = QueryDef("a09_avg_by_group",
    (s, d) => Tables.customer(s, d).groupBy("c_mktsegment")
      .agg((moneySum(col("c_acctbal")) / count(lit(1))).as("avg_balance"),
        count(lit(1)).as("n"))
      .orderBy("c_mktsegment"),
    Some(s"""SELECT c_mktsegment,
           |  ${sqlMoneySum("c_acctbal")} / COUNT(*) AS avg_balance,
           |  COUNT(*) AS n
           |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin))

  // =========================================================================
  // T — sorts / limits / top-k (SURVEY §2.7)
  // =========================================================================

  /** T2 — k most recent weeks then re-sort ascending (ref:
    * Reporting.py:84-106). Spark plans TakeOrderedAndProject: true top-k,
    * no global sort of the grouped frame. */
  val t02RecentWeeks = QueryDef("t02_recent_weeks",
    (s, d) => Tables.lineitem(s, d)
      .groupBy(weekOf(col("l_shipdate")).as("week"))
      .agg(exactSum(revTerm).as("revenue"))
      .orderBy(col("week").desc).limit(4)
      .orderBy("week"),
    Some(s"""SELECT * FROM (
            |  SELECT CAST(date_trunc('week', l_shipdate) AS DATE) AS week,
            |    ${sqlExactSum(sqlRevTerm)} AS revenue
            |  FROM lineitem GROUP BY 1 ORDER BY week DESC LIMIT 4) t
            |ORDER BY week""".stripMargin))

  /** T3/J2 — top-20 customers by lifetime spend (ref: Reporting.py:196).
    * Aggregate first (shuffle on custkey), top-k via TakeOrdered, and only
    * THEN join the 20-row result to the customer dim (broadcast) — at
    * 100 TB the join input is 20 rows, not the whole fact table. */
  val t03TopkCustomers = QueryDef("t03_topk_customers",
    (s, d) => {
      val top = Tables.orders(s, d).groupBy("o_custkey")
        .agg(moneySum(col("o_totalprice")).as("total_spent"), count(lit(1)).as("n_orders"))
        .orderBy(col("total_spent").desc, col("o_custkey")).limit(20)
      top.join(broadcast(Tables.customer(s, d)), top("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("total_spent"), col("n_orders"))
        .orderBy(col("total_spent").desc, col("c_custkey"))
    },
    Some(s"""SELECT c_custkey, c_name, total_spent, n_orders FROM (
           |  SELECT o_custkey, ${sqlMoneySum("o_totalprice")} AS total_spent,
           |    COUNT(*) AS n_orders
           |  FROM orders GROUP BY o_custkey
           |  ORDER BY total_spent DESC, o_custkey LIMIT 20) t
           |JOIN customer ON o_custkey = c_custkey
           |ORDER BY total_spent DESC, c_custkey""".stripMargin))

  /** T4/A9 — top-10 + bottom-10 by group average, union-distinct
    * (ref: Reporting.py:259-263). */
  val t04TopBottom = QueryDef("t04_top_bottom_nations",
    (s, d) => {
      val avgByNation = Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg((moneySum(col("c_acctbal")) / count(lit(1))).as("avg_balance"))
      val top = avgByNation.orderBy(col("avg_balance").desc, col("n_name")).limit(10)
      val bottom = avgByNation.orderBy(col("avg_balance").asc, col("n_name")).limit(10)
      top.unionByName(bottom).distinct().orderBy(col("avg_balance").desc, col("n_name"))
    },
    Some(s"""WITH a AS (
           |  SELECT n_name, ${sqlMoneySum("c_acctbal")} / COUNT(*) AS avg_balance
           |  FROM customer JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name)
           |SELECT * FROM (
           |  SELECT * FROM (SELECT * FROM a ORDER BY avg_balance DESC, n_name LIMIT 10)
           |  UNION
           |  SELECT * FROM (SELECT * FROM a ORDER BY avg_balance ASC, n_name LIMIT 10))
           |ORDER BY avg_balance DESC, n_name""".stripMargin))

  /** MERGE/upsert (SCD-1): a synthetic update batch (10% of customers
    * get +1000 balance; 1% arrive as brand-new keys) merged into the
    * customer table — update rows replace, new keys insert, the rest
    * persist. Verified by per-nation counts + decimal-exact balance
    * sums over the merged result. */
  val up01UpsertMerge = QueryDef("up01_upsert_merge",
    (s, d) => {
      val base = Tables.customer(s, d)
      val mods = base.filter(col("c_custkey") % 10 === 0)
        .withColumn("c_acctbal", col("c_acctbal") + 1000d)
      // new-key offset derives from the table's own id range so the
      // inserts stay disjoint from real keys at ANY scale factor
      val off = base.agg((max(col("c_custkey")) + 1).as("__off"))
      val ins = base.filter(col("c_custkey") % 100 === 0)
        .crossJoin(broadcast(off))
        .withColumn("c_custkey", col("c_custkey") + col("__off"))
        .drop("__off")
      val merged = graft.etl.Upsert.upsert(
        base, mods.unionByName(ins), Seq("c_custkey"))
      merged.groupBy("c_nationkey")
        .agg(count(lit(1)).as("n"),
          moneySum(col("c_acctbal")).as("bal"))
        .orderBy("c_nationkey")
    },
    Some(s"""WITH upd AS (
           |  SELECT * REPLACE (c_acctbal + 1000 AS c_acctbal)
           |  FROM customer WHERE c_custkey % 10 = 0
           |  UNION ALL
           |  SELECT * REPLACE (c_custkey + (SELECT MAX(c_custkey) + 1 FROM customer)
           |                    AS c_custkey)
           |  FROM customer WHERE c_custkey % 100 = 0),
           |merged AS (
           |  SELECT * FROM customer
           |  WHERE c_custkey NOT IN (SELECT c_custkey FROM upd)
           |  UNION ALL SELECT * FROM upd)
           |SELECT c_nationkey, COUNT(*) AS n,
           |  ${sqlMoneySum("c_acctbal")} AS bal
           |FROM merged GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin))

  /** SCD-2 historization over the event stream as a change log: each
    * user's event_type history becomes validity intervals
    * (valid_from/valid_to/is_current). Aggregated per user for a
    * compact oracle check: interval count, current-state count (must be
    * 1), and total open-interval microseconds. */
  val sc01Scd2History = QueryDef("sc01_scd2_history",
    (s, d) => {
      val log = Tables.events(s, d)
        .filter(col("event_id") % 7 === 0) // sparse change log
        .select("user_id", "ts", "event_type")
      graft.etl.Upsert.scd2(log, Seq("user_id"), "ts")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_versions"),
          sum(when(col("is_current"), 1L).otherwise(0L)).as("n_current"),
          sum(when(col("valid_to").isNotNull,
            unix_micros(col("valid_to")) - unix_micros(col("valid_from")))
            .otherwise(0L)).as("closed_us"))
        .orderBy("user_id")
    },
    Some("""WITH log AS (SELECT user_id, ts, event_type FROM events
           |        WHERE event_id % 7 = 0),
           |h AS (SELECT user_id, ts AS valid_from,
           |        LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts) AS valid_to
           |      FROM log)
           |SELECT user_id, COUNT(*) AS n_versions,
           |  CAST(SUM(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_current,
           |  CAST(SUM(CASE WHEN valid_to IS NOT NULL
           |                THEN epoch_us(valid_to) - epoch_us(valid_from)
           |                ELSE 0 END) AS BIGINT) AS closed_us
           |FROM h GROUP BY user_id ORDER BY user_id""".stripMargin))

  /** CDC LOG APPLICATION ([[graft.etl.Upsert.applyCdc]]): an I/U/D
    * change log (Debezium shape) collapses to current state — latest
    * seq per key wins, a winning delete tombstones the key out. The
    * log here is synthesized from orders (insert all, update every 3rd
    * key, delete every 7th, rising seq); the oracle is the CLOSED FORM
    * of those rules (filter + CASE), not a window replay — so the
    * check is on semantics, not on mirroring the implementation. */
  val up02CdcApply = QueryDef("up02_cdc_apply",
    (s, d) => {
      val base = Tables.orders(s, d)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val ins = base
        .withColumn("op", lit("I")).withColumn("seq", lit(1L))
      val upd = base.filter(col("o_orderkey") % 3 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(10d))
        .withColumn("op", lit("U")).withColumn("seq", lit(2L))
      val del = base.filter(col("o_orderkey") % 7 === 0)
        .withColumn("op", lit("D")).withColumn("seq", lit(3L))
      val cur = graft.etl.Upsert.applyCdc(
        ins.unionByName(upd).unionByName(del),
        Seq("o_orderkey"), "seq", "op")
      cur.groupBy("o_orderstatus").agg(
        count(lit(1)).as("n"),
        exactSum(cdcTotal(col("o_totalprice"))).as("total"))
        .orderBy("o_orderstatus")
    },
    Some(s"""WITH cur AS (
           |  SELECT o_orderkey, o_orderstatus,
           |    CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 10
           |         ELSE o_totalprice END AS p
           |  FROM orders WHERE o_orderkey % 7 <> 0)
           |SELECT o_orderstatus, COUNT(*) AS n,
           |  ${sqlExactSum(sqlCdcTotal("p"))} AS total
           |FROM cur GROUP BY 1 ORDER BY 1""".stripMargin))

  // =========================================================================
  // U — set operations (SURVEY §2.8)
  // =========================================================================

  /** UNION DISTINCT of two key sets. */
  val u01UnionDistinct = QueryDef("u01_union_distinct",
    (s, d) => Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
      .union(Tables.supplier(s, d).select(col("s_nationkey").as("nationkey")))
      .distinct().orderBy("nationkey"),
    Some("""SELECT c_nationkey AS nationkey FROM customer
           |UNION SELECT s_nationkey FROM supplier ORDER BY nationkey""".stripMargin))

  /** INTERSECT DISTINCT — nations with both customers and suppliers. */
  val u03Intersect = QueryDef("u03_intersect",
    (s, d) => Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
      .intersect(Tables.supplier(s, d).select(col("s_nationkey").as("nationkey")))
      .orderBy("nationkey"),
    Some("""SELECT DISTINCT c_nationkey AS nationkey FROM customer
           |INTERSECT SELECT s_nationkey FROM supplier ORDER BY nationkey""".stripMargin))

  /** UNION ALL (bag semantics) — per-nation multiplicity preserved,
    * aggregated so the result is order-free. The plan is a pure
    * concatenation: no dedup shuffle, unlike u01. */
  val u04UnionAll = QueryDef("u04_union_all",
    (s, d) => Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
      .unionAll(Tables.supplier(s, d).select(col("s_nationkey").as("nationkey")))
      .groupBy("nationkey").agg(count(lit(1)).as("n"))
      .orderBy("nationkey"),
    Some("""SELECT nationkey, COUNT(*) AS n FROM (
           |  SELECT c_nationkey AS nationkey FROM customer
           |  UNION ALL SELECT s_nationkey FROM supplier)
           |GROUP BY nationkey ORDER BY nationkey""".stripMargin))

  /** EXCEPT DISTINCT — nations with customers but no suppliers. */
  val u02Except = QueryDef("u02_except",
    (s, d) => Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
      .except(Tables.supplier(s, d).select(col("s_nationkey").as("nationkey")))
      .orderBy("nationkey"),
    Some("""SELECT DISTINCT c_nationkey AS nationkey FROM customer
           |EXCEPT SELECT s_nationkey FROM supplier ORDER BY nationkey""".stripMargin))

  // =========================================================================
  // W — window functions (SURVEY §2.10 — the idiomatic replacements for
  // the reference's client-side week-over-week logic)
  // =========================================================================

  /** W1 — lag/delta over ordered weekly counts. The window runs over the
    * ALREADY-AGGREGATED frame (a few hundred rows at any scale), so the
    * single-partition global order is fine — never window raw facts. */
  val w01LagDelta = QueryDef("w01_lag_delta",
    (s, d) => {
      val weekly = Tables.orders(s, d)
        .groupBy(weekOf(col("o_orderdate")).as("week"))
        .agg(count(lit(1)).as("n_orders"))
      val w = Window.orderBy("week")
      weekly.withColumn("prev_n", lag("n_orders", 1).over(w))
        .withColumn("delta", col("n_orders") - col("prev_n"))
        .orderBy("week")
    },
    Some("""WITH weekly AS (
           |  SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS week, COUNT(*) AS n_orders
           |  FROM orders GROUP BY 1)
           |SELECT week, n_orders,
           |  LAG(n_orders, 1) OVER (ORDER BY week) AS prev_n,
           |  n_orders - LAG(n_orders, 1) OVER (ORDER BY week) AS delta
           |FROM weekly ORDER BY week""".stripMargin))

  /** W2 — per-group top-k via row_number (the distributed form of T4's
    * pandas nlargest). One shuffle on the partition key. */
  val w02TopkPerGroup = QueryDef("w02_topk_per_group",
    (s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, d)
        .withColumn("rn", row_number().over(w).cast(LongType))
        .filter(col("rn") <= 3)
        .select("o_custkey", "rn", "o_orderkey", "o_totalprice")
        .orderBy("o_custkey", "rn")
    },
    Some("""SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
           |  SELECT o_custkey, o_orderkey, o_totalprice,
           |    ROW_NUMBER() OVER (PARTITION BY o_custkey
           |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
           |  FROM orders) t WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin))

  /** W2 again, as the scale-path operator: per-group top-k via the
    * bounded-heap TypedImperativeAggregate (graft.topk.TopKAgg) instead
    * of a window sort — partial-aggregates map-side, ships ≤k rows per
    * group per mapper. Same oracle as w02: the two formulations must
    * agree exactly. */
  val w05TopkHeap = QueryDef("w05_topk_heap",
    (s, d) => {
      import graft.topk.TopKAgg.top_k
      Tables.orders(s, d).groupBy("o_custkey")
        .agg(top_k(col("o_totalprice"), col("o_orderkey"), 3).as("top"))
        .select(col("o_custkey"), posexplode(col("top")).as(Seq("pos", "pair")))
        .select(col("o_custkey"), (col("pos") + 1).cast(LongType).as("rn"),
          col("pair.tag").as("o_orderkey"), col("pair.value").as("o_totalprice"))
        .orderBy("o_custkey", "rn")
    },
    Some("""SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
           |  SELECT o_custkey, o_orderkey, o_totalprice,
           |    ROW_NUMBER() OVER (PARTITION BY o_custkey
           |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
           |  FROM orders) t WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin))

  /** W3 — trailing 4-week frame over weekly revenue (T2's intent as a
    * window). Rolling sum in DECIMAL (exact), divided by the frame count. */
  val w03RollingAvg = QueryDef("w03_rolling_avg",
    (s, d) => {
      val weekly = Tables.lineitem(s, d)
        .groupBy(weekOf(col("l_shipdate")).as("week"))
        .agg(sum(revTerm).as("rev_dec"))
      val w = Window.orderBy("week").rowsBetween(-3, 0)
      weekly
        .withColumn("revenue", col("rev_dec").cast(DoubleType))
        .withColumn("trailing_avg",
          sum(col("rev_dec")).over(w).cast(DoubleType) / count(lit(1)).over(w))
        .select("week", "revenue", "trailing_avg")
        .orderBy("week")
    },
    Some(s"""WITH wk AS (
            |  SELECT CAST(date_trunc('week', l_shipdate) AS DATE) AS week,
            |    SUM($sqlRevTerm) AS rev_dec
            |  FROM lineitem GROUP BY 1)
            |SELECT week, CAST(rev_dec AS DOUBLE) AS revenue,
            |  CAST(SUM(rev_dec) OVER w AS DOUBLE) / COUNT(*) OVER w AS trailing_avg
            |FROM wk WINDOW w AS (ORDER BY week ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
            |ORDER BY week""".stripMargin))

  /** Rolling 4-week MEDIAN of weekly order counts — exact percentile as
    * a window aggregate (the robust-statistics cousin of w03's rolling
    * mean). Integer counts keep the midpoint interpolation (a+b)/2
    * binary-exact, where Spark `percentile` == DuckDB `quantile_cont`
    * (the fraction-parity constraint pinned in f04). */
  val w06RollingMedian = QueryDef("w06_rolling_median",
    (s, d) => {
      val weekly = Tables.orders(s, d)
        .groupBy(weekOf(col("o_orderdate")).as("week"))
        .agg(count(lit(1)).as("n"))
      val w = Window.orderBy("week").rowsBetween(-3, 0)
      weekly.withColumn("med", percentile(col("n"), lit(0.5)).over(w))
        .select("week", "n", "med")
        .orderBy("week")
    },
    Some("""WITH wk AS (
           |  SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS week,
           |    COUNT(*) AS n
           |  FROM orders GROUP BY 1)
           |SELECT week, n,
           |  quantile_cont(n, 0.5) OVER (ORDER BY week
           |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS med
           |FROM wk ORDER BY week""".stripMargin))

  // =========================================================================
  // X — distinct counting
  // =========================================================================

  /** Exact distinct counts (expand + two-phase aggregate). */
  val x01DistinctCount = QueryDef("x01_distinct_count",
    (s, d) => Tables.lineitem(s, d).agg(
      countDistinct(col("l_partkey")).as("n_parts"),
      countDistinct(col("l_suppkey")).as("n_supps")),
    Some("SELECT COUNT(DISTINCT l_partkey) AS n_parts, COUNT(DISTINCT l_suppkey) AS n_supps FROM lineitem"))

  /** HyperLogLog++ approximate distinct — the 100 TB path (no expand, one
    * pass, fixed-size sketch per partition) — registered as a GROUPED
    * bound query the oracle can hash-check: raw estimate values
    * legitimately differ from DuckDB's HLL, so the raw global-estimate
    * form lives in SketchSpec and the REGISTERED row asserts the
    * sketch contract per group.
    * Per l_returnflag: exact distinct part/order keys (the oracle
    * side) plus a flag pinning the HLL++ estimate within 5× its
    * configured 1% rsd OF THAT GROUP — strictly more coverage than the
    * old row (and than global x04): per-group sketches exercise HLL
    * partial-merge across the group-keyed shuffle, and a regression in
    * hash, merge, or precision flips a hashed `within_bound` to false.
    *
    * SHAPE WARNING (measured at sf10): the exact and approx
    * aggregates must be SEPARATE frames joined on the group key — the
    * x04 pattern — never one fused groupBy. HLL++ at rsd 1% carries a
    * fixed-width ~13 KB imperative buffer, and inside Spark's
    * distinct-aggregate rewrite that buffer is allocated and zeroed
    * for EVERY (group × distinct-key) hash entry of the first-phase
    * aggregate (~51M entries × 26 KB at sf10 — a terabyte of memset
    * plus a spill storm; the fused form ran 12+ minutes at sf10 while
    * passing sf0.1 in seconds). Split, the sketch buffers exist for
    * exactly |groups| entries and the exact side is the plain x01
    * expand. The join is 3 rows × 3 rows, broadcast. */
  val x02ApproxDistinct = QueryDef("x02_approx_distinct",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      val exact = li.groupBy(col("l_returnflag")).agg(
        count_distinct(col("l_partkey")).as("exact_parts"),
        count_distinct(col("l_orderkey")).as("exact_orders"))
      val approx = li.groupBy(col("l_returnflag").as("rf")).agg(
        approx_count_distinct(col("l_partkey"), 0.01).as("ap"),
        approx_count_distinct(col("l_orderkey"), 0.01).as("ao"))
      def ok(a: String, e: String) =
        when(col(e) === 0, col(a) === 0)
          .otherwise(abs(col(a) - col(e)).cast(DoubleType) / col(e) <= 0.05)
      exact.join(broadcast(approx), col("l_returnflag") === col("rf"))
        .select(col("l_returnflag"), col("exact_parts"), col("exact_orders"),
          (ok("ap", "exact_parts") && ok("ao", "exact_orders")).as("within_bound"))
        .orderBy("l_returnflag")
    },
    Some("""SELECT l_returnflag,
           |  CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           |  CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
           |  true AS within_bound
           |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Approximate percentiles (Greenwald-Khanna sketch) — the
    * fixed-memory companion to f04's exact quantiles: mergeable
    * per-partition sketches, no sort, no expand — registered as a
    * GROUPED rank-error bound (as x02: raw quartile values are
    * sketch-internal → SketchSpec; the registered row asserts the
    * guarantee the sketch publishes). Per
    * o_orderpriority: the RANK each approximate quartile actually
    * attains within its group (an exact count both engines agree on)
    * must sit within 2% of its target — per-group sketches exercise GK
    * build+merge on every group's partial, beyond x05's global frame.
    * Shape: one grouped sketch pass (priority-keyed shuffle of
    * sketches, not rows), broadcast the 5-row quartile frame back onto
    * the scan, then one exact counting pass per group. */
  val x03ApproxQuartiles = QueryDef("x03_approx_quartiles",
    (s, d) => {
      val o = Tables.orders(s, d)
      val approx = o.groupBy(col("o_orderpriority").as("pri"))
        .agg(approx_percentile(col("o_totalprice"),
          array(lit(0.25), lit(0.5), lit(0.75)), lit(1000)).as("aq"))
      val ranks = o.join(broadcast(approx),
          col("o_orderpriority") === col("pri"))
        .groupBy(col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n"),
          sum(when(col("o_totalprice") <= element_at(col("aq"), 1), 1L)
            .otherwise(0L)).as("r1"),
          sum(when(col("o_totalprice") <= element_at(col("aq"), 2), 1L)
            .otherwise(0L)).as("r2"),
          sum(when(col("o_totalprice") <= element_at(col("aq"), 3), 1L)
            .otherwise(0L)).as("r3"))
      ranks.select(col("o_orderpriority"), col("n"),
          (abs(col("r1").cast(DoubleType) / col("n") - 0.25) <= 0.02 &&
           abs(col("r2").cast(DoubleType) / col("n") - 0.50) <= 0.02 &&
           abs(col("r3").cast(DoubleType) / col("n") - 0.75) <= 0.02)
            .as("ranks_within_bound"))
        .orderBy("o_orderpriority")
    },
    Some("""SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
           |  true AS ranks_within_bound
           |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin))

  /** HLL++ accuracy bound AS AN ORACLE-CHECKED QUERY: the estimate and
    * the exact distinct count meet in one lazy plan (two aggregate
    * frames cross-joined — both tiny), and the output asserts the
    * sketch's contract: |approx − exact| / exact within 5× the
    * configured 1% rsd. The oracle computes the exact side and pins
    * `within_bound = true`, so an HLL regression (hash change, merge
    * bug, precision drift) is a driver-gate hash mismatch — x02 itself
    * stays rows-only because sketch internals legitimately differ
    * between engines. Exact values in the output keep the frame
    * non-trivial at every SF. */
  val x04ApproxDistinctBound = QueryDef("x04_approx_distinct_bound",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      val exact = li.agg(
        count_distinct(col("l_partkey")).as("exact_parts"),
        count_distinct(col("l_orderkey")).as("exact_orders"))
      val approx = li.agg(
        approx_count_distinct(col("l_partkey"), 0.01).as("approx_parts"),
        approx_count_distinct(col("l_orderkey"), 0.01).as("approx_orders"))
      // empty-input guard: 0 exact distinct → bound holds iff approx
      // is also 0 (avoids ANSI divide-by-zero)
      def ok(a: String, e: String) =
        when(col(e) === 0, col(a) === 0)
          .otherwise(abs(col(a) - col(e)).cast(DoubleType) / col(e) <= 0.05)
      exact.crossJoin(approx).select(
        col("exact_parts"), col("exact_orders"),
        (ok("approx_parts", "exact_parts") &&
          ok("approx_orders", "exact_orders")).as("within_bound"))
    },
    Some("""SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           |  CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
           |  true AS within_bound
           |FROM lineitem""".stripMargin))

  /** GK-sketch accuracy bound as an oracle-checked query, stated in the
    * sketch's OWN terms — rank error, not value error: the RANK of each
    * approximate quartile (fraction of rows ≤ it) must sit within 2% of
    * its target rank (1000-row accuracy parameter → ~0.1% guarantee;
    * 2% leaves margin without weakening the check materially). Rank of
    * a value is an exact count both engines agree on, so the bound
    * frame hash-matches while x03's raw sketch values stay rows-only. */
  val x05ApproxQuartileBound = QueryDef("x05_approx_quartile_bound",
    (s, d) => {
      val o = Tables.orders(s, d)
      val approx = o.agg(approx_percentile(col("o_totalprice"),
        array(lit(0.25), lit(0.5), lit(0.75)), lit(1000)).as("aq"))
      val ranks = o.crossJoin(approx).agg(
        count(lit(1)).as("n"),
        sum(when(col("o_totalprice") <= element_at(col("aq"), 1), 1L)
          .otherwise(0L)).as("r1"),
        sum(when(col("o_totalprice") <= element_at(col("aq"), 2), 1L)
          .otherwise(0L)).as("r2"),
        sum(when(col("o_totalprice") <= element_at(col("aq"), 3), 1L)
          .otherwise(0L)).as("r3"))
      ranks.select(col("n"),
        (abs(col("r1").cast(DoubleType) / col("n") - 0.25) <= 0.02 &&
         abs(col("r2").cast(DoubleType) / col("n") - 0.50) <= 0.02 &&
         abs(col("r3").cast(DoubleType) / col("n") - 0.75) <= 0.02)
          .as("ranks_within_bound"))
    },
    Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n, true AS ranks_within_bound
           |FROM orders""".stripMargin))

  /** The x02 endgame: an HLL register STATE that is
    * engine-portable and therefore hash-checkable — strictly stronger
    * than comparing estimates. Spark's own HLL++ blob can never match
    * DuckDB's (different hash, different encoding), but the sketch
    * CONTENT is just "per bucket, the max leading-zero run of the
    * hashed suffix", and with md5 as the hash (identical hex in both
    * engines) every piece is exact integer/string arithmetic:
    *   bucket = first 2 hex chars (p=8 → 256 registers),
    *   rho    = leading zero BITS of the next 14 hex chars (56 bits)
    *            + 1, via ltrim('0') + a 16-way nibble CASE — no libm,
    *            no float, no engine-specific bit intrinsics.
    * Output = the full 256-row register table. This IS the
    * distributed HLL build shape at 100 TB: the bucket/rho pair is a
    * scan-side projection, max-per-register is a partial aggregate
    * (map-side max), and merging two corpora's states is the same
    * max — mergeability witnessed bit-for-bit by the oracle hash.
    * x02 keeps Spark's native (faster, estimate-corrected) HLL++ for
    * the estimate path, bounded by x04; x03's GK state stays
    * rows-only BY NATURE — GK compress is merge-order-dependent, so
    * no cross-engine state equality exists to check (bounded by x05
    * instead; closed in COVERAGE.md). */
  val x06PortableHllState = QueryDef("x06_portable_hll_state",
    (s, d) => {
      val h = md5(col("l_partkey").cast("string"))
      val suffix = substring(h, 3, 14)
      val t = ltrim(suffix, "0")
      val nibbleLz = when(substring(t, 1, 1) === "1", 3)
        .when(substring(t, 1, 1).isin("2", "3"), 2)
        .when(substring(t, 1, 1).isin("4", "5", "6", "7"), 1)
        .otherwise(0)
      val rho = when(t === "", lit(57))
        .otherwise((lit(14) - length(t)) * 4 + nibbleLz + 1)
      Tables.lineitem(s, d)
        .select(substring(h, 1, 2).as("bucket"), rho.as("rho"))
        .groupBy("bucket").agg(max(col("rho")).cast(LongType).as("register"))
        .orderBy("bucket")
    },
    Some("""WITH r AS (
           |  SELECT substring(md5(CAST(l_partkey AS VARCHAR)), 1, 2) AS bucket,
           |    ltrim(substring(md5(CAST(l_partkey AS VARCHAR)), 3, 14), '0') AS t
           |  FROM lineitem)
           |SELECT bucket, CAST(MAX(CASE WHEN t = '' THEN 57
           |  ELSE (14 - length(t)) * 4
           |    + (CASE WHEN substring(t, 1, 1) = '1' THEN 3
           |            WHEN substring(t, 1, 1) IN ('2', '3') THEN 2
           |            WHEN substring(t, 1, 1) IN ('4', '5', '6', '7') THEN 1
           |            ELSE 0 END) + 1 END) AS BIGINT) AS register
           |FROM r GROUP BY bucket ORDER BY bucket""".stripMargin))

  val all: Seq[QueryDef] = Seq(
    p01CleanCast,
    v01ValidSplit, v02RejectSplit, v05RangeFilter, v06DropNa,
    d01DedupFirstWins, d02DedupComposite, d03AntiJoin, d04SemiJoin, d05LatestWins,
    a01CountFilter, a02CountByGroup, a03GlobalSums, a04SumsByWeek,
    a05RatioByStatus, a06SumArithmetic, a07Join3Count,
    a08RatioByPriorityWeek, a09AvgByGroup, a10RegionalRevenue,
    t02RecentWeeks, t03TopkCustomers, t04TopBottom,
    u01UnionDistinct, u02Except, u03Intersect, u04UnionAll, up01UpsertMerge,
    sc01Scd2History, up02CdcApply,
    w01LagDelta, w02TopkPerGroup, w03RollingAvg, w05TopkHeap, w06RollingMedian,
    x01DistinctCount, x02ApproxDistinct, x03ApproxQuartiles,
    x04ApproxDistinctBound, x05ApproxQuartileBound, x06PortableHllState)
}
