package graft.queries

import graft.{QueryDef, Tables}
import graft.util.Exact._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Semi-structured and collection operators: JSON extraction (the
  * events.props payload), array aggregation, numeric binning — the
  * shapes log/telemetry pipelines hit constantly. */
object SemiStructuredQueries {

  /** JSON field extraction + typed cast + aggregation over the parsed
    * value. props is a JSON text column like {"k": 87}. */
  val js01JsonExtract = QueryDef("js01_json_extract",
    (s, d) => Tables.events(s, d).select(
      col("event_id"),
      get_json_object(col("props"), "$.k").cast(LongType).as("k"))
      .groupBy((col("k") % 10).as("k_mod"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
      .orderBy("k_mod"),
    Some("""SELECT CAST(props->>'k' AS BIGINT) % 10 AS k_mod,
           |  COUNT(*) AS n, CAST(SUM(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k
           |FROM events GROUP BY 1 ORDER BY k_mod""".stripMargin))

  /** Sorted array aggregation per group (collect_list is unordered by
    * contract; sort_array pins it — DuckDB's list() likewise needs
    * list_sort for determinism). The array is serialized to CSV in the
    * FINAL projection only (the driver's compare sorts rows in pandas,
    * where raw list cells are unhashable); the aggregation itself is a
    * genuine array collect. */
  val f05ArrayAgg = QueryDef("f05_array_agg",
    (s, d) => Tables.supplier(s, d).groupBy("s_nationkey")
      .agg(sort_array(collect_list(col("s_suppkey"))).as("supp_keys"),
        count(lit(1)).as("n"))
      .select(col("s_nationkey"),
        array_join(col("supp_keys").cast("array<string>"), ",").as("supp_keys_csv"),
        col("n"))
      .orderBy("s_nationkey"),
    Some("""SELECT s_nationkey,
           |  array_to_string(list_sort(list(s_suppkey)), ',') AS supp_keys_csv,
           |  COUNT(*) AS n
           |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin))

  /** Numeric binning (histogram shape): floor-division buckets with
    * decimal-exact per-bucket revenue. */
  val f06Binning = QueryDef("f06_binning",
    (s, d) => Tables.orders(s, d)
      .groupBy(floor(col("o_totalprice") / 50000).cast(LongType).as("price_bucket"))
      .agg(count(lit(1)).as("n"),
        moneySum(col("o_totalprice")).as("bucket_total"))
      .orderBy("price_bucket"),
    Some(s"""SELECT CAST(FLOOR(o_totalprice / 50000) AS BIGINT) AS price_bucket,
           |  COUNT(*) AS n,
           |  ${sqlMoneySum("o_totalprice")} AS bucket_total
           |FROM orders GROUP BY 1 ORDER BY price_bucket""".stripMargin))

  val all: Seq[QueryDef] = Seq(js01JsonExtract, f05ArrayAgg, f06Binning)
}
