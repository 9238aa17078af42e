package graft.queries

import graft.{QueryDef, Tables}
import graft.util.Exact._
import org.apache.spark.sql.functions._

/** Pivot and subquery forms — the last relational surface pieces:
  * wide-format reshaping and correlated/uncorrelated subqueries. */
object PivotSubqueryQueries {

  /** Pivot counts + decimal-exact sums, pivot values enumerated
    * explicitly (never let pivot infer values from data at scale — it
    * costs an extra collect and makes the schema data-dependent). The
    * oracle is the CASE/FILTER expansion pivot desugars to. */
  val pv01Pivot = QueryDef("pv01_pivot",
    (s, d) => Tables.orders(s, d)
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .withColumnsRenamed(Map("F" -> "n_f", "O" -> "n_o", "P" -> "n_p"))
      .orderBy("o_orderpriority"),
    Some("""SELECT o_orderpriority,
           |  COUNT(*) FILTER (o_orderstatus = 'F') AS n_f,
           |  COUNT(*) FILTER (o_orderstatus = 'O') AS n_o,
           |  COUNT(*) FILTER (o_orderstatus = 'P') AS n_p
           |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin))

  /** Uncorrelated scalar subquery: orders above the global average
    * price (decimal-exact average on both sides). */
  val sq01ScalarSubquery = QueryDef("sq01_scalar_subquery",
    (s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("v_sq_orders")
      s.sql(s"""
        SELECT o_orderkey, o_totalprice FROM v_sq_orders
        WHERE o_totalprice > (
          SELECT ${sqlMoneySum("o_totalprice")} / COUNT(*)
          FROM v_sq_orders)
        ORDER BY o_orderkey""")
    },
    Some(s"""SELECT o_orderkey, o_totalprice FROM orders
           |WHERE o_totalprice > (
           |  SELECT ${sqlMoneySum("o_totalprice")} / COUNT(*)
           |  FROM orders)
           |ORDER BY o_orderkey""".stripMargin))

  /** Correlated EXISTS with an extra predicate — the subquery form the
    * dedup anti-joins generalize (planned as a semi-join). */
  val sq02CorrelatedExists = QueryDef("sq02_correlated_exists",
    (s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("v_sq_customer")
      Tables.orders(s, d).createOrReplaceTempView("v_sq_orders2")
      s.sql("""
        SELECT c_custkey, c_acctbal FROM v_sq_customer
        WHERE EXISTS (SELECT 1 FROM v_sq_orders2
                      WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        ORDER BY c_custkey""")
    },
    Some("""SELECT c_custkey, c_acctbal FROM customer
           |WHERE EXISTS (SELECT 1 FROM orders
           |              WHERE o_custkey = c_custkey AND o_totalprice > 400000)
           |ORDER BY c_custkey""".stripMargin))

  /** Unpivot (wide→long, the inverse reshaping of pv01): per-status
    * decimal-exact sums melted to (status, metric, value) rows. The
    * oracle uses DuckDB's UNPIVOT over the same aggregate. */
  val pv02Unpivot = QueryDef("pv02_unpivot",
    (s, d) => Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        moneySum(col("l_quantity")).as("sum_qty"),
        moneySum(col("l_extendedprice")).as("sum_base"))
      .unpivot(
        ids = Array(col("l_returnflag")),
        values = Array(col("sum_qty"), col("sum_base")),
        variableColumnName = "metric", valueColumnName = "value")
      .orderBy("l_returnflag", "metric"),
    Some(s"""UNPIVOT (
           |  SELECT l_returnflag,
           |    ${sqlMoneySum("l_quantity")} AS sum_qty,
           |    ${sqlMoneySum("l_extendedprice")} AS sum_base
           |  FROM lineitem GROUP BY l_returnflag)
           |ON sum_qty, sum_base INTO NAME metric VALUE value
           |ORDER BY l_returnflag, metric""".stripMargin))

  val all: Seq[QueryDef] = Seq(pv01Pivot, pv02Unpivot, sq01ScalarSubquery, sq02CorrelatedExists)
}
