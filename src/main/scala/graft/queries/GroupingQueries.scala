package graft.queries

import graft.{QueryDef, Tables}
import graft.util.Exact._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Multi-level aggregation (ROLLUP / CUBE / grouping sets) and the
  * SQL-text query interface — beyond the reference's flat GROUP BYs,
  * but part of a complete analytics surface. Null-label ordering is
  * pinned with explicit NULLS FIRST in the oracle (DuckDB defaults
  * NULLS LAST; Spark defaults NULLS FIRST). */
object GroupingQueries {

  import RelationalQueries.{revTerm, sqlRevTerm}

  /** ROLLUP over (returnflag, linestatus): per-pair, per-flag subtotals
    * and a grand total in one pass (partial aggregation handles the
    * expansion; no extra scans). The revenue term is projected BEFORE
    * the rollup: an aggregate argument is evaluated per Expand output
    * row (one per grouping set), so inlining the decimal multiply into
    * sum() would compute it 3x per input row. */
  val g01Rollup = QueryDef("g01_rollup",
    (s, d) => Tables.lineitem(s, d)
      .select(col("l_returnflag"), col("l_linestatus"), revTerm.as("__rev"))
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), exactSum(col("__rev")).as("revenue"))
      .orderBy(col("l_returnflag"), col("l_linestatus")),
    Some(s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
            |  ${sqlExactSum(sqlRevTerm)} AS revenue
            |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
            |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin))

  /** CUBE over (orderstatus, orderpriority) with grouping_id so the
    * aggregation level is explicit in the output. */
  val g02Cube = QueryDef("g02_cube",
    (s, d) => Tables.orders(s, d)
      .cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"), grouping_id().cast(LongType).as("gid"))
      .orderBy(col("o_orderstatus"), col("o_orderpriority")),
    Some("""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
           |  GROUPING(o_orderstatus, o_orderpriority) AS gid
           |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
           |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin))

  /** S8 fidelity — the reference ships SQL text to its engine
    * (Reporting.py); this query does exactly that: temp views + ANSI SQL
    * through spark.sql, same text shape as the oracle. */
  val g03SqlText = QueryDef("g03_sql_text",
    (s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("v_orders")
      Tables.customer(s, d).createOrReplaceTempView("v_customer")
      s.sql(s"""
        SELECT c_mktsegment, COUNT(*) AS n_orders,
          ${sqlMoneySum("o_totalprice")} AS total
        FROM v_orders JOIN v_customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment ORDER BY c_mktsegment""")
    },
    Some(s"""SELECT c_mktsegment, COUNT(*) AS n_orders,
           |  ${sqlMoneySum("o_totalprice")} AS total
           |FROM orders JOIN customer ON o_custkey = c_custkey
           |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin))

  /** Explicit GROUPING SETS — two independent single-dimension
    * aggregates ((status), (priority)) computed in ONE scan via Expand
    * (each input row fans out once per set, partial aggregation
    * combines map-side), vs the naive two-scans-plus-UNION. Like g01,
    * the decimal revenue term is projected before the expand so it is
    * computed once per input row, not once per grouping set. */
  val g04GroupingSets = QueryDef("g04_grouping_sets",
    (s, d) => Tables.orders(s, d)
      .select(col("o_orderstatus"), col("o_orderpriority"),
        money(col("o_totalprice")).as("__price"))
      .groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        exactSum(col("__price")).as("total"),
        grouping_id().cast(LongType).as("gid"))
      .orderBy(col("o_orderstatus"), col("o_orderpriority")),
    Some(s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
           |  ${sqlMoneySum("o_totalprice")} AS total,
           |  GROUPING(o_orderstatus, o_orderpriority) AS gid
           |FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
           |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin))

  val all: Seq[QueryDef] = Seq(g01Rollup, g02Cube, g03SqlText, g04GroupingSets)
}
