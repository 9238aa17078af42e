package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named engine query: the Spark pipeline plus (when SQL-expressible)
  * an ANSI-SQL oracle the driver runs in DuckDB over the same parquet
  * tables. Parity discipline (why results hash-match bit-for-bit):
  *
  *  - Money/metric aggregation is done in DECIMAL (exact, associative,
  *    order-independent) and cast to double only at the end — a plain
  *    double sum would be partial-aggregation-order dependent in Spark
  *    and could differ from DuckDB in the last ulp. The rules (money,
  *    rate, cents, int128, the wide sums) live in [[graft.util.Exact]],
  *    each a Spark `Column` function beside its SQL twin; no other
  *    file spells a decimal type.
  *  - Ratios/averages divide two exactly-determined doubles, so both
  *    engines perform the identical IEEE-754 operation.
  *  - Every query ends in a total ORDER BY (deterministic tie-breaks).
  *  - Column aliases match the oracle SQL exactly.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])
