package graft.util

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** The exact-arithmetic vocabulary behind the oracle parity rule (see
  * [[graft.QueryDef]]): the reference leaves every sum to an exact
  * NUMERIC, so the engine sums in DECIMAL — exact, associative, the
  * same under any partial-aggregation order — and casts to double only
  * at the end. Each rule is named by its role and given twice, side by
  * side: a Spark `Column` function and its SQL twin, the string the
  * DuckDB oracle runs. The SQL twins take a SQL expression and return
  * one. No other file spells a decimal type or `HUGEINT`, so a
  * precision is changed in exactly one place for both engines.
  *
  * The twins agree on every rule (ExactSpec evaluates each SQL twin in
  * Spark against its Column twin); the one dialect gap is DuckDB's
  * `HUGEINT`, which Spark spells `DECIMAL(38,0)` ([[int128]]). */
object Exact {

  /** A 2-place money or metric value: prices, balances, quantities,
    * event values. */
  def money(c: Column): Column = c.cast(DecimalType(12, 2))
  def sqlMoney(x: String): String = s"CAST($x AS DECIMAL(12,2))"

  /** A 2-place rate below 100: discount, tax. */
  def rate(c: Column): Column = c.cast(DecimalType(4, 2))
  def sqlRate(x: String): String = s"CAST($x AS DECIMAL(4,2))"

  /** The exact one that a [[rate]] is added to or taken from. */
  val one: Column = lit(1).cast(DecimalType(3, 2))
  val sqlOne: String = "CAST(1 AS DECIMAL(3,2))"

  /** A [[money]] value as whole cents, an exact BIGINT. */
  def cents(c: Column): Column = (money(c) * 100).cast(LongType)
  def sqlCents(x: String): String = s"CAST(${sqlMoney(x)} * 100 AS BIGINT)"

  /** An int128 accumulator for integer products and sums past BIGINT. */
  def int128(c: Column): Column = c.cast(DecimalType(38, 0))
  def sqlInt128(x: String): String = s"CAST($x AS HUGEINT)"

  /** The money state an incremental aggregate sums and merges across
    * batches (ia01): 28 digits, so merged state never overflows. */
  def moneyState(c: Column): Column = c.cast(DecimalType(28, 2))
  def sqlMoneyState(x: String): String = s"CAST($x AS DECIMAL(28,2))"

  /** A change-data-capture total (up02): money widened by two digits
    * for the upserted adjustments. */
  def cdcTotal(c: Column): Column = c.cast(DecimalType(14, 2))
  def sqlCdcTotal(x: String): String = s"CAST($x AS DECIMAL(14,2))"

  /** A value clipped to 6dp-rounded bounds, summed for a robust mean
    * (f09). */
  def clipped(c: Column): Column = c.cast(DecimalType(24, 6))
  def sqlClipped(x: String): String = s"CAST($x AS DECIMAL(24,6))"

  /** An exact sum reported as a double: the one cast, after the sum. */
  def exactSum(c: Column): Column = sum(c).cast(DoubleType)
  def sqlExactSum(x: String): String = s"CAST(SUM($x) AS DOUBLE)"

  /** [[exactSum]] of [[money]]: the parity rule's common form. */
  def moneySum(c: Column): Column = exactSum(money(c))
  def sqlMoneySum(x: String): String = sqlExactSum(sqlMoney(x))
}
