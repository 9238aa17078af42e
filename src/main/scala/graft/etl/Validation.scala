package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Validation-split: one pass over the input produces a (valid, rejects)
  * pair of DataFrames, replacing the reference's per-row try/except +
  * reject-index bookkeeping (reference: load_hhs.py:104-127, V1-V3 in
  * SURVEY.md §2.3). Rejects carry a `reject_reason` column naming the
  * FIRST failing rule, matching the reference's elif-chain order.
  *
  * Scale notes: both halves are narrow filters over the same scan;
  * Catalyst computes the rule expressions once per row inside codegen.
  * No shuffle, no second read of the source (the reference re-reads the
  * CSV for rejects — load_hhs.py:153-155; we derive both sides from one
  * scan).
  */
object Validation {

  /** A named validation rule: `passes` must be true (or the row rejects
    * with `name` as its reason). */
  final case class Rule(name: String, passes: Column)

  /** V1 — non-negativity with the reference's `int()` truncation quirk:
    * a value in (-1, 0) truncates to 0 and PASSES (load_hhs.py:104-127).
    * For every finite value `int(v) >= 0` exactly when `v > -1`, so the
    * rule compares without a cast, and a value past the long range
    * cannot overflow one. NaN compares greater than -1 in Spark, so
    * cleaning maps it to NULL first ([[Cleaning.toDouble]]). */
  def nonNegativeTruncated(c: Column): Column =
    c.isNull || c > -1

  /** V3 — NOT NULL constraint (reference: ipynb cell-0 hospital_name). */
  def notNull(c: Column): Column = c.isNotNull

  /** Split `df` into (valid, rejects). A row is valid iff every rule
    * passes; rejects get `reject_reason` = first failing rule's name. */
  def split(df: DataFrame, rules: Seq[Rule]): (DataFrame, DataFrame) = {
    require(rules.nonEmpty, "validation requires at least one rule")
    val allPass = rules.map(_.passes).reduce(_ && _)
    val firstFailure = rules.reverse.foldLeft(lit(null).cast(StringType)) {
      case (acc, Rule(name, passes)) => when(!coalesce(passes, lit(false)), lit(name)).otherwise(acc)
    }
    // NULL rule results count as failures (SQL three-valued logic would
    // silently drop them from BOTH sides otherwise).
    val validPred = coalesce(allPass, lit(false))
    val valid = df.filter(validPred)
    val rejects = df.filter(!validPred).withColumn("reject_reason", firstFailure)
    (valid, rejects)
  }
}
