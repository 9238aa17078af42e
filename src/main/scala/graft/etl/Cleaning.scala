package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Column-expression cleaning library — the engine's equivalent of the
  * reference's pandas row-wise cleaning (reference: load_hhs.py:46-53,
  * load_quality.py:98-107). Every transform is a pure Catalyst `Column`
  * expression: whole-stage-codegen'd, no UDFs, no driver round-trips.
  *
  * Scale notes: all ops here are narrow (per-row, no shuffle); they fuse
  * into the scan stage under whole-stage codegen, so cleaning 100 TB costs
  * one pass over the data with no extra stage boundary.
  */
object Cleaning {

  /** P2 — normalize column names: lowercase, spaces→underscores
    * (reference: load_quality.py:102). Schema-only op, zero runtime cost. */
  def normalizeColumnNames(df: DataFrame): DataFrame =
    df.toDF(df.columns.map(_.toLowerCase.replace(" ", "_")).toIndexedSeq: _*)

  /** P4 — sentinel value → NULL across the given columns
    * (reference: load_hhs.py:49, sentinel -999999). */
  def sentinelToNull(df: DataFrame, sentinel: Double, cols: Seq[String]): DataFrame = {
    val colSet = cols.toSet
    df.select(df.columns.toIndexedSeq.map { c =>
      if (colSet(c)) when(col(c) === lit(sentinel), lit(null)).otherwise(col(c)).as(c)
      else col(c)
    }: _*)
  }

  /** P6 — string recode across columns, e.g. 'Not Available' → "0"
    * (reference: load_quality.py:103). */
  def recode(df: DataFrame, mapping: Map[String, String], cols: Seq[String]): DataFrame = {
    val colSet = cols.toSet
    df.select(df.columns.toIndexedSeq.map { c =>
      if (colSet(c)) {
        val recoded = mapping.foldLeft(col(c)) { case (acc, (from, to)) =>
          when(acc === lit(from), lit(to)).otherwise(acc)
        }
        recoded.as(c)
      } else col(c)
    }: _*)
  }

  /** P7 — 'Yes'/'No' → boolean (reference: load_quality.py:105).
    * Any other value → NULL, matching the dict-map semantics. */
  def yesNoToBoolean(c: Column): Column =
    when(c === "Yes", lit(true)).when(c === "No", lit(false)).otherwise(lit(null).cast(BooleanType))

  /** P8 — best-effort numeric cast: unparseable or NaN → NULL (matches
    * pandas errors='coerce', which reads NaN as missing, reference:
    * load_quality.py:104, Reporting.py:256). `try_cast`, because a plain
    * cast throws under ANSI mode; `nanvl`, because `try_cast('NaN')` is
    * NaN, which passes every `>=`/`>` rule and poisons a sum or mean. */
  def toDouble(c: Column): Column =
    nanvl(c.try_cast(DoubleType), lit(null).cast(DoubleType))

  /** P9 — date parse 'yyyy-MM-dd' (reference: load_hhs.py:53,
    * load_quality.py:106). Malformed → NULL (`try_to_date`: `to_date`
    * throws under ANSI mode). */
  def parseDate(c: Column): Column = try_to_date(c, "yyyy-MM-dd")

  /** P3 — constant column from a pipeline parameter
    * (reference: load_quality.py:106-107, the CLI data_date). */
  def withLiteralDate(df: DataFrame, name: String, isoDate: String): DataFrame =
    df.withColumn(name, lit(isoDate).cast(DateType))

  /** P8 applied to a column subset (reference load_hhs.py:52 casts only
    * what parses; we cast the 8 known metric columns explicitly).
    * Unparseable or NaN → NULL, as in [[toDouble]]. */
  def castColumns(df: DataFrame, cols: Seq[String]): DataFrame = {
    val colSet = cols.toSet
    df.select(df.columns.toIndexedSeq.map { c =>
      if (colSet(c)) toDouble(col(c)).as(c) else col(c)
    }: _*)
  }
}
