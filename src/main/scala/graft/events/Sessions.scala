package graft.events

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.util.Exact.moneySum

/** Sessionization over the events stream table (gap-based sessions).
  *
  *  - `sessionize`: the window-function form (lag → boundary flag →
  *    running sum) behind s01. One shuffle keyed by user; per-user time
  *    sort inside partitions.
  *  - `sessionWindowAgg`: Spark's built-in `session_window` grouping,
  *    s02's operator. Structured Streaming runs the same grouping, so a
  *    watermarked event stream takes this function unchanged.
  *
  * Scale notes: both shuffle once on user_id. Skewed power-users are
  * handled by AQE skew-join/agg splitting; the window form never sorts
  * globally.
  */
object Sessions {

  /** Adds session_id (per-user ordinal, 1-based) using a max-gap rule:
    * a new session starts when the gap from the previous event exceeds
    * `gapSeconds`. Tie-break on event_id for identical timestamps. */
  def sessionize(events: DataFrame, gapSeconds: Long): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val gapUs = gapSeconds * 1000000L
    events
      .withColumn("__prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
      .withColumn("__new_session",
        when(col("__prev_us").isNull ||
          unix_micros(col("ts")) - col("__prev_us") > gapUs, 1L).otherwise(0L))
      .withColumn("session_id",
        sum(col("__new_session")).over(
          byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .drop("__prev_us", "__new_session")
  }

  /** Per-user session count under the gap rule. */
  def sessionCounts(events: DataFrame, gapSeconds: Long): DataFrame =
    sessionize(events, gapSeconds)
      .groupBy("user_id").agg(max(col("session_id")).as("n_sessions"))

  /** Per-session stats via the built-in session_window operator;
    * `total_value` is decimal-exact (`Exact.moneySum`). */
  def sessionWindowAgg(events: DataFrame, gapSeconds: Long): DataFrame =
    events.groupBy(col("user_id"), session_window(col("ts"), s"$gapSeconds seconds"))
      .agg(count(lit(1)).as("n_events"), moneySum(col("value")).as("total_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("n_events"), col("total_value"))
}
