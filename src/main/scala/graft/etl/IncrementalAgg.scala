package graft.etl

import graft.util.Exact.moneyState
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Incremental aggregate maintenance: keep a per-key STATE table of
  * algebraic partials (count / decimal sum / min / max), fold each new
  * batch into it by a state-level merge, and derive presentation
  * metrics (avg) only at read time.
  *
  * This is the 100 TB pattern for standing aggregates over append-only
  * facts: the nightly job aggregates ONLY the new partition
  * ([[state]] over the delta — shuffle sized by the delta, not
  * history), then [[merge]]s two key-keyed state frames — a shuffle of
  * two *aggregate-sized* inputs, never a rescan of the raw history.
  * Correctness rests on algebraic decomposability: count and sum add,
  * min and max take extrema, avg = sum/count at the end — exactly the
  * partial/final split Spark's own HashAggregate performs inside one
  * job, lifted to a persistable table so it composes ACROSS jobs.
  * Sums live in [[graft.util.Exact.moneyState]] (exact, associative, order-independent),
  * so merged state is bit-identical to a from-scratch aggregate — the
  * claim ia01 pins against the oracle.
  *
  * State schema per value column: `n_rows` (non-null count),
  * `sum_v` (decimal), `min_v`, `max_v`. Nulls in the value column are
  * skipped by every partial (count(col)/sum/min/max all ignore nulls),
  * matching what the one-shot aggregate computes.
  */
object IncrementalAgg {

  /** Aggregate a batch into a state frame keyed by `keys`. */
  def state(df: DataFrame, keys: Seq[String], valueCol: String): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(count(col(valueCol)).as("n_rows"),
        sum(moneyState(col(valueCol))).as("sum_v"),
        min(col(valueCol)).as("min_v"),
        max(col(valueCol)).as("max_v"))

  /** Merge two state frames (either may have keys the other lacks). */
  def merge(a: DataFrame, b: DataFrame, keys: Seq[String]): DataFrame =
    a.unionByName(b)
      .groupBy(keys.map(col): _*)
      .agg(sum(col("n_rows")).as("n_rows"),
        sum(col("sum_v")).as("sum_v"),
        min(col("min_v")).as("min_v"),
        max(col("max_v")).as("max_v"))

  /** Presentation view: derived metrics off the state, computed at
    * read time (an avg is not mergeable; its ingredients are). */
  def result(state: DataFrame): DataFrame =
    state
      // divide two exactly-determined values as doubles so any engine
      // performs the identical IEEE operation (QueryDef parity rules)
      .withColumn("avg_v",
        col("sum_v").cast(DoubleType) / col("n_rows").cast(DoubleType))
      .withColumn("sum_v", col("sum_v").cast(DoubleType))
}
