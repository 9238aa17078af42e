package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named engine query: the Spark pipeline plus (when SQL-expressible)
  * an ANSI-SQL oracle the driver runs in DuckDB over the same parquet
  * tables.
  *
  * Build contract: a query is a `prepare` step and a lazy plan over its
  * result. `prepare` is the only place a query may run a Spark job — a
  * training loop (BPE merges, Lloyd codebooks, an IVF fit), a fixpoint
  * (connected components, hierarchy doubling) or a layout copy; it
  * returns the artifact the plan reads. The plan half launches no job
  * while it is built, analyzed or optimized (LazinessSpec checks every
  * registered query). A query with nothing to prepare has an empty
  * prepare step. `fn` runs prepare, then the plan: it is what every
  * harness calls, so prepare time counts as build time.
  *
  * Parity discipline (why results hash-match bit-for-bit):
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
final class QueryDef private (
    val name: String,
    val oracle: Option[String],
    staged: (SparkSession, String) => () => DataFrame) {

  /** Runs the prepare step; returns the plan half. */
  def prepare(spark: SparkSession, sfDir: String): () => DataFrame = staged(spark, sfDir)

  /** Prepare, then the plan. */
  val fn: (SparkSession, String) => DataFrame = (spark, sfDir) => prepare(spark, sfDir)()
}

object QueryDef {

  /** A query with nothing to prepare. */
  def apply(name: String, plan: (SparkSession, String) => DataFrame,
            oracle: Option[String]): QueryDef =
    prepared(name, (_, _) => ())((spark, sfDir, _: Unit) => plan(spark, sfDir), oracle)

  /** A query whose plan reads the artifact `prepare` computes. */
  def prepared[A](name: String, prepare: (SparkSession, String) => A)(
      plan: (SparkSession, String, A) => DataFrame, oracle: Option[String]): QueryDef =
    new QueryDef(name, oracle, (spark, sfDir) => {
      val artifact = prepare(spark, sfDir)
      () => plan(spark, sfDir, artifact)
    })
}
