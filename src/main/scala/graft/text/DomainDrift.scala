package graft.text

import graft.util.Exact.int128
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Distribution-drift diagnostics between each domain's token
  * distribution and the whole corpus — the data-mixing health check a
  * training pipeline runs per source/dump (is this crawl slice
  * lexically shifted vs the mix it feeds?).
  *
  * Metric: TOTAL VARIATION distance, TV(p_s, q) = ½ Σ_t |p_s(t) − q(t)|
  * with p_s(t) = c_{s,t}/N_s and q(t) = g_t/G. Chosen over KL exactly
  * because it stays in INTEGER arithmetic end-to-end:
  * ½ Σ |c·G − g·N_s| / (N_s·G) — the numerator is a sum of absolute
  * integer differences (exact, associative, order-independent in
  * decimal), no logarithm whose libm rounding could drift between
  * engines, and the zero-count terms (tokens the source never emits)
  * fold into the closed form (G − Σ_{t∈s} g_t)·N_s instead of a
  * vocabulary-wide outer join.
  *
  * Scale shape: one (source, token) aggregate, one token aggregate,
  * one equi-join keyed by token (the only wide shuffle — no
  * per-token × per-source cross), a per-source fold. Products go
  * through DECIMAL(38,0): at 100 TB, c·G exceeds BIGINT (G ~ 10¹⁴
  * tokens), and decimal keeps the sum exact where a double sum would
  * be partial-aggregation-order dependent.
  */
object DomainDrift {

  /** (group, n_tokens, tv) — total-variation distance between each
    * group's token distribution and the corpus-wide one. */
  def totalVariation(docs: DataFrame, groupCol: String,
                     textCol: String = "text"): DataFrame = {
    val tok = docs.select(col(groupCol).as("grp"),
      explode(TextFunctions.tokens(col(textCol))).as("t"))
    val perGT = tok.groupBy("grp", "t").agg(count(lit(1)).as("c"))
    val perT = perGT.groupBy("t").agg(sum(col("c")).as("g"))
    val perG = perGT.groupBy("grp").agg(sum(col("c")).as("n"))
    val total = perG.agg(sum(col("n")).as("bigg"))
    val folded = perGT.join(perT, "t")
      .join(broadcast(perG), "grp") // group table is tiny → broadcast side
      .crossJoin(broadcast(total))
      .groupBy("grp", "n", "bigg").agg(
        sum(abs(int128(col("c")) * col("bigg") -
          int128(col("g")) * col("n"))).as("sdev"),
        sum(col("g")).as("gseen"))
    folded.select(col("grp"), col("n").cast(LongType).as("n_tokens"),
      ((col("sdev") + int128(col("bigg") - col("gseen")) * col("n"))
        .cast(DoubleType) /
        (lit(2.0) * col("n").cast(DoubleType) * col("bigg").cast(DoubleType)))
        .as("tv"))
  }
}
