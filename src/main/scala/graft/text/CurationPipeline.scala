package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus curation as a first-class pipeline — the documents-side
  * mirror of the warehouse ingest pipelines: one pass splits the corpus
  * into kept rows and rejects carrying a reject_reason, with the same
  * elif-style first-failing-reason contract as etl.Validation.
  *
  * Stage order (and reason precedence): language filter → quality
  * threshold → exact dedup (first-wins by id). Scale shape: the two
  * filters are narrow (fused into the scan); dedup is the only shuffle,
  * keyed by content fingerprint.
  */
object CurationPipeline {

  final case class Config(
      keepLangs: Set[String] = Set("en"),
      minQuality: Double = 0.5,
      dedupKey: DataFrame => org.apache.spark.sql.Column =
        df => TextFunctions.fingerprint(df("text")))

  final case class Result(kept: DataFrame, rejects: DataFrame)

  /** The filter stage: scores every document (`lang_pred`, `quality`)
    * and labels it in `bucket` with its first failing reason, in
    * precedence order lang_filtered → low_quality, else "passing".
    * Row-local column expressions only, so a document stream runs it
    * unchanged. */
  def filterStage(docs: DataFrame, config: Config = Config(),
                  textCol: String = "text"): DataFrame =
    docs
      .withColumn("lang_pred", TextFunctions.langId(col(textCol)))
      .withColumn("quality", TextFunctions.qualityScore(col(textCol)))
      .withColumn("bucket",
        when(!col("lang_pred").isin(config.keepLangs.toSeq: _*), lit("lang_filtered"))
          .when(col("quality") < config.minQuality, lit("low_quality"))
          .otherwise(lit("passing")))

  def curate(docs: DataFrame, config: Config = Config(),
             idCol: String = "doc_id", textCol: String = "text"): Result = {
    val scored = filterStage(docs, config, textCol)
      .withColumn("__fp", TextFunctions.fingerprint(col(textCol)))
    val isPassing = col("bucket") === "passing"
    // dedup rank computed over PASSING rows only (a filtered-out copy
    // shouldn't claim the keeper slot)
    val passing = scored.filter(isPassing).drop("bucket")
    val w = Window.partitionBy("__fp").orderBy(col(idCol))
    val ranked = passing.withColumn("__rn", row_number().over(w))
    val kept = ranked.filter(col("__rn") === 1).drop("__rn", "__fp")
    val dupRejects = ranked.filter(col("__rn") > 1).drop("__rn", "__fp")
      .withColumn("reject_reason", lit("duplicate"))
    val filterRejects = scored.filter(!isPassing).drop("__fp")
      .withColumnRenamed("bucket", "reject_reason")
    Result(kept, filterRejects.unionByName(dupRejects))
  }
}
