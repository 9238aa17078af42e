package graft.warehouse

import graft.etl.{Cleaning, Dedup, Validation}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** CMS hospital-quality ingest (reference: load_quality.py end to end).
  *
  * The reference already evolved toward set-based execution (one IN-probe
  * + batched inserts); this is its natural Spark form: scan (5-column
  * projection pushed into the reader) → rename → recode → cast → literal
  * date → anti-join dedup → validate → write. The engine binds insert
  * columns BY NAME — the reference's positional binding
  * (load_quality.py:127) is a latent bug, documented divergence
  * (SURVEY §7.4.6). One load per source: [[load]] is the only quality
  * load. It parses the CSV once: the quality append and the reject
  * write read one persisted frame.
  */
object QualityPipeline {

  /** S2 — projected scan: only the 5 consumed columns reach the reader
    * (reference: load_quality.py:98-99 usecols). */
  def readRaw(spark: SparkSession, csvPath: String): DataFrame =
    spark.read
      .option("header", "true")
      .csv(csvPath)
      .select(Schemas.qualityRawCsv.fieldNames.toIndexedSeq.map(col): _*)

  /** P2 rename, P6 'Not Available'→"0", P7 Yes/No→bool, P8 cast,
    * P3 literal data_date (reference: load_quality.py:102-107). */
  def clean(raw: DataFrame, dataDate: String): DataFrame = {
    val renamed = Cleaning.normalizeColumnNames(raw)
    val recoded = Cleaning.recode(renamed, Map("Not Available" -> "0"),
      renamed.columns.toIndexedSeq)
    Cleaning.withLiteralDate(
      recoded
        .withColumn("hospital_overall_rating",
          Cleaning.toDouble(col("hospital_overall_rating")))
        .withColumn("emergency_services",
          Cleaning.yesNoToBoolean(col("emergency_services"))),
      "data_date", dataDate)
  }

  /** V2 — the DDL CHECK (hospital_overall_rating >= 0, ipynb cell-3) as a
    * pre-write validation rule (Spark has no CHECK constraints). */
  def validationRules: Seq[Validation.Rule] = Seq(
    Validation.Rule("facility_id_null", Validation.notNull(col("facility_id"))),
    Validation.Rule("rating_negative",
      col("hospital_overall_rating").isNull || col("hospital_overall_rating") >= 0))

  /** Load the CSV at `csvPath` as the `dataDate` snapshot into the
    * warehouse at `warehouseDir` and replace the quality rejects under
    * `rejectDir`, parsing the CSV once: the cleaned frame is persisted
    * for the load and unpersisted after its last write. */
  def load(spark: SparkSession, csvPath: String, dataDate: String,
           warehouseDir: String, rejectDir: String): Unit =
    Warehouse.persistedFor(clean(readRaw(spark, csvPath), dataDate)) { cleaned =>
      val (valid, invalid) = Validation.split(cleaned, validationRules)
      // D3 — set-based dedup vs same-date warehouse snapshot
      // (load_quality.py:122-126): existing side filtered to data_date then
      // key-pruned; Catalyst broadcasts it when small. Read before the
      // append, so the duplicate rejects, written after it, see the table
      // as it was before this load.
      val sameDate = Warehouse.read(spark, warehouseDir, Warehouse.QualityInformation)
        .filter(col("data_date") === lit(dataDate).cast(DateType))
      val fresh = Dedup.antiJoinExisting(valid, sameDate, Seq("facility_id"))
      val dups = Dedup.duplicatesOfExisting(valid, sameDate, Seq("facility_id"))
        .withColumn("reject_reason", lit("duplicate"))
      Warehouse.append(fresh.select(
        col("facility_id"), col("hospital_overall_rating"), col("emergency_services"),
        col("hospital_type"), col("hospital_ownership"), col("data_date")),
        warehouseDir, Warehouse.QualityInformation)
      Warehouse.writeRejects(invalid.unionByName(dups, allowMissingColumns = true),
        rejectDir, "quality")
    }
}
