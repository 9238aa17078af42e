package graft.warehouse

import graft.etl.{Cleaning, Dedup, Validation}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** HHS weekly hospital-capacity ingest (reference: load_hhs.py end to end).
  *
  * The reference does per-row work — up to 6 network round-trips per row
  * (3 dup-probe SELECTs + 3 INSERTs, load_hhs.py:75-137). Here a load is
  * scan → clean → validate-split → dedup (within-batch first-wins +
  * anti-join vs warehouse) → three table appends + a reject write.
  *
  * One load per source: [[load]] is the only batch HHS load, and it and
  * the streaming ingest share the per-delta step [[appendNew]]. A load
  * parses the CSV once: the cleaned frame is persisted for the load, and
  * its one small query (the delta's weeks) and four writes (three tables,
  * the rejects) all read it. The history read is bounded by the delta's
  * weeks: the bed-table anti-join reads only the partitions of the weeks
  * the delta holds. The hospitals and locations anti-joins read those key
  * columns whole; at 100 TB their existing-keys side is broadcastable
  * while the key set fits, otherwise a shuffled anti-join.
  */
object HhsPipeline {

  /** Read a raw HHS CSV string-preserving, with a file-order index so
    * first-occurrence-wins dedup is deterministic in a distributed read.
    * monotonically_increasing_id is non-contiguous but ORDER-PRESERVING
    * within and across parquet/csv file splits, which is all "first
    * occurrence" needs. */
  def readRaw(spark: SparkSession, csvPath: String): DataFrame =
    spark.read
      .option("header", "true")
      .schema(Schemas.hhsRawCsv)
      .csv(csvPath)
      .withColumn("__file_order", monotonically_increasing_id())

  /** Clean per SURVEY §2.2: sentinel -999999 → NULL (P4), metric casts
    * (P8), date parse (P9). String columns stay raw for the reject sink. */
  def clean(raw: DataFrame): DataFrame = {
    val sentinelCleared = Cleaning.sentinelToNull(
      Cleaning.castColumns(raw, Schemas.hhsMetricColumns),
      -999999d, Schemas.hhsMetricColumns)
    sentinelCleared.withColumn("collection_week", Cleaning.parseDate(col("collection_week")))
  }

  /** V1 (8 metric non-negativity with int()-truncation quirk) + V3
    * (hospital_name NOT NULL), elif order matching load_hhs.py:104-127,
    * then the two key columns NOT NULL: hospital_pk is the reference's
    * PRIMARY KEY, and a NULL key never matches the cross-load anti-join,
    * so every replay would append such a row again. An unparseable week
    * cleans to NULL and rejects here. */
  def validationRules: Seq[Validation.Rule] =
    (Validation.Rule("hospital_name_null", Validation.notNull(col("hospital_name"))) +:
      Schemas.hhsMetricColumns.map(c =>
        Validation.Rule(s"negative_$c", Validation.nonNegativeTruncated(col(c))))) ++
      Seq("hospital_pk", "collection_week").map(c =>
        Validation.Rule(s"${c}_null", Validation.notNull(col(c))))

  /** Load the CSV at `csvPath` into the warehouse at `warehouseDir`
    * ([[appendNew]]) and replace the HHS rejects under `rejectDir`,
    * parsing the CSV once: the cleaned frame is persisted for the load
    * and unpersisted after its last write. */
  def load(spark: SparkSession, csvPath: String, warehouseDir: String, rejectDir: String): Unit =
    Warehouse.persistedFor(clean(readRaw(spark, csvPath))) { cleaned =>
      val (valid, rejects) = Validation.split(cleaned, validationRules)
      appendNew(valid, warehouseDir)
      Warehouse.writeRejects(rejects.drop("__file_order"), rejectDir, "hhs")
    }

  /** Append the rows of `valid` that the warehouse at `warehouseDir`
    * lacks to hospitals, locations and bed information, in that order:
    * first occurrence by `__file_order` wins per key, minus keys already
    * in that table. Keys: hospital_pk (load_hhs.py:75,89), hospital_fk
    * for locations, (hospital_fk, collection_week) (load_hhs.py:103).
    * Each table's own key, so a replay after an interrupted load appends
    * exactly what that load did not. The three tables are read before
    * the first append.
    *
    * Collects the delta's distinct weeks (one small query over `valid`)
    * and reads the existing bed table at only those weeks: Spark's
    * dynamic partition pruning does not apply to a left-anti join, so the
    * filter is explicit, and the history read follows the delta, not the
    * warehouse. */
  def appendNew(valid: DataFrame, warehouseDir: String): Unit = {
    def existing(t: Warehouse.Table) = Warehouse.read(valid.sparkSession, warehouseDir, t)
    val existingHospitals = existing(Warehouse.Hospitals)
    val existingLocations = existing(Warehouse.Locations)
    val existingBedInfo = existing(Warehouse.BedInformation)
    val firstPerHospital = Dedup.firstOccurrenceWins(valid, Seq("hospital_pk"), "__file_order")
    val hospitals = Dedup.antiJoinExisting(firstPerHospital, existingHospitals, Seq("hospital_pk"))
      .select(col("hospital_pk"), col("hospital_name"))
    val locations = Dedup.antiJoinExisting(
      firstPerHospital.select(
        col("hospital_pk").as("hospital_fk"),
        col("state"), col("address"), col("city"), col("zip"),
        col("fips_code"), col("geocoded_hospital_address")),
      existingLocations, Seq("hospital_fk"))
    val weeks = valid.select("collection_week").distinct().collect().map(_.get(0))
    val firstPerWeek = Dedup.firstOccurrenceWins(
      valid, Seq("hospital_pk", "collection_week"), "__file_order")
    val bedInfo = Dedup.antiJoinExisting(
      firstPerWeek.select(
        (col("hospital_pk").as("hospital_fk") +: col("collection_week") +:
          Schemas.hhsMetricColumns.map(col)).toIndexedSeq: _*),
      existingBedInfo.filter(col("collection_week").isin(weeks.toIndexedSeq: _*)),
      Seq("hospital_fk", "collection_week"))
    Warehouse.append(hospitals, warehouseDir, Warehouse.Hospitals)
    Warehouse.append(locations, warehouseDir, Warehouse.Locations)
    Warehouse.append(bedInfo, warehouseDir, Warehouse.BedInformation)
  }
}
