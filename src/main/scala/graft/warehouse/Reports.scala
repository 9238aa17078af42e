package graft.warehouse

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference dashboard's analytics queries (Reporting.py:27-263) as
  * DataFrame pipelines over the warehouse tables. Each stays fully
  * distributed — the driver collects only display-sized results, unlike
  * the reference which fetchall()s every result into pandas.
  *
  * One summary per page: the reference's per-week sections (R1 records
  * for a week, R2 records per week, R3 bed sums for a week, R4 the same
  * sums for the 4 latest weeks, R6 cases per week) are all slices of one
  * `GROUP BY collection_week` over the bed table, so they are one
  * pipeline, [[weekSummary]], and the page reads the bed history once for
  * all five. R5, R7, R8 and R9 join other tables and keep pipelines of
  * their own.
  *
  * Scale notes: dimension joins (hospitals, locations) auto-broadcast;
  * fact-side filters on data_date hit parquet partition pruning because
  * the quality pipeline writes partitioned by that column.
  */
object Reports {

  private val bedCols5 = Seq(
    "all_adult_hospital_beds_7_day_avg",
    "all_pediatric_inpatient_beds_7_day_avg",
    "total_icu_beds_7_day_avg",
    "icu_beds_used_7_day_avg",
    "inpatient_beds_used_covid_7_day_avg")

  private def inUse: Column =
    col("all_adult_hospital_inpatient_bed_occupied_7_day_coverage") +
      col("all_pediatric_inpatient_bed_occupied_7_day_avg")

  private def available: Column =
    col("all_adult_hospital_beds_7_day_avg") +
      col("all_pediatric_inpatient_beds_7_day_avg")

  /** One row per stored `collection_week` — everything the page's
    * per-week sections read: `n_records` (R1 for one week, R2 over all
    * weeks — Reporting.py:29-41), the five `sum_<col>` bed sums rounded to
    * 2 places (R3 for one week, R4 for the 4 latest — Reporting.py:59-106)
    * and `all_cases`/`covid_cases` (R6 — Reporting.py:144-153). One
    * `groupBy` over the whole bed history; the result is display-sized
    * (one row per week) and unordered, so the report page collects it
    * once and slices it on the driver. */
  def weekSummary(bedInfo: DataFrame): DataFrame =
    bedInfo.groupBy("collection_week").agg(
      count(lit(1)).as("n_records"),
      bedCols5.map(c => round(sum(col(c)), 2).as(s"sum_$c")) ++ Seq(
        sum(col("all_adult_hospital_inpatient_bed_occupied_7_day_coverage") +
          col("all_pediatric_inpatient_bed_occupied_7_day_avg") +
          col("icu_beds_used_7_day_avg")).as("all_cases"),
        sum(col("inpatient_beds_used_covid_7_day_avg")).as("covid_cases")): _*)

  /** R5 — J1/A5: fraction of beds in use by quality rating
    * (Reporting.py:109-135). Deliberately NO date alignment in the join —
    * reference fidelity (SURVEY §7.4.5). Null on zero denominator
    * (Postgres would error; documented divergence). */
  def bedUseByRating(quality: DataFrame, bedInfo: DataFrame): DataFrame =
    quality.join(bedInfo, quality("facility_id") === bedInfo("hospital_fk"))
      .groupBy("hospital_overall_rating")
      .agg((sum(inUse) / when(sum(available) =!= 0d, sum(available)))
        .as("fraction_of_beds_in_use"))
      .orderBy("hospital_overall_rating")

  /** R7 — J2/A7/T3: emergency-service hospitals per state, top 20
    * (Reporting.py:180-196). Dim joins broadcast. */
  def emergencyHospitalsByState(quality: DataFrame, hospitals: DataFrame,
                                locations: DataFrame, dataDate: String): DataFrame =
    quality.filter(col("data_date") === lit(dataDate) && col("emergency_services"))
      .join(hospitals, quality("facility_id") === hospitals("hospital_pk"))
      .join(locations, hospitals("hospital_pk") === locations("hospital_fk"))
      .groupBy("state").agg(count(lit(1)).as("n_hospitals"))
      .orderBy(col("n_hospitals").desc, col("state")).limit(20)

  /** R8 — J4/A8: bed-use fraction by ownership over weeks
    * (Reporting.py:200-224). */
  def bedUseByOwnership(quality: DataFrame, bedInfo: DataFrame, ownership: String): DataFrame =
    quality.filter(col("hospital_ownership") === lit(ownership))
      .join(bedInfo, quality("facility_id") === bedInfo("hospital_fk"))
      .groupBy("hospital_ownership", "collection_week")
      .agg((sum(inUse) / when(sum(available) =!= 0d, sum(available)))
        .as("fraction_in_use"))
      .orderBy("collection_week")

  /** R9 — A9/T4/V6: mean rating per state, top-10 + bottom-10
    * (Reporting.py:240-263). */
  def ratingByStateTopBottom(quality: DataFrame, locations: DataFrame,
                             dataDate: String, k: Int = 10): DataFrame = {
    val avgByState = quality.filter(col("data_date") === lit(dataDate))
      .join(locations, quality("facility_id") === locations("hospital_fk"))
      .na.drop(Seq("state", "hospital_overall_rating"))
      .groupBy("state").agg(avg("hospital_overall_rating").as("avg_rating"))
    val top = avgByState.orderBy(col("avg_rating").desc, col("state")).limit(k)
    val bottom = avgByState.orderBy(col("avg_rating").asc, col("state")).limit(k)
    top.unionByName(bottom).distinct().orderBy(col("avg_rating").desc, col("state"))
  }
}
