package graft.warehouse

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference dashboard's analytics queries (Reporting.py:27-263) as
  * DataFrame pipelines over the warehouse tables. Each stays fully
  * distributed — the driver collects only display-sized results, unlike
  * the reference which fetchall()s every result into pandas.
  *
  * One summary per table read: sections that read the same rows are
  * slices of one aggregate, computed once per page and sliced on the
  * driver. The per-week sections (R1 records for a week, R2 records per
  * week, R3 bed sums for a week, R4 the same sums for the 4 latest weeks,
  * R6 cases per week) are one `GROUP BY collection_week` over the bed
  * table, [[weekSummary]]; R5 and R8 are one grouping-set aggregate over
  * the quality ⨝ bed join, [[bedUse]]. R7 and R9 keep pipelines of their
  * own.
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

  /** [[bedUse]]'s `grouping_id` for its rating rows (R5) and for its
    * ownership-and-week rows (R8). Bit i is set when grouping column i of
    * (rating, ownership, week) is not in the row's set. */
  val ByRating = 3L
  val ByOwnershipWeek = 4L

  /** R5 and R8 — J1/J4/A5/A8: the fraction of beds in use by quality
    * rating (Reporting.py:109-135) and by ownership and week
    * (Reporting.py:200-224), as one join and one aggregate over
    * `groupingSets` (hospital_overall_rating) and (hospital_ownership,
    * collection_week). Deliberately NO date alignment in the join —
    * reference fidelity (SURVEY §7.4.5): a bed row counts once per
    * quality snapshot of its facility. `fraction_in_use` is NULL on a
    * zero denominator (Postgres would error; documented divergence).
    * `grouping_id` names each row's set; a NULL rating or week is a real
    * group, so rows are told apart by it, never by NULL. Unordered and
    * display-sized (ratings plus ownerships × weeks). */
  def bedUse(quality: DataFrame, bedInfo: DataFrame): DataFrame = {
    val Seq(rating, ownership, week) =
      Seq("hospital_overall_rating", "hospital_ownership", "collection_week").map(col)
    quality.join(bedInfo, quality("facility_id") === bedInfo("hospital_fk"))
      .groupingSets(Seq(Seq(rating), Seq(ownership, week)), rating, ownership, week)
      .agg(grouping_id().as("grouping_id"),
        (sum(inUse) / when(sum(available) =!= 0d, sum(available))).as("fraction_in_use"))
  }

  /** R7 — J2/A7/T3: emergency-service hospitals per state, top 20
    * (Reporting.py:180-196). Dim joins broadcast. */
  def emergencyHospitalsByState(quality: DataFrame, hospitals: DataFrame,
                                locations: DataFrame, dataDate: String): DataFrame =
    quality.filter(col("data_date") === lit(dataDate) && col("emergency_services"))
      .join(hospitals, quality("facility_id") === hospitals("hospital_pk"))
      .join(locations, hospitals("hospital_pk") === locations("hospital_fk"))
      .groupBy("state").agg(count(lit(1)).as("n_hospitals"))
      .orderBy(col("n_hospitals").desc, col("state")).limit(20)

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
