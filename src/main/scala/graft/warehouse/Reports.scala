package graft.warehouse

import org.apache.spark.sql.{Column, DataFrame, Row}
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
  * the quality ⨝ bed join, [[bedUse]]; R7 and R9 are one per-state
  * aggregate over the quality ⨝ locations join at the page's data date,
  * [[byState]].
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

  /** R7 and R9 — J2/A7/T3 and A9/T4/V6: one row per state for the
    * quality snapshot at `dataDate`, joined to locations (Reporting.py:
    * 180-196, 240-263). `n_hospitals` counts the emergency-service
    * facilities that have a hospitals row (R7's inner joins; hospital_pk
    * is that table's key, so the outer join keeps rows one for one).
    * `avg_rating` averages the non-NULL ratings of a non-NULL state (R9's
    * `na.drop`); it is NULL for the NULL state and for a state with no
    * rating. Unordered and display-sized; [[emergencyTop]] and
    * [[ratingTopBottom]] slice the collected rows. */
  def byState(quality: DataFrame, hospitals: DataFrame, locations: DataFrame,
              dataDate: String): DataFrame =
    quality.filter(col("data_date") === lit(dataDate))
      .join(locations, col("facility_id") === col("hospital_fk"))
      .join(hospitals.select("hospital_pk"), col("facility_id") === col("hospital_pk"), "left")
      .groupBy("state").agg(
        count(when(col("emergency_services") && col("hospital_pk").isNotNull, 1))
          .as("n_hospitals"),
        avg(when(col("state").isNotNull, col("hospital_overall_rating"))).as("avg_rating"))

  private def state(r: Row): String = r.getAs[String]("state")

  /** R7 from [[byState]]'s rows: states with an emergency hospital, the
    * `n` largest counts first, ties by state (SQL's ascending order: the
    * NULL state first). */
  def emergencyTop(rows: Seq[Row], n: Int = 20): Seq[Row] =
    rows.filter(_.getAs[Long]("n_hospitals") > 0)
      .sortBy(r => (r.getAs[Long]("n_hospitals"), Option(state(r))))(
        Ordering.Tuple2(Ordering.Long.reverse, Ordering.Option(Ordering.String)))
      .take(n)

  /** R9 from [[byState]]'s rows: the `k` best and `k` worst mean ratings
    * (ties by state), each state once, best first. */
  def ratingTopBottom(rows: Seq[Row], k: Int = 10): Seq[Row] = {
    val rated = rows.filterNot(r => r.isNullAt(r.fieldIndex("avg_rating")))
    def key(r: Row) = (r.getAs[Double]("avg_rating"), state(r))
    val worst = Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.String)
    val best = Ordering.Tuple2(Ordering.Double.TotalOrdering.reverse, Ordering.String)
    (rated.sortBy(key)(best).take(k) ++ rated.sortBy(key)(worst).take(k))
      .distinct.sortBy(key)(best)
  }
}
