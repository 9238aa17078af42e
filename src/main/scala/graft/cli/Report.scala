package graft.cli

import graft.warehouse.{Reports, Warehouse}
import java.time.LocalDate
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{NumericType, StructType}
import scala.util.Try

/** The reference dashboard's report page as a CLI (Reporting.py:275-281
  * renders the same query sequence through Streamlit selectboxes +
  * matplotlib; the queries are the content, the widget layer is not) —
  * this main makes the reference's third entry point (`streamlit run
  * Reporting.py`) demonstrable end-to-end beside LoadHhs/LoadQuality:
  * load CSVs into the warehouse, then render every dashboard table from
  * it as formatted text.
  *
  * One page reads the bed history for its per-week sections once: it
  * collects [[graft.warehouse.Reports.weekSummary]] (one row per week)
  * and derives R1-R4, R6 and the default week from those rows on the
  * driver, with no further Spark job. R5, R7, R8, R9 and the data-date
  * and ownership defaults are one [[graft.warehouse.Reports]] pipeline or
  * scalar aggregate each. The driver collects only display-sized results
  * (weeks, states, ratings — the reports aggregate before they return),
  * so rendering cost is independent of warehouse size.
  */
object Report {

  /** Render one result frame as an aligned text table. `take(max+1)` so
    * truncation is detected without a count() over the full result;
    * numeric columns right-align. Display-sized collects only — every
    * report aggregates to a bounded frame before this runs. */
  def formatTable(df: DataFrame, maxRows: Int = 100): String =
    formatRows(df.schema, df.take(maxRows + 1).toSeq, maxRows)

  /** [[formatTable]] over rows already on the driver: the first `maxRows`
    * of `rows` print, and a longer `rows` notes the truncation. */
  private def formatRows(schema: StructType, rows: Seq[Row], maxRows: Int): String = {
    val numeric = schema.fields.map(_.dataType.isInstanceOf[NumericType])
    def cell(v: Any): String = v match {
      case null => "NULL"
      case d: Double =>
        if (d.isNaN || d.isInfinite) d.toString
        else BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP)
          .underlying.stripTrailingZeros.toPlainString
      case other => String.valueOf(other)
    }
    val header = schema.fieldNames.toSeq
    val shown = rows.take(maxRows).map(_.toSeq.map(cell))
    val widths = header.indices.map(i =>
      (header(i).length +: shown.map(_(i).length)).max)
    def line(cells: Seq[String], pad: Char = ' '): String =
      cells.zipWithIndex.map { case (c, i) =>
        val fill = pad.toString * (widths(i) - c.length)
        if (numeric(i) && pad == ' ') fill + c else c + fill
      }.mkString("| ", " | ", " |")
    val sep = line(header.map(_ => ""), '-')
    val body =
      if (shown.isEmpty) Seq("(no rows)")
      else shown.map(line(_)) ++
        (if (rows.length > maxRows) Seq(s"... (truncated at $maxRows rows)")
         else Nil)
    (Seq(line(header), sep) ++ body).mkString("\n")
  }

  /** The full report page over a parquet warehouse. Parameters default
    * from the data like the dashboard's selectboxes: `week` = most
    * recent collection_week, `dataDate` = most recent quality load,
    * `ownership` = the modal non-NULL ownership at that date. */
  def render(spark: SparkSession, warehouseDir: String,
             week: Option[String] = None, dataDate: Option[String] = None,
             ownership: Option[String] = None, maxRows: Int = 100): String = {
    val hospitals = Warehouse.read(spark, warehouseDir, Warehouse.Hospitals)
    val locations = Warehouse.read(spark, warehouseDir, Warehouse.Locations)
    val bedInfo = Warehouse.read(spark, warehouseDir, Warehouse.BedInformation)
    val quality = Warehouse.read(spark, warehouseDir, Warehouse.QualityInformation)

    // selectbox defaults: single-row scalar aggregates, not data pulls;
    // nothing to default from fails fast with a load hint
    def orHint(v: Option[String], missing: String, load: String, flag: String): String = {
      require(v.isDefined, s"$warehouseDir has no $missing: " +
        s"load $load first or pass $flag explicitly")
      v.get
    }
    // the per-week sections' one bed-history scan, in week order (a NULL
    // week first, as SQL's ascending order puts it)
    val summary = Reports.weekSummary(bedInfo)
    def day(r: Row): Option[LocalDate] = Option(r.getDate(0)).map(_.toLocalDate)
    val weeks = summary.collect().toSeq.sortBy(day(_).map(_.toEpochDay))
    val wk = week.getOrElse(orHint(weeks.lastOption.flatMap(day).map(_.toString),
      "bed information", "HHS data", "--week"))
    val at = Try(LocalDate.parse(wk)).getOrElse(throw new IllegalArgumentException(
      s"--week must be a yyyy-MM-dd date, got '$wk'"))
    // a week with no rows reads like a global aggregate over none:
    // count 0, every sum NULL
    val ofWeek = weeks.find(day(_).contains(at)).getOrElse(Row.fromSeq(
      summary.columns.toSeq.map(c => if (c == "n_records") 0L else null)))
    val through = weeks.filter(day(_).exists(!_.isAfter(at)))
    def slice(rows: Seq[Row], cols: Seq[String]): String = {
      val idx = cols.map(summary.schema.fieldIndex)
      formatRows(StructType(idx.map(summary.schema(_))),
        rows.map(r => Row.fromSeq(idx.map(r.get))), maxRows)
    }
    val sums = summary.columns.toSeq.filter(_.startsWith("sum_"))

    val dd = dataDate.getOrElse(orHint(
      Option(quality.agg(max("data_date")).head().get(0)).map(_.toString),
      "quality information", "quality data", "--data-date"))
    val own = ownership.getOrElse(orHint(
      quality.filter(col("data_date") === lit(dd) && col("hospital_ownership").isNotNull)
        .groupBy("hospital_ownership").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("hospital_ownership")).limit(1)
        .head(1).headOption.map(_.getString(0)),
      s"quality information for $dd", "quality data for that date", "--ownership"))

    val sections = Seq(
      s"Records loaded for week $wk (Reporting.py:29-33)" ->
        slice(Seq(ofWeek), Seq("n_records")),
      "Records loaded by week (Reporting.py:36-41)" ->
        slice(weeks, Seq("collection_week", "n_records")),
      s"Bed availability and use, week $wk (Reporting.py:59-67)" ->
        slice(Seq(ofWeek), sums),
      s"Bed availability and use, 4 most recent weeks <= $wk (Reporting.py:84-106)" ->
        slice(through.takeRight(4), "collection_week" +: sums),
      "Fraction of beds in use by hospital quality rating (Reporting.py:109-135)" ->
        formatTable(Reports.bedUseByRating(quality, bedInfo), maxRows),
      s"All cases vs covid cases by week through $wk (Reporting.py:144-153)" ->
        slice(through, Seq("collection_week", "all_cases", "covid_cases")),
      s"Emergency-service hospitals by state, top 20, as of $dd (Reporting.py:180-196)" ->
        formatTable(Reports.emergencyHospitalsByState(quality, hospitals, locations, dd), maxRows),
      s"Fraction of beds in use by week, ownership = $own (Reporting.py:200-224)" ->
        formatTable(Reports.bedUseByOwnership(quality, bedInfo, own), maxRows),
      s"Mean overall rating by state, top and bottom 10, as of $dd (Reporting.py:240-263)" ->
        formatTable(Reports.ratingByStateTopBottom(quality, locations, dd), maxRows))

    sections.map { case (title, table) => s"== $title ==\n$table" }
      .mkString(s"graft report — warehouse: $warehouseDir\n\n", "\n\n", "\n")
  }

  private[cli] val flagNames = Seq("--warehouse", "--week", "--data-date", "--ownership")

  /** `runMain graft.cli.Report [--warehouse dir] [--week yyyy-MM-dd]
    * [--data-date yyyy-MM-dd] [--ownership name]` */
  def main(args: Array[String]): Unit = {
    val m = Cli.flags(args.toIndexedSeq, flagNames)
    val spark = Cli.session("graft-report")
    try println(render(spark, m.getOrElse("--warehouse", "warehouse"),
      m.get("--week"), m.get("--data-date"), m.get("--ownership")))
    finally spark.stop()
  }
}
