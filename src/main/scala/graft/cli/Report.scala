package graft.cli

import graft.warehouse.{Reports, Warehouse}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference dashboard's report page as a CLI (Reporting.py:275-281
  * renders the same query sequence through Streamlit selectboxes +
  * matplotlib; the queries are the content, the widget layer is not) —
  * this main makes the reference's third entry point (`streamlit run
  * Reporting.py`) demonstrable end-to-end beside LoadHhs/LoadQuality:
  * load CSVs into the warehouse, then render every dashboard table from
  * it as formatted text.
  *
  * Each section is one [[graft.warehouse.Reports]] DataFrame pipeline;
  * the driver collects only display-sized results (weeks, states,
  * ratings — the reports aggregate before they return), so rendering
  * cost is independent of warehouse size.
  */
object Report {

  /** Render one result frame as an aligned text table. `take(max+1)` so
    * truncation is detected without a count() over the full result;
    * numeric columns right-align. Display-sized collects only — every
    * report aggregates to a bounded frame before this runs. */
  def formatTable(df: DataFrame, maxRows: Int = 100): String = {
    val numeric = df.schema.fields.map(_.dataType match {
      case _: org.apache.spark.sql.types.NumericType => true
      case _ => false
    })
    def cell(v: Any): String = v match {
      case null => "NULL"
      case d: Double =>
        if (d.isNaN || d.isInfinite) d.toString
        else BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP)
          .underlying.stripTrailingZeros.toPlainString
      case other => String.valueOf(other)
    }
    val header = df.columns.toSeq
    val taken = df.take(maxRows + 1)
    val rows = taken.take(maxRows).map(_.toSeq.map(cell)).toSeq
    val widths = header.indices.map(i =>
      (header(i).length +: rows.map(_(i).length)).max)
    def line(cells: Seq[String], pad: Char = ' '): String =
      cells.zipWithIndex.map { case (c, i) =>
        val fill = pad.toString * (widths(i) - c.length)
        if (numeric(i) && pad == ' ') fill + c else c + fill
      }.mkString("| ", " | ", " |")
    val sep = line(header.map(_ => ""), '-')
    val body =
      if (rows.isEmpty) Seq("(no rows)")
      else rows.map(line(_)) ++
        (if (taken.length > maxRows) Seq(s"... (truncated at $maxRows rows)")
         else Nil)
    (Seq(line(header), sep) ++ body).mkString("\n")
  }

  /** The full report page over a parquet warehouse. Parameters default
    * from the data like the dashboard's selectboxes: `week` = most
    * recent collection_week, `dataDate` = most recent quality load,
    * `ownership` = the modal ownership at that date. */
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
    def latest(df: DataFrame, c: String) = Option(df.agg(max(c)).head().get(0)).map(_.toString)
    val wk = week.getOrElse(orHint(latest(bedInfo, "collection_week"),
      "bed information", "HHS data", "--week"))
    val dd = dataDate.getOrElse(orHint(latest(quality, "data_date"),
      "quality information", "quality data", "--data-date"))
    val own = ownership.getOrElse(orHint(
      quality.filter(col("data_date") === lit(dd))
        .groupBy("hospital_ownership").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("hospital_ownership")).limit(1)
        .head(1).headOption.map(_.getString(0)),
      s"quality information for $dd", "quality data for that date", "--ownership"))

    val sections = Seq(
      s"Records loaded for week $wk (Reporting.py:29-33)" ->
        Reports.recordsForWeek(bedInfo, wk),
      "Records loaded by week (Reporting.py:36-41)" ->
        Reports.recordsByWeek(bedInfo),
      s"Bed availability and use, week $wk (Reporting.py:59-67)" ->
        Reports.bedSumsForWeek(bedInfo, wk),
      s"Bed availability and use, 4 most recent weeks <= $wk (Reporting.py:84-106)" ->
        Reports.bedSumsRecentWeeks(bedInfo, wk),
      "Fraction of beds in use by hospital quality rating (Reporting.py:109-135)" ->
        Reports.bedUseByRating(quality, bedInfo),
      s"All cases vs covid cases by week through $wk (Reporting.py:144-153)" ->
        Reports.casesByWeek(bedInfo, wk),
      s"Emergency-service hospitals by state, top 20, as of $dd (Reporting.py:180-196)" ->
        Reports.emergencyHospitalsByState(quality, hospitals, locations, dd),
      s"Fraction of beds in use by week, ownership = $own (Reporting.py:200-224)" ->
        Reports.bedUseByOwnership(quality, bedInfo, own),
      s"Mean overall rating by state, top and bottom 10, as of $dd (Reporting.py:240-263)" ->
        Reports.ratingByStateTopBottom(quality, locations, dd))

    sections.map { case (title, df) =>
      s"== $title ==\n${formatTable(df, maxRows)}"
    }.mkString(s"graft report — warehouse: $warehouseDir\n\n", "\n\n", "\n")
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
