package graft.cli

import graft.util.Branches
import graft.warehouse.{Reports, Warehouse}
import java.time.LocalDate
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.{NumericType, StructType}

/** The reference dashboard's report page as a CLI (Reporting.py:275-281
  * renders the same query sequence through Streamlit selectboxes +
  * matplotlib; the queries are the content, the widget layer is not) —
  * this main makes the reference's third entry point (`streamlit run
  * Reporting.py`) demonstrable end-to-end beside LoadHhs/LoadQuality:
  * load CSVs into the warehouse, then render every dashboard table from
  * it as formatted text.
  *
  * One summary per table read, sliced on the driver: a page collects
  * [[graft.warehouse.Reports.weekSummary]] (one row per week) for R1-R4,
  * R6 and the default week; [[graft.warehouse.Reports.bedUse]] (one row
  * per rating and per ownership and week) for R5 and R8;
  * [[graft.warehouse.Reports.byState]] (one row per state) for R7 and
  * R9; and, only when `dataDate` or `ownership` is not given, one
  * (data_date, ownership) count for both defaults. A default page is 4
  * SQL executions, 2 of them over the bed history; given both a data
  * date and an ownership, 3.
  *
  * The page is three independent chains, and they run concurrently
  * (through [[graft.util.Branches]]): the week summary; bed use; and
  * the quality chain, the defaults count and then the per-state
  * aggregate at the resolved date. The driver joins all three before
  * it slices any rows, so a page's time is its longest chain, not the
  * sum of its executions; each is a few small jobs, and run one after
  * another they left most task slots idle. The driver collects only
  * display-sized results (weeks, states, ratings — the reports
  * aggregate before they return), so rendering cost is independent of
  * warehouse size.
  */
object Report {

  /** `rows` under `schema` as an aligned text table: numeric columns
    * right-align, NULL prints as `NULL`, the first `maxRows` of `rows`
    * print, and a longer `rows` notes the truncation. The rows are
    * already on the driver: every report aggregates to a display-sized
    * result before it is collected. */
  private[cli] def formatRows(schema: StructType, rows: Seq[Row], maxRows: Int): String = {
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
    * `ownership` = the modal non-NULL ownership at that date (ties go to
    * the smaller name). */
  def render(spark: SparkSession, warehouseDir: String,
             week: Option[String] = None, dataDate: Option[String] = None,
             ownership: Option[String] = None, maxRows: Int = 100): String = {
    // a given date that is no date fails before any Spark job
    val givenWeek = week.map(Cli.date("--week", _))
    val givenDate = dataDate.map(Cli.date("--data-date", _))
    val hospitals = Warehouse.read(spark, warehouseDir, Warehouse.Hospitals)
    val locations = Warehouse.read(spark, warehouseDir, Warehouse.Locations)
    val bedInfo = Warehouse.read(spark, warehouseDir, Warehouse.BedInformation)
    val quality = Warehouse.read(spark, warehouseDir, Warehouse.QualityInformation)

    // nothing to default from fails fast with a load hint
    def orHint[T](v: Option[T], missing: String, load: String, flag: String): T = {
      require(v.isDefined, s"$warehouseDir has no $missing: " +
        s"load $load first or pass $flag explicitly")
      v.get
    }
    def day(r: Row): Option[LocalDate] = Option(r.getDate(0)).map(_.toLocalDate)
    // `rows` in SQL's ascending order of column `i`: NULL first
    def ascending(rows: Seq[Row], i: Int): Seq[Row] =
      rows.sortBy(r => Option(r.getAs[Comparable[Any]](i)))(Ordering.Option(_ compareTo _))
    // the named columns of `rows`, under `schema`'s names
    def slice(schema: StructType, rows: Seq[Row], cols: Seq[String]): String = {
      val idx = cols.map(schema.fieldIndex)
      formatRows(StructType(idx.map(schema(_))), rows.map(r => Row.fromSeq(idx.map(r.get))), maxRows)
    }

    // three independent chains, run at once: the week summary (R1-R4,
    // R6 and the week default), bed use (R5 and R8), and the quality
    // chain, the selectbox defaults and then the per-state aggregate at
    // the resolved date (R7 and R9)
    val summary = Reports.weekSummary(bedInfo)
    val bedUse = Reports.bedUse(quality, bedInfo)
    val ((weeks, at), (dd, own, byState, states), bedUseRows) =
      Branches.run(spark, threads = 3) { b =>
        val weekChain = b.fork {
          val weeks = ascending(summary.collect().toSeq, 0)
          (weeks, givenWeek.getOrElse(orHint(weeks.lastOption.flatMap(day),
            "bed information", "HHS data", "--week")))
        }
        val qualityChain = b.fork {
          // the selectbox defaults: one (data_date, ownership) count, read
          // only when a default is needed
          lazy val owners =
            quality.groupBy("data_date", "hospital_ownership").count().collect().toSeq
          val dd = givenDate.getOrElse(orHint(owners.flatMap(day).maxByOption(_.toEpochDay),
            "quality information", "quality data", "--data-date"))
          val own = ownership.getOrElse(orHint(
            owners.filter(r => day(r).contains(dd) && !r.isNullAt(1))
              .sortBy(r => (-r.getLong(2), r.getString(1))).headOption.map(_.getString(1)),
            s"quality information for $dd", "quality data for that date", "--ownership"))
          val byState = Reports.byState(quality, hospitals, locations, dd.toString)
          (dd, own, byState, byState.collect().toSeq)
        }
        val bedUseChain = b.fork(bedUse.collect().toSeq)
        // joined in the order the chains began when they ran one after
        // another: a failed chain throws what it threw then, unless bed
        // use and the per-state aggregate both fail
        (weekChain.join(), qualityChain.join(), bedUseChain.join())
      }

    // a week with no rows reads like a global aggregate over none:
    // count 0, every sum NULL
    val ofWeek = weeks.find(day(_).contains(at)).getOrElse(Row.fromSeq(
      summary.columns.toSeq.map(c => if (c == "n_records") 0L else null)))
    val through = weeks.filter(day(_).exists(!_.isAfter(at)))
    val sums = summary.columns.toSeq.filter(_.startsWith("sum_"))

    // R5 and R8 from one bed-use aggregate: each section's grouping set
    val sets = bedUseRows.groupBy(_.getAs[Long]("grouping_id")).withDefaultValue(Nil)
    val byRating = ascending(sets(Reports.ByRating), 0)
    val byWeek = ascending(sets(Reports.ByOwnershipWeek).filter(_.getString(1) == own), 2)

    val sections = Seq(
      s"Records loaded for week $at (Reporting.py:29-33)" ->
        slice(summary.schema, Seq(ofWeek), Seq("n_records")),
      "Records loaded by week (Reporting.py:36-41)" ->
        slice(summary.schema, weeks, Seq("collection_week", "n_records")),
      s"Bed availability and use, week $at (Reporting.py:59-67)" ->
        slice(summary.schema, Seq(ofWeek), sums),
      s"Bed availability and use, 4 most recent weeks <= $at (Reporting.py:84-106)" ->
        slice(summary.schema, through.takeRight(4), "collection_week" +: sums),
      "Fraction of beds in use by hospital quality rating (Reporting.py:109-135)" ->
        slice(bedUse.withColumnRenamed("fraction_in_use", "fraction_of_beds_in_use").schema,
          byRating, Seq("hospital_overall_rating", "fraction_of_beds_in_use")),
      s"All cases vs covid cases by week through $at (Reporting.py:144-153)" ->
        slice(summary.schema, through, Seq("collection_week", "all_cases", "covid_cases")),
      s"Emergency-service hospitals by state, top 20, as of $dd (Reporting.py:180-196)" ->
        slice(byState.schema, Reports.emergencyTop(states), Seq("state", "n_hospitals")),
      s"Fraction of beds in use by week, ownership = $own (Reporting.py:200-224)" ->
        slice(bedUse.schema, byWeek, Seq("hospital_ownership", "collection_week", "fraction_in_use")),
      s"Mean overall rating by state, top and bottom 10, as of $dd (Reporting.py:240-263)" ->
        slice(byState.schema, Reports.ratingTopBottom(states), Seq("state", "avg_rating")))

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
