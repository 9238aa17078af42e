package graft.cli

import graft.SparkSpec
import graft.warehouse.Schemas
import java.nio.file.{Files, Paths}

/** End-to-end proof for the third reference entry point: load fixture
  * CSVs through the CLI pipelines into a warehouse, then render the
  * dashboard page from it (Reporting.py:275-281's sequential report,
  * text tables instead of Streamlit widgets). */
class ReportSpec extends SparkSpec {

  private lazy val dir = tempDir("report")
  private lazy val warehouseDir = s"$dir/warehouse"

  /** An HHS CSV row with the eight metric cells `metrics`, in
    * `Schemas.hhsMetricColumns` order. */
  private def hhsRow(pk: String, name: String, state: String, week: String,
                     metrics: Seq[Any]): String =
    s"$pk,$name,$state,1 Main St,Pittsburgh,15213,42003,POINT (-79 40),$week," +
      metrics.mkString(",")

  /** Load the fixture HHS week file plus `moreHhs` rows, a quality
    * snapshot of (facility id, ownership, emergency services, rating) rows
    * dated 2023-01-20 and, when `later` is non-empty, a second snapshot
    * dated 2023-01-27 into warehouse `wh`. */
  private def loadFixture(wh: String, quality: Seq[(String, String, String, String)],
                          later: Seq[(String, String, String, String)] = Nil,
                          moreHhs: Seq[String] = Nil): Unit = {
    val hhsHeader = Schemas.hhsRawCsv.fieldNames.mkString(",")
    // metric i of a row is v + 1.3·i, so every page column differs
    def row(pk: String, name: String, state: String, week: String, v: Double) =
      hhsRow(pk, name, state, week, Seq.tabulate(8)(i => BigDecimal(v) + i * BigDecimal("1.3")))
    val hhsCsv = s"$wh-hhs.csv"
    Files.writeString(Paths.get(hhsCsv), (hhsHeader +: (Seq(
      row("A", "Alpha", "PA", "2022-12-16", 5.0),
      row("A", "Alpha", "PA", "2022-12-23", 6.0),
      row("A", "Alpha", "PA", "2022-12-30", 7.0),
      row("A", "Alpha", "PA", "2023-01-06", 10.0),
      row("B", "Beta", "PA", "2023-01-06", 20.0),
      row("C", "Gamma", "NY", "2023-01-13", 30.0)) ++ moreHhs)).mkString("\n"))
    Cli.runHhs(spark, hhsCsv, wh, s"$wh-rejects/hhs")

    val qHeader = Schemas.qualityRawCsv.fieldNames
      .map(f => s""""$f"""").mkString(",")
    Seq("2023-01-20" -> quality, "2023-01-27" -> later).filter(_._2.nonEmpty).foreach {
      case (date, rows) =>
        val qCsv = s"$wh-quality-$date.csv"
        Files.writeString(Paths.get(qCsv), (qHeader +: rows.map {
          case (id, own, emerg, rating) =>
            s""""$id","Acute Care","$own","$emerg","$rating""""
        }).mkString("\n"))
        Cli.runQuality(spark, date, qCsv, wh, s"$wh-rejects/quality")
    }
  }

  private lazy val loaded: Unit = loadFixture(warehouseDir, Seq(
    ("A", "Government", "Yes", "3"),
    ("B", "Proprietary", "Yes", "5"),
    ("C", "Government", "No", "1")))

  test("report page renders every dashboard section from the warehouse") {
    loaded
    val page = Report.render(spark, warehouseDir)
    // defaults resolve like the dashboard selectboxes: most recent week
    // and data date, modal ownership
    assert(page.contains("Records loaded for week 2023-01-13"))
    assert(page.contains("as of 2023-01-20"))
    assert(page.contains("ownership = Government"))
    // all 9 sections render, each with its reference citation
    Seq("29-33", "36-41", "59-67", "84-106", "109-135", "144-153",
      "180-196", "200-224", "240-263").foreach(l =>
      assert(page.contains(s"(Reporting.py:$l)"), s"missing section $l\n$page"))
    // R2: both weeks with their record counts appear as table rows
    assert(page.contains("2023-01-06") && page.contains("2023-01-13"))
    // R7: emergency hospitals by state — A and B are PA with
    // emergency_services=Yes, C is NY with No
    assert(page.split("\n").exists(l => l.contains("PA") && l.contains("2")),
      s"expected PA count 2 in:\n$page")
    assert(!page.contains("NY") || !page.split("\n")
      .exists(l => l.contains("NY") && l.contains("Emergency")),
      "NY must not appear in the emergency-services table")
  }

  test("report parameters override the data-derived defaults") {
    loaded
    val page = Report.render(spark, warehouseDir,
      week = Some("2023-01-06"), ownership = Some("Proprietary"))
    assert(page.contains("Records loaded for week 2023-01-06"))
    assert(page.contains("ownership = Proprietary"))
  }

  /** The page with the temporary warehouse path masked. */
  private def page(week: Option[String] = None): String =
    Report.render(spark, warehouseDir, week = week).replace(warehouseDir, "<warehouse>")

  private def golden(name: String): String = scala.io.Source.fromResource(
    s"graft/cli/report_$name.txt", getClass.getClassLoader)(scala.io.Codec.UTF8).mkString

  test("the full page is pinned for defaults, a stored week and an empty week") {
    loaded
    assert(page() == golden("defaults"))
    assert(page(Some("2023-01-06")) == golden("week_2023-01-06"))
    // no bed rows that week: R1 prints 0 and R3 a row of NULLs
    val empty = page(Some("2023-01-09"))
    assert(empty == golden("week_2023-01-09"))
    assert(empty.contains("|         0 |"))
    assert(empty.split("\n").exists(_.matches("""\|( +NULL \|){5}""")))
  }

  test("one render runs 4 job-launching SQL executions") {
    loaded
    // the week summary, the quality defaults, bed use (R5 and R8), and
    // the per-state aggregate (R7 and R9)
    assert(executions(Report.render(spark, warehouseDir)) == 4)
  }

  test("a render given --data-date and --ownership runs 3 executions") {
    loaded
    // no quality defaults to compute
    assert(executions(Report.render(spark, warehouseDir,
      dataDate = Some("2023-01-20"), ownership = Some("Government"))) == 3)
  }

  test("every job a render launches carries the caller's job group") {
    loaded
    val sc = spark.sparkContext
    sc.setJobGroup("report-spec", "report page")
    val jobs = try jobsDuring(Report.render(spark, warehouseDir)) finally sc.clearJobGroup()
    assert(jobs.nonEmpty)
    assert(jobs.forall(js => js.properties.getProperty("spark.jobGroup.id") == "report-spec"))
    assert(branchThreads.isEmpty, "a page thread outlived its render")
  }

  test("a failed render has joined its other chains and ended its threads") {
    loaded
    // the quality chain fails after its defaults count while the week
    // summary and bed use may still be running
    val e = intercept[IllegalArgumentException] {
      Report.render(spark, warehouseDir, dataDate = Some("1999-01-01"))
    }
    assert(e.getMessage.contains("load quality data for that date first"))
    org.apache.spark.sql.graftbridge.GraftSqlBridge.drainListenerBus(spark)
    assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty)
    assert(branchThreads.isEmpty, "a page thread outlived its render")
  }

  /** R7 and R9 as the page ran them before they shared one aggregate,
    * each its own pipeline: the reference the per-state slices must
    * equal. */
  private object Unfolded {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._

    def emergencyHospitalsByState(quality: DataFrame, hospitals: DataFrame,
                                  locations: DataFrame, dataDate: String): DataFrame =
      quality.filter(col("data_date") === lit(dataDate) && col("emergency_services"))
        .join(hospitals, quality("facility_id") === hospitals("hospital_pk"))
        .join(locations, hospitals("hospital_pk") === locations("hospital_fk"))
        .groupBy("state").agg(count(lit(1)).as("n_hospitals"))
        .orderBy(col("n_hospitals").desc, col("state")).limit(20)

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

  test("R7 and R9 sliced from the per-state aggregate equal their own pipelines") {
    import graft.warehouse.Reports
    import spark.implicits._
    // 25 states and a NULL one; state i has i % 4 + 1 facilities, so
    // counts tie, and the ratings take 3 values, so averages tie
    val facilities = for (i <- 0 until 26; j <- 0 to i % 4)
      yield (s"F$i-$j", if (i == 25) None else Some(f"S$i%02d"), i, j)
    val locations = facilities.map { case (id, st, _, _) => (id, st) }
      .toDF("hospital_fk", "state")
    // every third facility has no hospitals row: R7 skips it, R9 keeps it
    val hospitals = facilities.collect { case (id, _, i, j) if (i + j) % 3 != 0 => id }
      .toDF("hospital_pk")
    // S24's ratings are all NULL; a second snapshot of 8 states makes
    // R9's top and bottom overlap
    val quality = Seq("2023-07-01" -> 26, "2023-10-01" -> 8).flatMap { case (date, n) =>
      facilities.filter(_._3 < n).map { case (id, _, i, j) =>
        (id, if (i == 24) None else Some(((i * 7 + j) % 3 + 2).toDouble),
          if (j == 3) None else Some(j != 1), java.sql.Date.valueOf(date))
      }
    }.toDF("facility_id", "hospital_overall_rating", "emergency_services", "data_date")

    // (state, value) in row order
    def pairs(rows: Seq[org.apache.spark.sql.Row], value: String) =
      rows.map(r => (Option(r.getAs[String]("state")), r.getAs[Any](value)))
    Seq("2023-07-01", "2023-10-01").foreach { d =>
      val states = Reports.byState(quality, hospitals, locations, d).collect().toSeq
      val r7 = Unfolded.emergencyHospitalsByState(quality, hospitals, locations, d).collect().toSeq
      val r9 = Unfolded.ratingByStateTopBottom(quality, locations, d).collect().toSeq
      assert(pairs(Reports.emergencyTop(states), "n_hospitals") == pairs(r7, "n_hospitals"), d)
      assert(pairs(Reports.ratingTopBottom(states), "avg_rating") == pairs(r9, "avg_rating"), d)
      if (d == "2023-07-01") {
        // the fixture reaches every case the slices decide: the top-20
        // cut inside a tie, the NULL state in R7, no NULL state or
        // unrated state in R9, and top and bottom 10 sharing the four
        // states they both cut from the tie at 3.0
        assert(r7.size == 20 && r7.exists(_.isNullAt(0)))
        assert(r7.map(_.getLong(1)).distinct.size < r7.size)
        assert(r9.size == 16 && r9.map(_.getDouble(1)).distinct.size < r9.size)
        assert(!r9.exists(r => r.isNullAt(0) || r.getString(0) == "S24"))
      } else assert(r9.size == 8)
    }
  }

  test("two quality snapshots: R5 and R8 join every snapshot, NULL first") {
    val wh = s"$dir/warehouse-snapshots"
    loadFixture(wh,
      Seq(("A", "Government", "Yes", "3"), ("B", "Government", "Yes", "5"),
        ("C", "Government", "No", "5")),
      // A changes rating and ownership and C's rating turns empty (NULL),
      // so a bed row counts once per snapshot it matches: R5's rating 5
      // sums B twice and C once, R8's 2023-01-06 A once and B twice. D's
      // only bed rows have no available beds. E and F have no bed rows and
      // tie Proprietary with Government at 3, so the ownership default is
      // the smaller name, Government.
      later = Seq(("A", "Proprietary", "Yes", "4"), ("B", "Government", "Yes", "5"),
        ("C", "Government", "No", ""), ("D", "Government", "Yes", "2"),
        ("E", "Proprietary", "No", "3"), ("F", "Proprietary", "No", "3")),
      moreHhs = Seq(hhsRow("D", "Delta", "OH", "2022-12-09",
        Seq("0", "0", "4.5", "1.5", "2.0", "1.0", "0.5", "0.25"))))
    val page = Report.render(spark, wh).replace(wh, "<warehouse>")
    assert(page == golden("snapshots"))
    assert(page.contains("ownership = Government"))
    // R5: the NULL rating group prints first
    assert(page.contains(
      "| ----------------------- | ----------------------- |\n|                    NULL |"), page)
  }

  test("the ownership default skips a NULL ownership") {
    val wh = s"$dir/warehouse-null-ownership"
    loadFixture(wh, Seq(("A", "", "Yes", "3"), ("B", "Government", "Yes", "5")))
    val page = Report.render(spark, wh)
    assert(page.contains("ownership = Government"), page)
    // R8: facility B's one week
    assert(page.split("\n").count(_.startsWith("| Government ")) == 1, page)
  }

  test("formatRows aligns, formats NULL, and truncates at maxRows") {
    import spark.implicits._
    val df = Seq((1L, Option(2.5), "x"), (2L, None, "longer"))
      .toDF("id", "v", "s")
    val t = Report.formatRows(df.schema, df.collect().toSeq, maxRows = 100)
    assert(t.contains("NULL"))
    assert(t.contains("2.5"))
    val ids = spark.range(10).toDF("id")
    val truncated = Report.formatRows(ids.schema, ids.collect().toSeq, maxRows = 3)
    assert(truncated.contains("truncated at 3 rows"))
    assert(truncated.split("\n").count(_.startsWith("|")) == 5) // header+sep+3
  }

  test("empty warehouse fails fast with a load hint, not a null default") {
    val e = intercept[IllegalArgumentException] {
      Report.render(spark, s"$dir/nowhere")
    }
    assert(e.getMessage.contains("load HHS data first"))
    // a data date with no quality rows leaves the ownership default empty
    loaded
    val e2 = intercept[IllegalArgumentException] {
      Report.render(spark, warehouseDir, dataDate = Some("1999-01-01"))
    }
    assert(e2.getMessage.contains("load quality data for that date first"))
    // a --week that is no date fails before any section renders
    val e3 = intercept[IllegalArgumentException] {
      Report.render(spark, warehouseDir, week = Some("2023-13-45"))
    }
    assert(e3.getMessage.contains("--week must be a yyyy-MM-dd date"))
    // so does a --data-date that is no date
    val e4 = intercept[IllegalArgumentException] {
      Report.render(spark, warehouseDir, dataDate = Some("2023-13-45"))
    }
    assert(e4.getMessage == "--data-date must be a yyyy-MM-dd date, got '2023-13-45'")
  }
}
