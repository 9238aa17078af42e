package graft.cli

import graft.SparkSpec
import graft.warehouse.Schemas
import java.nio.file.{Files, Paths}

/** End-to-end proof for the third reference entry point: load fixture
  * CSVs through the CLI pipelines into a warehouse, then render the
  * dashboard page from it (Reporting.py:275-281's sequential report,
  * text tables instead of Streamlit widgets). */
class ReportSpec extends SparkSpec {

  private lazy val dir = Files.createTempDirectory(
    Paths.get("/root/repo/target"), "report").toString
  private lazy val warehouseDir = s"$dir/warehouse"

  private lazy val loaded: Unit = {
    val hhsHeader = Schemas.hhsRawCsv.fieldNames.mkString(",")
    def hhsRow(pk: String, name: String, state: String, week: String, v: Double) =
      s"$pk,$name,$state,1 Main St,Pittsburgh,15213,42003,POINT (-79 40),$week," +
        Seq.fill(8)(v.toString).mkString(",")
    val hhsCsv = s"$dir/hhs.csv"
    Files.writeString(Paths.get(hhsCsv), (hhsHeader +: Seq(
      hhsRow("A", "Alpha", "PA", "2023-01-06", 10.0),
      hhsRow("B", "Beta", "PA", "2023-01-06", 20.0),
      hhsRow("C", "Gamma", "NY", "2023-01-13", 30.0))).mkString("\n"))

    val qHeader = Schemas.qualityRawCsv.fieldNames
      .map(f => s""""$f"""").mkString(",")
    def qRow(id: String, own: String, emerg: String, rating: String) =
      s""""$id","Acute Care","$own","$emerg","$rating""""
    val qCsv = s"$dir/quality.csv"
    Files.writeString(Paths.get(qCsv), (qHeader +: Seq(
      qRow("A", "Government", "Yes", "3"),
      qRow("B", "Proprietary", "Yes", "5"),
      qRow("C", "Government", "No", "1"))).mkString("\n"))

    Cli.runHhs(spark, hhsCsv, warehouseDir, s"$dir/rejects/hhs")
    Cli.runQuality(spark, "2023-01-20", qCsv, warehouseDir, s"$dir/rejects/quality")
  }

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

  test("formatTable aligns, formats NULL, and truncates at maxRows") {
    import spark.implicits._
    val df = Seq((1L, Option(2.5), "x"), (2L, None, "longer"))
      .toDF("id", "v", "s")
    val t = Report.formatTable(df)
    assert(t.contains("NULL"))
    assert(t.contains("2.5"))
    val truncated = Report.formatTable(
      spark.range(10).toDF("id"), maxRows = 3)
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
  }
}
