package graft.warehouse

import graft.SparkSpec
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.graftbridge.GraftSqlBridge
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel
import scala.jdk.CollectionConverters._

/** End-to-end ingest fixtures (FIXTURES.md §A): reference-shaped CSVs
  * through the HHS and Quality pipelines, exercising every fidelity trap
  * from SURVEY §7.4 (sentinel, (−1,0) truncation pass, within-file
  * first-wins, cross-load dedup, Not Available recode, Yes/No booleans). */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private val dir = tempDir("fixtures")

  private def writeCsv(name: String, content: String): String = {
    val p = s"$dir/$name"
    Files.writeString(Paths.get(p), content)
    p
  }

  private val hhsHeader = (Schemas.hhsRawCsv.fieldNames).mkString(",")
  private def hhsRow(pk: String, name: String, week: String, beds: String) =
    s"$pk,$name,PA,1 Main St,Pittsburgh,15213,42003,POINT (-79 40),$week," +
      (Seq.fill(8)(beds).mkString(","))

  private def table(wh: String, t: Warehouse.Table) = Warehouse.read(spark, wh, t)

  /** The reject CSV a load of `source` ("hhs" or "quality") left under `rej`. */
  private def rejects(rej: String, source: String) =
    spark.read.option("header", "true").csv(Warehouse.rejectPath(rej, source))

  /** The rows `body` appends to each of `tables` of warehouse `wh`. */
  private def appended(wh: String, tables: Warehouse.Table*)(body: => Unit): Seq[Long] = {
    def counts = tables.map(table(wh, _).count())
    val before = counts
    body
    counts.zip(before).map { case (after, b) => after - b }
  }

  test("HHS load: clean, validate (truncation quirk), dedup, project 3 tables") {
    val csv = writeCsv("hhs.csv", Seq(
      hhsHeader,
      hhsRow("A", "Alpha", "2023-01-06", "10.5"),
      hhsRow("A", "Alpha Dup", "2023-01-06", "11.0"),   // within-file dup (first wins)
      hhsRow("B", "Beta", "2023-01-06", "-0.5"),        // (-1,0) → VALID (int() quirk)
      hhsRow("C", "Gamma", "2023-01-06", "-2.0"),       // negative → reject
      hhsRow("D", "", "2023-01-06", "5.0"),             // empty name → null → reject
      hhsRow("E", "Eps", "2023-01-06", "-999999")       // sentinel → null → valid
    ).mkString("\n"))
    val (wh, rej) = (s"$dir/hhs_warehouse", s"$dir/hhs_rejects")
    HhsPipeline.load(spark, csv, wh, rej)
    val hospitals = table(wh, Warehouse.Hospitals)
    assert(hospitals.select("hospital_pk").as[String].collect().sorted.toSeq ==
      Seq("A", "B", "E"))
    assert(hospitals.filter($"hospital_pk" === "A")
      .select("hospital_name").as[String].head() == "Alpha") // first occurrence won
    assert(table(wh, Warehouse.BedInformation).filter($"hospital_fk" === "E")
      .select("total_icu_beds_7_day_avg").as[Option[Double]].head().isEmpty) // sentinel→null
    val reasons = rejects(rej, "hhs").select("hospital_pk", "reject_reason")
      .as[(String, String)].collect().toMap
    assert(reasons("C").startsWith("negative_"))
    assert(reasons("D") == "hospital_name_null")
    // cross-load dedup: re-loading the same file adds nothing
    assert(appended(wh, Warehouse.Hospitals, Warehouse.BedInformation)(
      HhsPipeline.load(spark, csv, wh, rej)) == Seq(0L, 0L))
  }

  test("Quality load: recode, booleans, literal date, same-date dedup") {
    val csv = writeCsv("quality.csv", Seq(
      """Facility ID,Hospital Type,Hospital Ownership,Emergency Services,Hospital overall rating""",
      """F1,Acute Care,Proprietary,Yes,4""",
      """F2,Acute Care,Government - Federal,No,Not Available""",
      """F3,Critical Access,Voluntary,Yes,2"""
    ).mkString("\n"))
    val (wh, rej) = (s"$dir/quality_warehouse", s"$dir/quality_rejects")
    val quality = Warehouse.QualityInformation
    assert(appended(wh, quality)(
      QualityPipeline.load(spark, csv, "2023-07-01", wh, rej)) == Seq(3L))
    val byId = table(wh, quality).collect().map(x => x.getString(0) -> x).toMap
    assert(byId("F2").getDouble(1) == 0.0)          // 'Not Available' → 0
    assert(byId("F1").getBoolean(2))                 // Yes → true
    assert(!byId("F2").getBoolean(2))                // No → false
    assert(byId("F3").getDate(5).toString == "2023-07-01")
    // same-date re-load: all duplicates
    assert(appended(wh, quality)(
      QualityPipeline.load(spark, csv, "2023-07-01", wh, rej)) == Seq(0L))
    assert(rejects(rej, "quality").filter($"reject_reason" === "duplicate").count() == 3)
    // different date: fresh snapshot accepted
    assert(appended(wh, quality)(
      QualityPipeline.load(spark, csv, "2023-10-01", wh, rej)) == Seq(3L))
  }

  test("HHS rows with a NULL key are rejected, so a replay appends nothing") {
    import graft.cli.Cli
    val csv = writeCsv("null_keys.csv", Seq(
      hhsHeader,
      hhsRow("A", "Alpha", "2023-01-06", "10.0"),
      hhsRow("", "No Key", "2023-01-06", "5.0"),
      hhsRow("C", "No Week", "", "5.0")
    ).mkString("\n"))
    val wh = s"$dir/null_key_warehouse"
    val rej = s"$dir/null_key_rejects"
    def counts = Seq("hospitals", "hospital_locations", "hospital_bed_information")
      .map(t => spark.read.parquet(s"$wh/$t").count())
    Cli.runHhs(spark, csv, wh, rej)
    val first = counts
    Cli.runHhs(spark, csv, wh, rej)
    assert(counts == first)
    assert(first == Seq(1L, 1L, 1L))
    val reasons = spark.read.option("header", "true").csv(s"$rej/hhs")
      .select("hospital_name", "reject_reason").as[(String, String)].collect().toMap
    assert(reasons == Map("No Key" -> "hospital_pk_null", "No Week" -> "collection_week_null"))
  }

  test("a malformed cell becomes NULL instead of aborting the load") {
    val csv = writeCsv("malformed.csv", Seq(
      hhsHeader,
      hhsRow("A", "Alpha", "2023-01-06", "10.0"),
      hhsRow("B", "Bad Week", "2023-13-45", "10.0"),
      hhsRow("C", "Bad Metric", "2023-01-06", "N/A"),
      hhsRow("D", "Huge", "2023-01-06", "1e20"),        // past the long range: loads
      hhsRow("E", "Tiny", "2023-01-06", "-0.5"),        // (-1,0) truncation quirk: loads
      hhsRow("F", "No Number", "2023-01-06", "NaN"),    // NaN → NULL, as pandas reads it
      hhsRow("G", "Minus One", "2023-01-06", "-1")      // truncates below zero: rejects
    ).mkString("\n"))
    val (wh, rej) = (s"$dir/malformed_warehouse", s"$dir/malformed_rejects")
    HhsPipeline.load(spark, csv, wh, rej)
    val bedInfo = table(wh, Warehouse.BedInformation)
    val hhsRejects = rejects(rej, "hhs")
    assert(bedInfo.count() + hhsRejects.count() == 7)
    assert(hhsRejects.select("hospital_pk", "reject_reason").as[(String, String)]
      .collect().sorted.toSeq == Seq("B" -> "collection_week_null",
        "G" -> "negative_all_adult_hospital_beds_7_day_avg"))
    assert(bedInfo.filter($"hospital_fk" === "C")
      .select("total_icu_beds_7_day_avg").as[Option[Double]].head().isEmpty)
    val icu = bedInfo.select("hospital_fk", "total_icu_beds_7_day_avg")
      .as[(String, Option[Double])].collect().toMap
    assert(icu("D") == Some(1e20) && icu("E") == Some(-0.5) && icu("F").isEmpty)

    val qcsv = writeCsv("malformed_quality.csv", Seq(
      """Facility ID,Hospital Type,Hospital Ownership,Emergency Services,Hospital overall rating""",
      """F1,Acute Care,Proprietary,Yes,Not Applicable""",
      """F2,Acute Care,Proprietary,Yes,4""",
      """F3,Acute Care,Proprietary,Yes,NaN"""
    ).mkString("\n"))
    QualityPipeline.load(spark, qcsv, "2023-07-01", wh, rej)
    val quality = table(wh, Warehouse.QualityInformation)
    assert(quality.count() + rejects(rej, "quality").count() == 3)
    assert(quality.filter($"facility_id" === "F1")
      .select("hospital_overall_rating").as[Option[Double]].head().isEmpty)
    assert(quality.filter($"facility_id" === "F3")
      .select("hospital_overall_rating").as[Option[Double]].head().isEmpty)
  }

  test("Reports run end-to-end over loaded warehouse tables") {
    val csv = writeCsv("hhs2.csv", Seq(
      hhsHeader,
      hhsRow("A", "Alpha", "2023-01-06", "10.0"),
      hhsRow("B", "Beta", "2023-01-06", "20.0"),
      hhsRow("A", "Alpha", "2023-01-13", "12.0")
    ).mkString("\n"))
    val qcsv = writeCsv("quality2.csv", Seq(
      """Facility ID,Hospital Type,Hospital Ownership,Emergency Services,Hospital overall rating""",
      """A,Acute Care,Proprietary,Yes,4""",
      """B,Acute Care,Proprietary,Yes,2"""
    ).mkString("\n"))
    val (wh, rej) = (s"$dir/reports_warehouse", s"$dir/reports_rejects")
    HhsPipeline.load(spark, csv, wh, rej)
    QualityPipeline.load(spark, qcsv, "2023-07-01", wh, rej)
    val bedInfo = table(wh, Warehouse.BedInformation)
    val quality = table(wh, Warehouse.QualityInformation)

    val weeks = Reports.weekSummary(bedInfo)
    val week0106 = weeks.filter($"collection_week" === "2023-01-06")
    assert(week0106.select("n_records").as[Long].head() == 2L)
    assert(weeks.count() == 2)
    assert(week0106.select("sum_total_icu_beds_7_day_avg").as[Double].head() == 30.0)
    val bedUse = Reports.bedUse(quality, bedInfo)
    assert(bedUse.filter($"grouping_id" === Reports.ByRating).count() == 2) // ratings 4 and 2
    val states = Reports.byState(quality, table(wh, Warehouse.Hospitals),
      table(wh, Warehouse.Locations), "2023-07-01").collect().toSeq
    assert(Reports.emergencyTop(states).head.getAs[Long]("n_hospitals") == 2L)
    assert(Reports.ratingTopBottom(states).size == 1)
    assert(weeks.filter($"collection_week" <= "2023-01-13")
      .select("all_cases", "covid_cases").count() == 2)
    assert(bedUse.filter($"grouping_id" === Reports.ByOwnershipWeek &&
      $"hospital_ownership" === "Proprietary").count() == 2)
  }

  test("CLI loaders: end-to-end shell workflow writes warehouse dirs + reject CSVs") {
    import graft.cli.Cli
    val csv = writeCsv("cli_hhs.csv", Seq(
      hhsHeader,
      hhsRow("A", "Alpha", "2023-01-06", "10.0"),
      hhsRow("B", "", "2023-01-06", "5.0")              // reject → CSV sink
    ).mkString("\n"))
    val qcsv = writeCsv("cli_quality.csv", Seq(
      """Facility ID,Hospital Type,Hospital Ownership,Emergency Services,Hospital overall rating""",
      """A,Acute Care,Proprietary,Yes,4"""
    ).mkString("\n"))
    val wh = s"$dir/cli_warehouse"
    val rej = s"$dir/cli_rejects"

    Cli.runHhs(spark, csv, wh, rej)
    Cli.runQuality(spark, "2023-07-01", qcsv, wh, rej)
    for (t <- Seq("hospitals", "hospital_locations", "hospital_bed_information",
                  "hospital_quality_information"))
      assert(Files.exists(Paths.get(s"$wh/$t")), s"missing warehouse dir $t")
    assert(spark.read.parquet(s"$wh/hospitals").count() == 1)
    assert(spark.read.option("header", "true").csv(s"$rej/hhs")
      .filter($"reject_reason" === "hospital_name_null").count() == 1)

    // second load against the ON-DISK warehouse: cross-load dedup holds
    Cli.runHhs(spark, csv, wh, rej)
    assert(spark.read.parquet(s"$wh/hospitals").count() == 1)
    assert(spark.read.parquet(s"$wh/hospital_bed_information").count() == 1)

    // the same workflow with the warehouse given as a URI: the second
    // load must still find the tables it dedups against
    val uriWh = "file://" + Paths.get(s"$dir/cli_warehouse_uri").toAbsolutePath
    Cli.runHhs(spark, csv, uriWh, rej)
    Cli.runQuality(spark, "2023-07-01", qcsv, uriWh, rej)
    Cli.runHhs(spark, csv, uriWh, rej)
    assert(spark.read.parquet(s"$uriWh/hospitals").count() == 1)
    assert(spark.read.parquet(s"$uriWh/hospital_bed_information").count() == 1)
    assert(graft.cli.Report.render(spark, uriWh)
      .contains("Records loaded for week 2023-01-06"))
  }

  test("a load interrupted after any of its appends converges on replay") {
    import graft.cli.Cli
    val csv = writeCsv("replay.csv", Seq(
      hhsHeader,
      hhsRow("A", "Alpha", "2023-01-06", "10.0"),
      hhsRow("B", "Beta", "2023-01-06", "20.0"),
      hhsRow("A", "Alpha", "2023-01-13", "12.0")
    ).mkString("\n"))
    val tables = Seq(Warehouse.Hospitals, Warehouse.Locations, Warehouse.BedInformation)
    def contents(wh: String) = tables.map(t =>
      table(wh, t).collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq)
    val whole = s"$dir/replay_whole"
    Cli.runHhs(spark, csv, whole, s"$dir/replay_rejects")
    val expected = contents(whole)
    assert(expected.map(_.size) == Seq(2, 2, 3))
    // the appends run at once, so a killed load can leave any subset of
    // the three tables written, not only a prefix
    for (written <- (1 to 3).flatMap(tables.combinations)) {
      // those tables of the whole load, as a load into an empty
      // warehouse killed after their appends leaves them, then the whole
      // load again
      val k = written.map(_.name).mkString("+")
      val wh = s"$dir/replay_after_$k"
      written.foreach(t => Warehouse.append(table(whole, t), wh, t))
      Cli.runHhs(spark, csv, wh, s"$dir/replay_rejects")
      assert(contents(wh) == expected, s"replay after $k append(s)")
    }
  }

  /** The three HHS tables of `wh`, each as sorted rows. */
  private def hhsContents(wh: String) =
    Seq(Warehouse.Hospitals, Warehouse.Locations, Warehouse.BedInformation).map(t =>
      table(wh, t).collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq)

  /** What `load` threw; it must throw. Checks that the failed load left
    * no job running, no write thread alive and no cache entry of its
    * own: the persisted parse is dropped only after every write ended. */
  private def failedLoad(load: => Unit): Throwable = {
    val sc = spark.sparkContext
    val cached = sc.getPersistentRDDs.keySet
    val e = intercept[Throwable](load)
    GraftSqlBridge.drainListenerBus(spark)
    assert(sc.statusTracker.getActiveJobIds.isEmpty, "a job of the failed load still runs")
    assert(branchThreads.isEmpty, "a write thread outlived its load")
    assert(sc.getPersistentRDDs.keySet == cached, "the failed load left its parse cached")
    e
  }

  /** `e` and its causes. */
  private def chain(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq

  test("an HHS load with one failing write rethrows its error after the others end") {
    import graft.cli.Cli
    val csv = writeCsv("failing_hhs.csv", Seq(
      hhsHeader,
      hhsRow("A", "Alpha", "2023-01-06", "10.0"),
      hhsRow("B", "Beta", "2023-01-06", "20.0"),
      hhsRow("C", "", "2023-01-06", "5.0")
    ).mkString("\n"))
    val whole = s"$dir/failing_hhs_whole"
    Cli.runHhs(spark, csv, whole, s"$dir/failing_hhs_whole_rejects")
    val (wh, rej) = (s"$dir/failing_hhs_warehouse", s"$dir/failing_hhs_rejects")
    // a plain file where the locations table goes: that append fails
    val obstacle = Paths.get(Warehouse.path(wh, Warehouse.Locations))
    Files.createDirectories(obstacle.getParent)
    Files.writeString(obstacle, "not a table")
    val e = failedLoad(Cli.runHhs(spark, csv, wh, rej))
    // the locations write's own exception, not a wrapper of the pool's
    assert(!e.isInstanceOf[java.util.concurrent.CompletionException], e)
    assert(chain(e).exists(c => String.valueOf(c.getMessage).contains(Warehouse.Locations.name)), e)
    // the other three writes ran to their end
    assert(table(wh, Warehouse.Hospitals).count() == 2L)
    assert(table(wh, Warehouse.BedInformation).count() == 2L)
    assert(rejects(rej, "hhs").count() == 1L)
    Files.delete(obstacle)
    Cli.runHhs(spark, csv, wh, rej)
    assert(hhsContents(wh) == hhsContents(whole))
  }

  private val qualityHeader =
    "Facility ID,Hospital Type,Hospital Ownership,Emergency Services,Hospital overall rating"

  /** Sorted rows of the quality table of `wh`. */
  private def qualityContents(wh: String) =
    table(wh, Warehouse.QualityInformation).collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq

  test("a quality load whose reject write fails rethrows its error after the append ends") {
    import graft.cli.Cli
    val csv = writeCsv("failing_quality.csv", Seq(qualityHeader,
      "A,Acute Care,Proprietary,Yes,4",
      "B,Acute Care,Proprietary,No,2",
      ",Acute Care,Proprietary,Yes,3").mkString("\n"))
    val whole = s"$dir/failing_quality_whole"
    Cli.runQuality(spark, "2023-07-01", csv, whole, s"$dir/failing_quality_whole_rejects")
    val (wh, rej) = (s"$dir/failing_quality_warehouse", s"$dir/failing_quality_rejects")
    // a plain file where the reject directory goes: the reject write
    // cannot make `<rejects>/quality` under it
    val obstacle = Paths.get(rej)
    Files.writeString(obstacle, "not a directory")
    val e = failedLoad(Cli.runQuality(spark, "2023-07-01", csv, wh, rej))
    assert(!e.isInstanceOf[java.util.concurrent.CompletionException], e)
    assert(chain(e).exists(c => String.valueOf(c.getMessage).contains(rej)), e)
    // the append ran to its end
    assert(qualityContents(wh) == qualityContents(whole))
    Files.delete(obstacle)
    Cli.runQuality(spark, "2023-07-01", csv, wh, rej)
    assert(qualityContents(wh) == qualityContents(whole))
  }

  test("the quality rejects read the table as it was before the load") {
    // the duplicate rejects run beside the append into the same table;
    // they see only the files listed when the load began
    val stored = (1 to 40).map(i => s"F$i,Acute Care,Proprietary,Yes,${i % 5}")
    val (wh, rej) = (s"$dir/snapshot_warehouse", s"$dir/snapshot_rejects")
    def duplicates = rejects(rej, "quality").filter($"reject_reason" === "duplicate")
      .select("facility_id").as[String].collect().sorted.toSeq
    def ids = table(wh, Warehouse.QualityInformation).select("facility_id").as[String]
      .collect().sorted.toSeq
    QualityPipeline.load(spark, writeCsv("snapshot_first.csv",
      (qualityHeader +: stored).mkString("\n")), "2023-07-01", wh, rej)
    assert(duplicates.isEmpty)
    val first = ids
    assert(first.size == 40)
    // the same date again, with ten new facilities
    val fresh = (41 to 50).map(i => s"F$i,Acute Care,Voluntary,No,3")
    QualityPipeline.load(spark, writeCsv("snapshot_replay.csv",
      (qualityHeader +: (stored ++ fresh)).mkString("\n")), "2023-07-01", wh, rej)
    assert(duplicates == first)
    assert(ids == (first ++ (41 to 50).map(i => s"F$i")).sorted)
  }

  /** The physical plans of the SQL executions `body` runs. */
  private def plansDuring(body: => Unit): Seq[SparkPlan] = {
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plans.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    GraftSqlBridge.drainListenerBus(spark)
    spark.listenerManager.register(listener)
    try {
      body
      GraftSqlBridge.drainListenerBus(spark)
    } finally spark.listenerManager.unregister(listener)
    plans.asScala.toSeq
  }

  /** The file scans of `plans` that read under `path`, through adaptive
    * stages, cached relations and commands. A cached plan shared by
    * several executions counts once, so a scan's metrics count each read
    * of the files once. */
  private def scansUnder(plans: Seq[SparkPlan], path: String): Seq[FileSourceScanExec] = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def walk(p: SparkPlan): Unit = if (seen.add(p)) p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case r: ReusedExchangeExec => walk(r.child)
      case m: InMemoryTableScanExec => walk(m.relation.cachedPlan)
      case c: CommandResultExec => walk(c.commandPhysicalPlan)
      case other => (other.children ++ other.subqueries).foreach(walk)
    }
    plans.foreach(walk)
    val root = new java.io.File(path).getAbsolutePath
    seen.asScala.toSeq.collect {
      case s: FileSourceScanExec if s.relation.location.rootPaths.exists(
        _.toUri.getPath.startsWith(root)) => s
    }
  }

  private def metric(scans: Seq[FileSourceScanExec], name: String): Long =
    scans.map(_.metrics(name).value).sum

  test("one HHS load and one quality load each parse their CSV once") {
    import graft.cli.Cli
    val csv = writeCsv("once_hhs.csv", Seq(
      hhsHeader,
      hhsRow("A", "Alpha", "2023-01-06", "10.0"),
      hhsRow("B", "", "2023-01-06", "5.0"),
      hhsRow("C", "Gamma", "2023-01-13", "-2.0")
    ).mkString("\n"))
    val qcsv = writeCsv("once_quality.csv", Seq(
      """Facility ID,Hospital Type,Hospital Ownership,Emergency Services,Hospital overall rating""",
      """A,Acute Care,Proprietary,Yes,4""",
      """,Acute Care,Proprietary,Yes,4"""
    ).mkString("\n"))
    val wh = s"$dir/once_warehouse"
    val rej = s"$dir/once_rejects"
    // CSV parses only
    def parses(body: => Unit, path: String) = scansUnder(plansDuring(body), path)
      .filter(_.relation.fileFormat.isInstanceOf[CSVFileFormat])
    // the three rows reach four outputs (three tables and the rejects)
    val hhs = parses(Cli.runHhs(spark, csv, wh, rej), csv)
    assert(hhs.nonEmpty && metric(hhs, "numOutputRows") == 3L)
    // the two rows reach the table and the rejects
    val quality = parses(Cli.runQuality(spark, "2023-07-01", qcsv, wh, rej), qcsv)
    assert(quality.nonEmpty && metric(quality, "numOutputRows") == 2L)
  }

  /** A warehouse under `name` holding two hospitals' week and a quality
    * snapshot, then the two loads the pins below count: an HHS delta (a
    * new week, a replayed stored row and a reject) and a same-date
    * quality replay (a duplicate, a new facility and a reject). */
  private def onStoredRows[A](name: String)(loads: (=> Unit, => Unit) => A): A = {
    import graft.cli.Cli
    val wh = s"$dir/${name}_warehouse"
    val rej = s"$dir/${name}_rejects"
    Cli.runHhs(spark, writeCsv(s"${name}_history.csv", Seq(hhsHeader,
      hhsRow("A", "Alpha", "2023-01-06", "10.0"),
      hhsRow("B", "Beta", "2023-01-06", "20.0")).mkString("\n")), wh, rej)
    Cli.runQuality(spark, "2023-07-01", writeCsv(s"${name}_quality.csv", Seq(qualityHeader,
      "A,Acute Care,Proprietary,Yes,4").mkString("\n")), wh, rej)
    val delta = writeCsv(s"${name}_delta.csv", Seq(hhsHeader,
      hhsRow("A", "Alpha", "2023-01-13", "11.0"),
      hhsRow("B", "Beta", "2023-01-06", "20.0"),
      hhsRow("C", "", "2023-01-13", "5.0")).mkString("\n"))
    val replay = writeCsv(s"${name}_replay.csv", Seq(qualityHeader,
      "A,Acute Care,Proprietary,Yes,4",
      "B,Acute Care,Proprietary,No,2",
      ",Acute Care,Proprietary,Yes,3").mkString("\n"))
    loads(Cli.runHhs(spark, delta, wh, rej), Cli.runQuality(spark, "2023-07-01", replay, wh, rej))
  }

  test("a load onto stored rows runs 5 SQL executions for HHS, 2 for quality") {
    onStoredRows("executions") { (hhsLoad, qualityLoad) =>
      val hhs = executions(hhsLoad)
      val quality = executions(qualityLoad)
      // the delta's weeks, the three appends and the rejects
      assert(hhs == 5)
      // the append and the rejects: the header is read on the driver
      assert(quality == 2)
    }
  }

  test("a warm load runs 13 jobs for HHS, 5 for quality, all in the caller's job group") {
    val sc = spark.sparkContext
    // one uncounted run first, then 3 counted
    val counts = (0 to 3).map { i =>
      onStoredRows(s"jobs_$i") { (hhsLoad, qualityLoad) =>
        sc.setJobGroup("pipeline-spec", "a load")
        val (hhs, quality) =
          try (jobsDuring(hhsLoad), jobsDuring(qualityLoad)) finally sc.clearJobGroup()
        assert((hhs ++ quality).forall(
          _.properties.getProperty("spark.jobGroup.id") == "pipeline-spec"))
        (hhs.size, quality.size)
      }
    }.tail
    // the parse cache's build, then the jobs of the executions pinned
    // above
    assert(counts == Seq.fill(3)((13, 5)), counts)
  }

  test("the quality reader selects its columns by name from a quoted header") {
    // quoted names, an extra quoted column with a comma in its name and
    // a reordered header: the 5 columns still bind by name, and reading
    // the header runs no job
    val csv = writeCsv("quoted_quality.csv", Seq(
      "\"Hospital overall rating\",\"Address, Line 1\",Facility ID,\"Hospital Type\"," +
        "Hospital Ownership,Emergency Services",
      "4,\"1 Main St, Suite 2\",F1,Acute Care,Proprietary,Yes").mkString("\n"))
    var raw: org.apache.spark.sql.DataFrame = null
    assert(jobsDuring { raw = QualityPipeline.readRaw(spark, csv) }.isEmpty)
    assert(raw.columns.toSeq == Schemas.qualityRawCsv.fieldNames.toSeq)
    assert(raw.as[(String, String, String, String, String)].collect().toSeq ==
      Seq(("F1", "Acute Care", "Proprietary", "Yes", "4")))
  }

  test("a quality CSV without one of the 5 columns fails, naming it") {
    val csv = writeCsv("partial_quality.csv", Seq(
      "Facility ID,Hospital Type,Hospital Ownership,Hospital overall rating",
      "F1,Acute Care,Proprietary,4").mkString("\n"))
    val e = intercept[IllegalArgumentException](QualityPipeline.readRaw(spark, csv))
    assert(e.getMessage.contains("'Emergency Services'"), e.getMessage)
  }

  test("a load reads only the stored bed partitions of its own weeks") {
    import graft.cli.Cli
    val weeks = Seq("2023-01-06", "2023-01-13", "2023-01-20")
    val history = writeCsv("pruned_history.csv", (hhsHeader +: (for {
      w <- weeks; pk <- Seq("A", "B")
    } yield hhsRow(pk, pk, w, "10.0"))).mkString("\n"))
    val wh = s"$dir/pruned_warehouse"
    val rej = s"$dir/pruned_rejects"
    Cli.runHhs(spark, history, wh, rej)
    // the new week, plus a replayed row of the latest stored one
    val delta = writeCsv("pruned_delta.csv", Seq(
      hhsHeader,
      hhsRow("A", "A", "2023-01-27", "11.0"),
      hhsRow("B", "B", "2023-01-27", "12.0"),
      hhsRow("B", "B", "2023-01-20", "10.0")
    ).mkString("\n"))
    val beds = Warehouse.path(wh, Warehouse.BedInformation)
    val scans = scansUnder(plansDuring(Cli.runHhs(spark, delta, wh, rej)), beds)
    val latestFiles = Files.list(Paths.get(s"$beds/collection_week=2023-01-20")).iterator().asScala
      .count(_.getFileName.toString.endsWith(".parquet"))
    assert(scans.nonEmpty)
    assert(metric(scans, "numPartitions") == 1L)
    assert(metric(scans, "numFiles") == latestFiles.toLong)
    assert(spark.read.parquet(beds).count() == 8L)
  }

  test("the CLI loaders leave none of their frames cached, and keep the caller's") {
    import graft.cli.Cli
    val csv = writeCsv("cache_hhs.csv", Seq(
      hhsHeader, hhsRow("A", "Alpha", "2023-01-06", "10.0")).mkString("\n"))
    val qcsv = writeCsv("cache_quality.csv", Seq(
      """Facility ID,Hospital Type,Hospital Ownership,Emergency Services,Hospital overall rating""",
      """A,Acute Care,Proprietary,Yes,4""").mkString("\n"))
    val callers = spark.range(3).toDF("x").persist(StorageLevel.MEMORY_AND_DISK)
    try {
      callers.count()
      val before = spark.sparkContext.getPersistentRDDs.keySet
      Cli.runHhs(spark, csv, s"$dir/cache_warehouse", s"$dir/cache_rejects")
      Cli.runQuality(spark, "2023-07-01", qcsv, s"$dir/cache_warehouse", s"$dir/cache_rejects")
      assert(spark.sparkContext.getPersistentRDDs.keySet == before)
      assert(callers.storageLevel == StorageLevel.MEMORY_AND_DISK)
    } finally callers.unpersist()
  }
}
