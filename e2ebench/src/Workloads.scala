package e2ebench

import java.io.File
import scala.collection.mutable

import graft.cli.{Cli, Report}
import graft.etl.{Dedup, Validation}
import graft.warehouse.HhsPipeline
import org.apache.spark.sql.SparkSession

/** What a workload needs from the run: the session, the tracer, a work
  * directory, and the operation tally that becomes `attempted`/`failed`. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val work: File, val seed: Long,
                val benchDir: File) {
  var attempted = 0L
  var failed = 0L
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  /** One library call: timed in a span; an exception or a non-empty
    * mismatch list from `check` marks it failed. */
  def call[T](layer: String, name: String)(body: => T)(check: T => Seq[String]): (Option[T], Span) = {
    attempted += 1
    val (res, span) = tracer.span(layer, name) {
      try Right(body) catch { case e: Exception => Left(e) }
    }
    val problems = res match {
      case Left(e) => Seq(s"${e.getClass.getSimpleName}: ${e.getMessage}")
      case Right(v) => try check(v) catch { case e: Exception => Seq(s"check threw $e") }
    }
    if (problems.nonEmpty) {
      failed += 1
      failures += s"$name: ${problems.take(3).mkString("; ")}"
      System.err.println(s"[e2ebench] FAILED $name: ${problems.mkString("; ")}")
    }
    (res.toOption, span)
  }

  def dir(name: String): File = new File(work, name)
  def path(name: String): String = dir(name).getAbsolutePath
}

/** A workload: set-up outside the timed window, then `op` repeated until
  * the window closes. Each op is one span whose children are the calls. */
trait Workload {
  def setup(): Unit
  def op(i: Int): Unit
  def finish(): Unit
  /** The user-facing operation whose time `latency_s` reports. */
  def latency: Seq[Double]
  /** The workload's whole unit of work, in seconds (`work_s`). */
  def work: Double
  /** Workload-specific named metrics: name -> (value, unit). */
  def named: Seq[(String, Double, String)]
  /** Seconds of each op's user-facing operation, in op order. */
  def opSeconds: Seq[Double]
  /** Large HHS input for the traced etl probe, if the workload has one. */
  def etlInput: Option[String] = None
  /** The warehouse directory, if the workload has one. */
  def warehouse: Option[File] = None
}

object Workloads {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else { val s = xs.sorted; val n = s.size; if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }

  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else { val s = xs.sorted; s(math.min(s.size - 1, math.ceil(p * s.size).toInt - 1 max 0)) }

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "weekly" => new Weekly(ctx)
    case "suite" => new Suite(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** HHS load through the CLI entry point, checked against the ledger's
    * reject count (added rows are checked on the next page or count). */
  def loadHhs(ctx: Ctx, ledger: Ledger, file: File, rows: Seq[Inputs.HhsRow],
              wh: String, rejects: String): Span = {
    val expect = ledger.loadHhs(rows)
    val span = ctx.call("cli", s"Cli.runHhs ${file.getName}") {
      Cli.runHhs(ctx.spark, file.getAbsolutePath, wh, rejects)
    } { _ =>
      val got = Checks.csvRows(new File(rejects, "hhs"))
      if (got != expect.rejected) Seq(s"rejected $got, ledger ${expect.rejected}") else Nil
    }._2
    span.counts("csv_rows") = rows.size.toDouble
    span.counts("csv_bytes") = file.length.toDouble
    span
  }

  def loadQuality(ctx: Ctx, ledger: Ledger, date: String, file: File,
                  rows: Seq[Inputs.QualityRow], wh: String, rejects: String): Span = {
    val expect = ledger.loadQuality(date, rows)
    val span = ctx.call("cli", s"Cli.runQuality $date ${file.getName}") {
      Cli.runQuality(ctx.spark, date, file.getAbsolutePath, wh, rejects)
    } { _ =>
      val got = Checks.csvRows(new File(rejects, "quality"))
      if (got != expect.rejected) Seq(s"rejected $got, ledger ${expect.rejected}") else Nil
    }._2
    span.counts("csv_bytes") = file.length.toDouble
    span
  }

  /** Warehouse totals the ledger fixes: bed rows per week, hospitals,
    * locations and quality rows per data date. One Spark pass each. */
  def warehouseMismatches(ctx: Ctx, ledger: Ledger, wh: String): Seq[String] = {
    import org.apache.spark.sql.functions._
    val s = ctx.spark
    val out = Seq.newBuilder[String]
    val beds = s.read.parquet(s"$wh/hospital_bed_information")
      .groupBy("collection_week").count().collect()
      .map(r => r.get(0).toString -> r.getLong(1)).toMap
    val expBeds = ledger.weekRows.map { case (w, n) => Inputs.FirstWeek.plusWeeks(w.toLong).toString -> n }.toMap
    if (beds != expBeds) out += s"bed rows by week differ (${beds.values.sum} vs ${expBeds.values.sum})"
    Seq("hospitals", "hospital_locations").foreach { t =>
      val n = s.read.parquet(s"$wh/$t").count()
      if (n != ledger.hospitalCount) out += s"$t has $n rows, ledger ${ledger.hospitalCount}"
    }
    if (ledger.qualityRows.nonEmpty) {
      val q = s.read.parquet(s"$wh/hospital_quality_information")
        .groupBy(col("data_date").cast("string")).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      if (q != ledger.qualityRows.toMap) out += s"quality rows by date differ: $q vs ${ledger.qualityRows}"
    }
    out.result()
  }
}

/** The reference's operating point: a warehouse holding a long history
  * takes one new week, a quality snapshot every 4th week (from the
  * second cycle on, so that a traced run's traced cycle has one; loaded
  * twice, the second time as a same-date replay), and the dashboard page
  * is rendered three times after every load. */
final class Weekly(ctx: Ctx) extends Workload {
  import Workloads._
  val historyWeeks = 26
  val hospitals = 2000
  private val inputs = new Inputs(ctx.seed, hospitals)
  private val ledger = new Ledger
  private val wh = ctx.path("warehouse")
  private var snapshots = 0
  private var lastPage: Option[String] = None
  val weekLoads, qualityLoads, pages, freshness = mutable.ArrayBuffer.empty[Double]

  private def hhs(from: Int, to: Int, tag: String): Span = {
    val f = ctx.dir(s"in/hhs-$tag.csv")
    val rows = inputs.writeHhs(f, from, to)
    loadHhs(ctx, ledger, f, rows, wh, ctx.path(s"rejects/$tag"))
  }

  private def quality(week: Int): Seq[Span] = {
    val date = inputs.weekDate(week).toString
    val rows = inputs.qualityRows(snapshots, week)
    snapshots += 1
    val f = ctx.dir(s"in/quality-$date.csv")
    inputs.writeQuality(f, rows)
    Seq("", "-replay").map(tag =>
      loadQuality(ctx, ledger, date, f, rows, wh, ctx.path(s"rejects/q$date$tag")))
  }

  /** A page view; the first after a load is checked against the ledger,
    * reruns must reproduce it exactly. */
  private def page(first: Boolean): Span =
    ctx.call("cli", "Report.render")(Report.render(ctx.spark, wh)) { text =>
      val problems =
        if (first) Checks.pageMismatches(Checks.parsePage(text), ledger)
        else if (!lastPage.contains(text)) Seq("rerun differs from the first view") else Nil
      lastPage = Some(text)
      problems
    }._2

  /** Preload the history as weekly loads would have left it, load the
    * latest quality snapshot, then one untimed cycle through the timed
    * path (checked like the timed ones): Spark's driver-side code needs
    * a full cycle before its per-call times settle. */
  def setup(): Unit = {
    Preload.write(ctx.spark, inputs,
      ledger.loadHhs((0 until historyWeeks).flatMap(inputs.weekRows)), wh)
    quality(historyWeeks - 1)
    hhs(historyWeeks, historyWeeks + 1, s"w$historyWeeks")
    Seq(true, false, false).foreach(page)
  }

  def op(i: Int): Unit = {
    val w = historyWeeks + 1 + i
    val load = hhs(w, w + 1, s"w$w")
    weekLoads += load.seconds
    if (i % 4 == 1) qualityLoads ++= quality(w).map(_.seconds)
    val views = Seq(page(first = true), page(first = false), page(first = false))
    pages ++= views.map(_.seconds)
    freshness += load.seconds + views.head.seconds
    System.err.println(f"[e2ebench] week $w load ${load.seconds}%.2f s, pages ${views.map(_.seconds).map(x => f"$x%.2f").mkString(" ")} s")
  }

  def finish(): Unit =
    ctx.call("cli", "warehouse totals")(warehouseMismatches(ctx, ledger, wh))(identity)

  def latency: Seq[Double] = pages.toSeq
  def opSeconds: Seq[Double] = freshness.toSeq
  def work: Double = median(weekLoads.toSeq) + 3 * median(pages.toSeq) +
    2 * median(qualityLoads.toSeq) / 4
  def named: Seq[(String, Double, String)] = Seq(
    ("week_load_s", median(weekLoads.toSeq), "s"),
    ("quality_load_s", median(qualityLoads.toSeq), "s"),
    ("report_page_s", median(pages.toSeq), "s"),
    ("week_to_dashboard_s", median(freshness.toSeq), "s"))
  /** The history as one bulk CSV, written only when the probe asks. */
  override def etlInput: Option[String] = {
    val f = ctx.dir("in/history.csv")
    inputs.writeHhs(f, 0, historyWeeks)
    Some(f.getAbsolutePath)
  }
  override def warehouse: Option[File] = Some(new File(wh))
}

/** Writes the warehouse state that weekly loads of the ledger's rows
  * leave behind, without running them: the accepted rows, one parquet
  * file per dimension table and per `collection_week` partition. */
object Preload {
  def write(spark: SparkSession, inputs: Inputs, loaded: Ledger#HhsOutcome, wh: String): Unit = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.StructType
    import graft.warehouse.Schemas
    def df(rows: Seq[Row], schema: StructType) = spark.createDataFrame(rows.asJava, schema)
    val hosp = loaded.newHospitals
    df(hosp.map(r => Row(inputs.key(r.hospital), r.name.get)), Schemas.hospitals)
      .coalesce(1).write.parquet(s"$wh/hospitals")
    df(hosp.map(r => Row.fromSeq(inputs.key(r.hospital) +: inputs.location(r.hospital))),
      Schemas.hospitalLocations).coalesce(1).write.parquet(s"$wh/hospital_locations")
    df(loaded.accepted.map(r => Row.fromSeq(
      Seq(inputs.key(r.hospital), java.sql.Date.valueOf(inputs.weekDate(r.week))) ++
        r.metrics.toSeq.map(_.tenths.map(t => java.lang.Double.valueOf(t / 10.0)).orNull))),
      Schemas.hospitalBedInformation)
      .repartition(col("collection_week")).write.partitionBy("collection_week")
      .parquet(s"$wh/hospital_bed_information")
  }
}

/** A fixed sample of the registered production queries, run warm and
  * sequentially into the `noop` sink over the committed seed-42 corpus. */
final class Suite(ctx: Ctx) extends Workload {
  import Workloads._
  private val corpus = new File(ctx.benchDir, "corpus").getAbsolutePath
  private val queries = graft.SparkEntry.queries
  private val refs: Map[String, (Long, String)] = Suite.readRefs(new File(ctx.benchDir, Suite.RefsFile))
  val perQuery: mutable.Map[String, mutable.ArrayBuffer[Double]] = mutable.LinkedHashMap.empty
  val passSeconds = mutable.ArrayBuffer.empty[Double]

  /** Warm-up and correctness pass: every sample query is collected once
    * and its row count and digest compared with the recorded reference. */
  def setup(): Unit = Suite.Sample.foreach { name =>
    ctx.call("queries", s"check $name") {
      val rows = queries(name)(ctx.spark, corpus).collect()
      (rows.length.toLong, Checks.digest(rows))
    } { got =>
      refs.get(name) match {
        case None => Seq("no recorded reference")
        case Some(exp) if exp != got => Seq(s"rows/digest $got, reference $exp")
        case _ => Nil
      }
    }
  }

  def op(i: Int): Unit = {
    var build, exec = 0.0
    Suite.Sample.foreach { name =>
      val (df, b) = ctx.call("queries", s"build $name")(queries(name)(ctx.spark, corpus))(_ => Nil)
      df.foreach { d =>
        val (_, e) = ctx.call("queries", s"exec $name") {
          d.write.format("noop").mode("overwrite").save()
        }(_ => Nil)
        exec += e.seconds
        perQuery.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += b.seconds + e.seconds
      }
      build += b.seconds
    }
    passSeconds += build + exec
  }

  def finish(): Unit = ()
  /** Per query, the best of its timed passes (the `graft.Bench`
    * convention): the first timed pass still carries JIT warm-up. */
  private def best: Seq[Double] = perQuery.values.map(_.min).toSeq
  def latency: Seq[Double] = best
  def opSeconds: Seq[Double] = passSeconds.toSeq
  def work: Double = best.sum
  def named: Seq[(String, Double, String)] = Seq(
    ("suite_s", work, "s"),
    ("suite_query_p50_s", median(best), "s"),
    ("suite_query_p90_s", pct(best, 0.9), "s"))
}

object Suite {
  val RefsFile = "suite_refs.tsv"

  /** The lead (first by name) production query of each of the 10
    * largest query families when the benchmark was defined, plus two
    * queries whose build runs Spark jobs (BPE merges, Lloyd rounds), so
    * that the build layer is exercised. */
  val Sample: Seq[String] = Seq(
    "x01_distinct_count", "a01_count_filter", "f01_string_funcs", "dd01_exact_dup_groups",
    "w01_lag_delta", "nn07_lsh_portable", "d01_dedup_first_wins", "mm01_payload_meta",
    "ts01_gap_fill", "g01_rollup", "bt01_bpe_train", "km01_kmeans")

  /** The ten largest families; their sample members' seconds per pass
    * are reported as `queries.family.<prefix>_s`. */
  val Families: Seq[String] = Seq("x", "a", "f", "dd", "w", "nn", "d", "mm", "ts", "g")

  def family(q: String): String = q.takeWhile(_.isLetter)

  def readRefs(f: File): Map[String, (Long, String)] =
    if (!f.exists) Map.empty
    else scala.io.Source.fromFile(f, "UTF-8").getLines().filterNot(_.startsWith("#"))
      .map(_.split('\t')).collect { case Array(n, rows, d) => n -> (rows.toLong, d) }.toMap
}

/** The traced run's etl probe: the loader's stages as noop actions over
  * one HHS CSV, each a prefix of the next (scan+clean, +validate-split,
  * +first-occurrence dedup on both keys). */
object EtlProbe {
  def run(ctx: Ctx, csv: String): Seq[(String, Double)] = {
    def noop(dfs: org.apache.spark.sql.DataFrame*): Unit =
      dfs.foreach(_.write.format("noop").mode("overwrite").save())
    val cleaned = HhsPipeline.clean(HhsPipeline.readRaw(ctx.spark, csv))
    val (valid, rejects) = Validation.split(cleaned, HhsPipeline.validationRules)
    Seq(
      "etl.clean_ms" -> (() => noop(cleaned)),
      "etl.validate_ms" -> (() => noop(valid, rejects)),
      "etl.dedup_ms" -> (() => noop(
        Dedup.firstOccurrenceWins(valid, Seq("hospital_pk"), "__file_order"),
        Dedup.firstOccurrenceWins(valid, Seq("hospital_pk", "collection_week"), "__file_order")))
    ).map { case (name, action) =>
      val (_, s) = ctx.call("etl", name)(action())(_ => Nil)
      name -> s.seconds * 1000
    }
  }
}
