package e2ebench

import java.io.{File, PrintWriter}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Joins the traced run's Spark events to its spans (by job group, SQL
  * execution id and stage id) and derives the per-layer metrics and the
  * self-time table. Only ops run with the listeners attached, and the
  * etl probe, are analysed. */
final class Analysis(tracer: Tracer, wl: Workload, ops: Seq[Span],
                     tracedOps: Set[Int], etl: Seq[(String, Double)]) {
  import Tracer._
  import Workloads.median

  private val spans = tracer.all
  private val execs = tracer.execs.values.asScala.toSeq.sortBy(_.id)
  private val jobs = tracer.jobs.values.asScala.toSeq.sortBy(_.id)
  private val qes = tracer.qeEvents.asScala.toSeq
  private val stageAgg = tracer.stages.asScala
  private val cores = Runtime.getRuntime.availableProcessors()

  private val callByGroup = spans.filter(s => CallLayers(s.layer)).map(s => s.group -> s).toMap
  private val execById = execs.map(e => e.id -> e).toMap
  private def callOfExec(e: Exec): Option[Span] =
    e.group.flatMap(callByGroup.get)
      .orElse(e.root.filter(_ != e.id).flatMap(execById.get).flatMap(callOfExec))
  private def callOfJob(j: Job): Option[Span] =
    j.group.flatMap(callByGroup.get).orElse(j.exec.flatMap(execById.get).flatMap(callOfExec))

  private val tracedOpSpans = ops.zipWithIndex.collect { case (s, i) if tracedOps(i) => s }
  private def within(s: Span, roots: Seq[Span]): Boolean =
    Iterator.iterate(Option(s))(_.flatMap(_.parent)).takeWhile(_.isDefined).flatten.exists(roots.contains)
  private val etlCalls = spans.filter(_.layer == "etl")
  private val scope: Seq[Span] = spans.filter(s => CallLayers(s.layer) &&
    (within(s, tracedOpSpans) || etlCalls.contains(s)))
  private val scopeSet = scope.toSet
  private val opCalls = scope.filterNot(_.layer == "etl")

  private val qesByCall: Map[Span, Seq[QeEvent]] = qes
    .flatMap(q => execById.get(q.id).flatMap(callOfExec).filter(scopeSet).map(_ -> q))
    .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sortBy(_.id) }
  private val jobsByCall: Map[Span, Seq[Job]] = jobs
    .flatMap(j => callOfJob(j).filter(scopeSet).map(_ -> j)).groupBy(_._1)
    .map { case (k, v) => k -> v.map(_._2) }

  private def callsNamed(prefix: String) = opCalls.filter(_.name.startsWith(prefix))
  private def avg(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  private def qesOf(s: Span) = qesByCall.getOrElse(s, Nil)

  /** Milliseconds of the write to `dir` within a call; a write can show
    * as an outer and an inner execution, so the longer one counts. */
  private def writeMs(s: Span, dir: String): Double =
    (0.0 +: qesOf(s).filter(_.writes.exists(_._1 == dir)).map(_.ms)).max
  /** Per written directory, the largest (files, bytes) any execution
    * of the call reports for it. */
  private def written(s: Span): Map[String, (Long, Long)] =
    qesOf(s).flatMap(_.writes).groupBy(_._1).map { case (d, ws) =>
      d -> (ws.map(_._2).max, ws.map(_._3).max) }
  private val RejectDirs = Set("hhs", "quality")
  private def topLevelExecs(s: Span): Int =
    execs.count(e => e.group.contains(s.group) && e.root.forall(_ == e.id))

  private def hhsMetrics: Seq[(String, Double, String)] = {
    val loads = callsNamed("Cli.runHhs")
    Seq(
      ("warehouse.hhs.actions", avg(loads.map(topLevelExecs(_).toDouble)), "count"),
      ("warehouse.hhs.csv_scans", avg(loads.map(s =>
        qesOf(s).map(_.csvRows).sum / s.counts.getOrElse("csv_rows", Double.NaN))), "ratio"),
      ("warehouse.hhs.write_hospitals_ms", avg(loads.map(writeMs(_, "hospitals"))), "ms"),
      ("warehouse.hhs.write_locations_ms", avg(loads.map(writeMs(_, "hospital_locations"))), "ms"),
      ("warehouse.hhs.write_bed_information_ms", avg(loads.map(writeMs(_, "hospital_bed_information"))), "ms"),
      ("warehouse.hhs.write_rejects_ms", avg(loads.map(writeMs(_, "hhs"))), "ms"),
      ("warehouse.hhs.history_rows_read", avg(loads.map(qesOf(_).map(_.parquetRows).sum.toDouble)), "rows"))
  }

  private def qualityMetrics: Seq[(String, Double, String)] = {
    val loads = callsNamed("Cli.runQuality")
    Seq(
      ("warehouse.quality.write_ms", avg(loads.map(writeMs(_, "hospital_quality_information"))), "ms"),
      ("warehouse.quality.write_rejects_ms", avg(loads.map(writeMs(_, "quality"))), "ms"))
  }

  private def storageMetrics: Seq[(String, Double, String)] = {
    val loads = callsNamed("Cli.run")
    def tableBytes(s: Span) = written(s).collect { case (d, (_, b)) if !RejectDirs(d) => b }.sum
    Seq(
      ("warehouse.files_written", avg(loads.map(written(_).values.map(_._1).sum.toDouble)), "count"),
      ("warehouse.files_total", wl.warehouse.map(Checks.dataFiles(_).toDouble).getOrElse(0.0), "count"),
      ("warehouse.bytes_per_input_byte", avg(loads.map(s =>
        tableBytes(s) / s.counts.getOrElse("csv_bytes", Double.NaN))), "ratio"))
  }

  /** Report.render issues 3 default-parameter lookups, then one action
    * per section R1..R9, in that order. */
  private def reportMetrics: Seq[(String, Double, String)] = {
    val pages = callsNamed("Report.render").map(qesOf).filter(_.size == 12)
    val sections = (1 to 9).map(k =>
      (s"warehouse.reports.r${k}_ms", avg(pages.map(_(2 + k).ms)), "ms"))
    sections ++ Seq(
      ("warehouse.reports.defaults_ms", avg(pages.map(_.take(3).map(_.ms).sum)), "ms"),
      ("warehouse.reports.rows_read", avg(pages.map(_.map(_.parquetRows).sum.toDouble)), "rows"),
      ("warehouse.reports.files_read", avg(pages.map(_.map(_.parquetFiles).sum.toDouble)), "count"))
  }

  private def etlMetrics: Seq[(String, Double, String)] =
    Seq("etl.clean_ms", "etl.validate_ms", "etl.dedup_ms").map(n =>
      (n, etl.toMap.getOrElse(n, 0.0), "ms"))

  private def queryMetrics: Seq[(String, Double, String)] = {
    val passes = tracedOpSpans.size.max(1).toDouble
    val builds = callsNamed("build ")
    val execsQ = callsNamed("exec ")
    val fam = Suite.Families.map { f =>
      val s = (builds ++ execsQ).filter(c => Suite.family(c.name.split(' ')(1)) == f).map(_.seconds).sum
      (s"queries.family.${f}_s", s / passes, "s")
    }
    Seq(
      ("queries.build_s", builds.map(_.seconds).sum / passes, "s"),
      ("queries.build_jobs", builds.map(b => jobsByCall.getOrElse(b, Nil).size).sum / passes, "count"),
      ("queries.exec_s", execsQ.map(_.seconds).sum / passes, "s")) ++ fam
  }

  private def sparkMetrics: Seq[(String, Double, String)] = {
    val n = tracedOpSpans.size.max(1).toDouble
    val js = opCalls.flatMap(c => jobsByCall.getOrElse(c, Nil))
    val st = js.flatMap(_.stages).distinct.flatMap(stageAgg.get)
    def sum(f: StageAgg => Long) = st.map(f).sum.toDouble
    val busy = union(js.filter(_.endMs >= 0).map(j => (j.startMs.toDouble, j.endMs.toDouble)))
    Seq(
      ("spark.plan_ms", opCalls.flatMap(qesOf).map(_.planMs).sum / n, "ms"),
      ("spark.jobs", js.size / n, "count"),
      ("spark.stages", st.size / n, "count"),
      ("spark.tasks", sum(_.tasks) / n, "count"),
      ("spark.idle_slot_frac", if (busy > 0) 1 - sum(_.runMs) / (busy * cores) else 0.0, "ratio"),
      ("spark.task_run_ms", sum(_.runMs) / n, "ms"),
      ("spark.task_cpu_ms", sum(_.cpuNs) / 1e6 / n, "ms"),
      ("spark.task_gc_ms", sum(_.gcMs) / n, "ms"),
      ("spark.shuffle_write_bytes", sum(_.shufW) / n, "bytes"),
      ("spark.shuffle_read_bytes", sum(_.shufR) / n, "bytes"),
      ("spark.spill_bytes", sum(_.spill) / n, "bytes"),
      ("spark.peak_exec_mem_bytes", (0L +: st.map(_.peakMem)).max.toDouble, "bytes"),
      ("spark.input_records", sum(_.inRec) / n, "count"),
      ("spark.input_bytes", sum(_.inBytes) / n, "bytes"),
      ("spark.output_bytes", sum(_.outBytes) / n, "bytes"))
  }

  private def overhead: Double = {
    val secs = wl.opSeconds
    val (on, off) = secs.indices.partition(tracedOps)
    if (on.isEmpty || off.isEmpty) 0.0 else median(on.map(secs)) / median(off.map(secs)) - 1
  }

  /** Per-layer metrics; the workload-specific ones come out as 0 where
    * the workload does not exercise that layer. */
  def metrics: Seq[(String, Double, String)] =
    hhsMetrics ++ qualityMetrics ++ storageMetrics ++ reportMetrics ++ etlMetrics ++
      queryMetrics ++ sparkMetrics ++ Seq(("trace.overhead_frac", overhead, "ratio"))

  // ---- span tree and self time ----------------------------------------
  private final case class Node(id: String, parent: String, layer: String, name: String,
                                start: Double, end: Double, counts: Map[String, Double])

  private lazy val nodes: Seq[Node] = {
    val spanNodes = spans.map(s => Node(s"s${s.id}", s.parent.map(p => s"s${p.id}").getOrElse(""),
      s.layer, s.name, s.startMs.toDouble, s.endMs.toDouble, s.counts.toMap))
    val qeById = qes.map(q => q.id -> q).toMap
    val execNodes = execs.filter(_.endMs >= 0).flatMap { e =>
      callOfExec(e).filter(scopeSet).map { c =>
        val parent = e.root.filter(r => r != e.id && execById.contains(r)).map(r => s"e$r")
          .getOrElse(s"s${c.id}")
        val q = qeById.get(e.id)
        Node(s"e${e.id}", parent, if (c.layer == "cli") "warehouse" else c.layer,
          q.map(_.func).getOrElse("sql"), e.startMs.toDouble, e.endMs.toDouble,
          q.map(x => Map("plan_ms" -> x.planMs, "csv_rows" -> x.csvRows.toDouble,
            "parquet_rows" -> x.parquetRows.toDouble, "parquet_files" -> x.parquetFiles.toDouble,
            "files_written" -> x.writes.map(_._2).sum.toDouble)).getOrElse(Map.empty))
      }
    }
    val jobNodes = jobs.filter(_.endMs >= 0).flatMap { j =>
      callOfJob(j).filter(scopeSet).map { c =>
        val parent = j.exec.filter(execById.contains).map(e => s"e$e").getOrElse(s"s${c.id}")
        val st = j.stages.flatMap(stageAgg.get)
        Node(s"j${j.id}", parent, "spark", s"job ${j.id}", j.startMs.toDouble, j.endMs.toDouble,
          Map("stages" -> st.size.toDouble, "tasks" -> st.map(_.tasks).sum.toDouble,
            "task_run_ms" -> st.map(_.runMs).sum.toDouble,
            "input_records" -> st.map(_.inRec).sum.toDouble))
      }
    }
    spanNodes ++ execNodes ++ jobNodes
  }

  private def union(iv: Seq[(Double, Double)]): Double =
    iv.sortBy(_._1).foldLeft((0.0, Double.MinValue)) { case ((acc, reach), (s, e)) =>
      if (e <= reach) (acc, reach) else (acc + e - math.max(s, reach), e)
    }._1

  private lazy val selfMs: Map[String, Double] = {
    val kids = nodes.groupBy(_.parent)
    nodes.map { n =>
      val covered = union(kids.getOrElse(n.id, Nil).map(k =>
        (math.max(k.start, n.start), math.min(k.end, n.end))).filter(x => x._2 > x._1))
      n.id -> math.max(0.0, n.end - n.start - covered)
    }.toMap
  }

  /** The analysed part of the tree: traced ops and etl calls with all
    * their descendants. */
  private lazy val analysed: Seq[Node] = {
    val roots = (tracedOpSpans ++ etlCalls).map(s => s"s${s.id}").toSet
    val byId = nodes.map(n => n.id -> n).toMap
    nodes.filter(n => Iterator.iterate(Option(n))(_.flatMap(x => byId.get(x.parent)))
      .takeWhile(_.isDefined).flatten.exists(x => roots(x.id)))
  }

  def printTable(): Unit = {
    val rows = analysed.groupBy(_.layer).toSeq.map { case (l, ns) =>
      (l, ns.size, ns.map(n => selfMs(n.id)).sum) }.sortBy(-_._3)
    val total = rows.map(_._3).sum
    println(f"layer ${"name"}%-10s ${"spans"}%7s ${"self_ms"}%10s ${"share"}%6s")
    rows.foreach { case (l, n, ms) =>
      println(f"layer $l%-10s $n%7d $ms%10.1f ${if (total > 0) ms / total else 0.0}%6.3f") }
  }

  def writeSpans(f: File): Unit = {
    f.getParentFile.mkdirs()
    val pw = new PrintWriter(f)
    def js(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    try nodes.foreach { n =>
      val counts = n.counts.map { case (k, v) => s"${js(k)}: $v" }.mkString(", ")
      pw.println(s"""{"id": ${js(n.id)}, "parent": ${js(n.parent)}, "layer": ${js(n.layer)}, """ +
        s""""name": ${js(n.name)}, "start_ms": ${n.start.toLong}, "end_ms": ${n.end.toLong}, """ +
        s""""self_ms": ${selfMs(n.id)}, "counts": {$counts}}""")
    } finally pw.close()
  }
}
