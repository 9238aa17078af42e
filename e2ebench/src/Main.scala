package e2ebench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.GraftSession

/** `Main --workload <weekly|suite> --seed <n> --seconds <s>
  *  --trace <0|1> --bench <dir> --out <dir> [--stamp <json>]`
  *
  * Runs one workload in this JVM at `local[<cores>]`: set-up, then the
  * workload's op in a closed loop with one client until `--seconds` have
  * passed, then end-of-run checks. Prints `metric <name> <value> <unit>`
  * lines and, last, the one-line JSON result. With `--trace 1` the
  * Spark listener is attached on odd ops; the result then carries the
  * per-layer metrics and the spans go to `--out`. */
object Main {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    if (opt.contains("calibrate")) return calibrate(new File(opt("calibrate")))
    if (opt.contains("record-refs")) return recordRefs(new File(opt("bench")), new File(opt("record-refs")))

    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val out = new File(opt("out"))
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = GraftSession.local(cores)
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark)
    val ctx = new Ctx(spark, tracer, new File("work").getAbsoluteFile, seed, new File(opt("bench")))
    val wl = Workloads(workload, ctx)

    val (_, setupSpan) = tracer.span("bench", s"setup $workload")(wl.setup())
    val setupS = (setupSpan.endMs - jvmStartMs) / 1e3
    val gc0 = gcMs()
    val opSpans = mutable.ArrayBuffer.empty[Span]
    val tracedOps = mutable.Set.empty[Int]
    val (_, window) = tracer.span("bench", s"window $workload") {
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      var i = 0
      while (i < (if (traced) MinOps + 1 else MinOps) || System.nanoTime() < deadline) {
        val on = traced && i % 2 == 1
        tracer.listen(on)
        if (on) tracedOps += i
        val op = tracer.span("bench", s"op $i")(wl.op(i))._2
        opSpans += op
        System.err.println(f"[e2ebench] op $i ${op.seconds}%.2f s${if (on) " (traced)" else ""}")
        i += 1
      }
      tracer.listen(false)
    }
    val gcWindow = gcMs() - gc0
    tracer.span("bench", s"finish $workload")(wl.finish())

    val etl = if (traced) {
      tracer.listen(true)
      val r = wl.etlInput.map(EtlProbe.run(ctx, _)).getOrElse(Nil)
      tracer.listen(false)
      r
    } else Nil

    val rssMb = vmHwmKb() / 1024.0
    val latency = wl.latency
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("latency_s", Workloads.median(latency), "s"),
      ("work_s", wl.work, "s"))
    val own = wl.named.map(m => m._1 -> m).toMap
    val named = NamedMetrics.map { case (n, u) => own.getOrElse(n, (n, 0.0, u)) } ++ Seq(
      ("peak_rss_mb", rssMb, "MB"),
      ("ops_failed_frac", ctx.failed.toDouble / math.max(1L, ctx.attempted), "ratio"),
      ("driver.gc_ms", gcWindow.toDouble / opSpans.size, "ms"))
    val layer = if (traced) {
      val a = new Analysis(tracer, wl, opSpans.toSeq, tracedOps.toSet, etl)
      out.mkdirs()
      a.writeSpans(new File(out, s"trace-$workload-seed$seed.jsonl"))
      a.printTable()
      a.metrics
    } else Nil

    val stamp = opt.getOrElse("stamp", "{}").stripSuffix("}") +
      (if (opt.getOrElse("stamp", "{}") == "{}") "" else ",") +
      s""""jdk":"${System.getProperty("java.version")}","spark":"${spark.version}","cores":$cores}"""
    val all = e2e ++ named ++ wl.named.filterNot(m => NamedMetrics.exists(_._1 == m._1)) ++ layer
    all.foreach { case (n, v, u) => println(f"metric $n%-42s $v%.6g $u") }
    println(s"stamp $stamp")
    println(s"ops attempted=${ctx.attempted} failed=${ctx.failed} window_ops=${opSpans.size} window_s=${window.seconds}")
    ctx.failures.foreach(f => println(s"failure $f"))
    val reported = if (traced) named ++ layer else e2e
    val metricsJson = reported.map { case (n, v, u) =>
      s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    val result = s"""{"correct": ${ctx.failed == 0}, "attempted": ${ctx.attempted}, "failed": ${ctx.failed}, "metrics": {$metricsJson}}"""
    out.mkdirs()
    val pw = new PrintWriter(new File(out, s"result-$workload-seed$seed-trace${opt("trace")}.json"))
    try pw.println(s"""{"stamp": $stamp, "result": $result}""") finally pw.close()
    spark.stop()
    println(result)
    System.out.flush()
    sys.exit(0)
  }

  /** Ops every window measures, so that every run averages the same
    * stretch of the JVM's warm-up; the window runs past `--seconds`
    * when these take longer. A traced run measures one more, so that
    * its traced op 1 sits between untraced ops 0 and 2. */
  val MinOps = 2

  /** Workload metrics the traced result always carries (0 where the
    * workload has no such operation). */
  val NamedMetrics: Seq[(String, String)] = Seq(
    "week_load_s" -> "s", "quality_load_s" -> "s", "report_page_s" -> "s",
    "week_to_dashboard_s" -> "s", "suite_s" -> "s", "suite_query_p50_s" -> "s",
    "suite_query_p90_s" -> "s")

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else BigDecimal(v).bigDecimal.toPlainString

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime max 0L).sum

  def vmHwmKb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble).getOrElse(0.0)
    finally src.close()
  }

  /** One host-speed reading from the library's own calibration probe. */
  private def calibrate(f: File): Unit = {
    val spark = GraftSession.local(Runtime.getRuntime.availableProcessors())
    spark.sparkContext.setLogLevel("ERROR")
    val (cpu, shuffle) = graft.Bench.calibrate(spark)
    spark.stop()
    val pw = new PrintWriter(f)
    try pw.println(f"""{"cpu_s": $cpu%.3f, "shuffle_s": $shuffle%.3f}""") finally pw.close()
  }

  /** Record row count and digest of every sample query over the corpus. */
  private def recordRefs(bench: File, f: File): Unit = {
    val spark = GraftSession.local(Runtime.getRuntime.availableProcessors())
    spark.sparkContext.setLogLevel("ERROR")
    val corpus = new File(bench, "corpus").getAbsolutePath
    val pw = new PrintWriter(f)
    try {
      pw.println("# query\trows\tdigest (see README: suite checks)")
      Suite.Sample.foreach { q =>
        val rows = graft.SparkEntry.queries(q)(spark, corpus).collect()
        pw.println(s"$q\t${rows.length}\t${Checks.digest(rows)}")
      }
    } finally pw.close()
    spark.stop()
  }
}
