package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR at `local[SPARK_GRAFT_CPUS]` (default nproc) and
  * prints ONE JSON line with per-query and total wall-clock seconds.
  * Both variables are the contract's inputs: a caller compares core
  * counts by running the same build at two SPARK_GRAFT_CPUS values.
  *
  * Methodology:
  *  - Results go to the `noop` sink ([[Runner.noop]]), which
  *    materializes every output column.
  *  - A warmup pass at the SAME scale factor runs each query once so the
  *    timed numbers measure the engine, not Janino codegen + JIT
  *    compilation of each query's generated code (one-time costs that
  *    amortize to zero on a real cluster run). Warmup must use the same
  *    SF because AQE re-plans by runtime stats — a smaller SF compiles
  *    different physical stages. Every run warms up, so every history
  *    line times warm queries.
  *  - All persisted/cached data is dropped between warmup and the timed
  *    pass: queries that build internal indexes (LSH signatures, IVF
  *    cells) register them with the CacheManager, and an identical
  *    logical plan in the timed pass would silently reuse them — the
  *    timed pass must recompute every stage.
  *  - Queries run in sorted-name order for run-to-run comparability;
  *    SPARK_GRAFT_ONLY selects a subset ([[Runner.selected]]).
  *  - The timed pass runs SPARK_GRAFT_ITERS times (default 2) with the
  *    cache cleared between iterations, and each query reports its
  *    MINIMUM. Single-shot timings are hostage to one GC pause or a
  *    transient machine-load spike (observed: the same unchanged
  *    aggregate query measuring 1.0 s and 14.1 s across runs); the
  *    per-iteration cache clear means every iteration still recomputes
  *    every stage, so the min is a legitimate steady-state measure, not
  *    a cache artifact.
  */
object Bench {
  /** The 11 deliberately-exhaustive audit/truth probes (SCALE.md):
    * brute-force ANN truth sides, exact-kernel audit tools, and
    * output-bound pair queries — Θ(corpus × probes) or Θ(Σ cluster²)
    * BY DEFINITION, kept in the suite as recall/truth oracles for the
    * sublinear production substitutes. They cost about half of sf10
    * wall-clock, so decade runs may skip them
    * (SPARK_GRAFT_SKIP_PROBES=1) without losing the audit signal —
    * every line records the production/probe split either way, and
    * the history `skip_probes` flag keeps lines comparable. */
  val probeQueries: Set[String] = Set(
    "nn01_cosine_topk", "nn03_embedding_neardup", "nn05_lsh_recall",
    "nn06_ivf_allprobe", "nn09_adc_recall", "fz02_prefix_jaccard",
    "sd01_semantic_dedup", "dd06_dup_clusters", "bj01_band_join",
    "dd13_best_of_cluster", "sm04_leakage_safe_split")

  /** HOST-MODE CALIBRATION: the host can be bimodal (CPU-dense kernels
    * drift 1.6–2× in a slow ambient mode while scan/shuffle drifts only
    * 1.1–1.2×, with no competing process and nominal clocks), so a
    * suite total alone cannot say whether code or host moved. This
    * runs two fixed DATA-INDEPENDENT probes before any recorded pass —
    * one compute-dense (md5 + base-conv over a range: string alloc +
    * hash loop, the kernel class that drifts hardest), one
    * shuffle-dense (range → 1M-key groupBy → count) — and stamps their
    * min-of-2 seconds into the history line together with the ratio vs
    * the best calibration EVER RECORDED on this host
    * (bench/calib_history.jsonl, append-only). Classification is
    * self-calibrating: the best-known line defines fast mode, so the
    * stamp needs no a-priori constants and tightens as fast-mode
    * sessions append. Rule of thumb: cpu_vs_best ≳ 1.35 is the slow
    * ambient mode; don't chase per-query regressions on such a line.
    * (This comment describes the system;
    * `calibrate` below times the kernels, `calibMode` labels the
    * reading.)
    *
    * Host-mode label for a calibration reading. `cpuR` = this line's
    * cpu_s vs the config's best-ever; `spread` = the config's history
    * max/min cpu_s INCLUDING this line. Compute-dense kernels drift
    * >=1.35x in the slow ambient mode (observed 1.6-2x), <=1.2x is
    * within fast-mode noise. Cold start: until the history
    * at this local[N] has actually spanned both modes (spread >=
    * 1.35), being near best-ever only proves consistency with every
    * prior line — which may ALL be slow — so the label is
    * "near-best-unconfirmed", not "fast". The first genuinely fast
    * session lowers best by >=1.35x, the spread gate opens, and every
    * later line classifies absolutely. */
  def calibMode(cpuR: Double, spread: Double, uncalibrated: Boolean): String =
    if (uncalibrated) "uncalibrated"
    else if (cpuR >= 1.35) "slow"
    else if (cpuR <= 1.2) { if (spread >= 1.35) "fast" else "near-best-unconfirmed" }
    else "mid"

  /** Exit nonzero past this many failed queries, so a cascade (every
    * query failing after a SIGTERM) never reports success, while a rare
    * transient does not abort a long decade pipeline. Mirrored by
    * `scripts/decade_table.py::MAX_ACCEPTED_FAILURES` (BenchContractSpec). */
  val maxAcceptedFailures = 3

  def calibrate(spark: SparkSession): (Double, Double) = {
    import org.apache.spark.sql.functions._
    def cpuJob(n: Long): Unit = spark.range(0, n, 1, 32)
      .select(sum(conv(substring(md5(col("id").cast("string")), 1, 15), 16, 10)
        .cast("decimal(38,0)")).as("s"))
      .head()
    def shuffleJob(n: Long): Unit = spark.range(0, n, 1, 32)
      .groupBy(pmod(col("id") * 2654435761L, lit(1000000L)).as("k"))
      .agg(count(lit(1)).as("c"))
      .agg(sum(col("c")), count(lit(1))).head()
    cpuJob(1000000L); shuffleJob(1000000L) // codegen/JIT warmup, untimed
    (Runner.minOf(3)(())(cpuJob(8000000L))._1,
      Runner.minOf(3)(())(shuffleJob(30000000L))._1)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS")
      .fold(Runtime.getRuntime.availableProcessors())(_.toInt)
    val skipProbes = sys.env.getOrElse("SPARK_GRAFT_SKIP_PROBES", "0") == "1"
    // A full-suite decade run keeps one JVM alive for hours across
    // ~550 query executions, and broadcast/shuffle state is only
    // reclaimed when the DRIVER GCs the referencing objects — with a
    // large quiet heap that can lag by many queries. The default 30min
    // periodic-GC cadence let execution memory starve late in an sf10
    // run (an OOM in a sorter after 2.7 h and ~460 executions). 5min
    // keeps the ContextCleaner fed without touching any timed region
    // (the GC runs on the cleaner's own thread).
    val spark = GraftSession.create(GraftSession.localBuilder(cpus)
      .config("spark.cleaner.periodicGC.interval", "5min"))
    spark.sparkContext.setLogLevel("WARN")

    // Host-mode stamp, taken BEFORE warmup so it reads the same ambient
    // state the recorded passes will run under. Every run takes it, so
    // every history line carries one.
    val calibJson = {
      val (cpuS, shufS) = calibrate(spark)
      val histPath = java.nio.file.Paths.get("bench/calib_history.jsonl")
      // best-ever is only meaningful within one local[N] config: the
      // kernels use fixed work sizes, so a local[4] line would read
      // as "4x slow mode" against a local[32] best
      def priorVals(key: String): Seq[Double] =
        if (!java.nio.file.Files.exists(histPath)) Seq.empty
        else {
          val re = (s""""$key":([0-9.]+)""").r
          scala.jdk.CollectionConverters
            .ListHasAsScala(java.nio.file.Files.readAllLines(histPath)).asScala
            .filter(_.contains(s""""cpus":$cpus"""))
            .flatMap(l => re.findFirstMatchIn(l).map(_.group(1).toDouble))
            .toSeq
        }
      def priorBest(key: String): Option[Double] = {
        val vs = priorVals(key); if (vs.isEmpty) None else Some(vs.min)
      }
      def priorWorst(key: String): Option[Double] = {
        val vs = priorVals(key); if (vs.isEmpty) None else Some(vs.max)
      }
      val cpuBest = priorBest("cpu_s").fold(cpuS)(math.min(_, cpuS))
      val shufBest = priorBest("shuffle_s").fold(shufS)(math.min(_, shufS))
      val uncalibrated = priorBest("cpu_s").isEmpty
      val cpuR = cpuS / cpuBest
      val shufR = shufS / shufBest
      // Spread of the config's full calib history (incl. this line):
      // max/min cpu_s. Until the history has SEEN both host modes at
      // this local[N] (spread >= the 1.35x slow threshold), "near
      // best-ever" is not evidence of fast mode — the best-ever line
      // may itself be a slow-mode reading.
      val cpuWorst = priorWorst("cpu_s").fold(cpuS)(math.max(_, cpuS))
      val spread = cpuWorst / cpuBest
      val mode = Bench.calibMode(cpuR, spread, uncalibrated)
      Runner.appendLine(histPath.toString,
        f"""{"cpu_s":$cpuS%.3f,"shuffle_s":$shufS%.3f,"cpus":$cpus,"ts":"${java.time.Instant.now()}"}""")
      System.err.println(
        f"[bench] calib cpu=$cpuS%.2fs (${cpuR}%.2fx best) shuffle=$shufS%.2fs (${shufR}%.2fx best) mode=$mode")
      f""","calib":{"cpu_s":$cpuS%.3f,"shuffle_s":$shufS%.3f,"cpu_vs_best":$cpuR%.2f,"shuffle_vs_best":$shufR%.2f,"mode":"$mode"}"""
    }

    // Corpus fingerprint (relative path + size of every file under
    // sfDir, sorted, md5'd): scale corpora are rebuilt artifacts shared
    // across rounds, and two history lines are only comparable if they
    // ran the SAME corpus build — the id makes a silent rebuild (or an
    // accidental write-through by a query, checked again after the
    // timed passes) detectable from the history line alone.
    def corpusFingerprint(dir: String): (String, Long, Long) = {
      val root = java.nio.file.Paths.get(dir)
      val files = {
        val s = java.nio.file.Files.walk(root)
        try scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator())
          .asScala
          .filter(java.nio.file.Files.isRegularFile(_))
          .map(p => root.relativize(p).toString -> java.nio.file.Files.size(p))
          .toSeq.sortBy(_._1)
        finally s.close()
      }
      val md = java.security.MessageDigest.getInstance("MD5")
      files.foreach { case (p, sz) => md.update(s"$p:$sz\n".getBytes("UTF-8")) }
      (md.digest().take(4).map("%02x".format(_)).mkString,
        files.size.toLong, files.map(_._2).sum)
    }
    val (corpusId, corpusFiles, corpusBytes) = corpusFingerprint(sfDir)
    val queries = Runner.selected
      .filter { case (name, _) => !(skipProbes && probeQueries.contains(name)) }
    // Per-query progress lines to stderr in EVERY pass (incl. warmup):
    // a query that hangs or dies at a big SF must be identifiable from
    // the live log, not reconstructed from stage numbers after the
    // fact (an sf10 warmup query once ran 58 min and died on a spilled
    // sort with nothing in the log naming it).
    def progress(tag: String, name: String, secs: Double, ok: Boolean): Unit =
      System.err.println(f"[bench] $tag $name ${secs}%.1f s${if (ok) "" else " FAILED"}")
    // Any pass that throws tees the exception CLASS + full stack to a
    // file under bench/logs/, named in the live log and (for timed
    // passes) referenced from the history line: a rare transient must
    // be diagnosable from the record alone, even when the run's stderr
    // went to an uncaptured console.
    val runStamp = java.time.Instant.now().toString.replaceAll("[:.]", "-")
    def logFailure(tag: String, name: String, e: Throwable): String = {
      val path = java.nio.file.Paths.get(s"bench/logs/${runStamp}_${name}_$tag.log")
      try {
        java.nio.file.Files.createDirectories(path.getParent)
        val sw = new java.io.StringWriter()
        e.printStackTrace(new java.io.PrintWriter(sw))
        java.nio.file.Files.writeString(path,
          s"query=$name tag=$tag sf=$sfDir ts=${java.time.Instant.now()}\n" +
          s"class=${e.getClass.getName}\nmessage=${e.getMessage}\n\n$sw")
      } catch { case w: Throwable =>
        System.err.println(s"[bench] failure-log write failed: ${w.getMessage}")
      }
      path.toString
    }
    queries.foreach { case (name, fn) =>
      val (secs, ok) = Runner.timed {
        try { Runner.noop(fn(spark, sfDir)); true } catch {
          case e: Throwable => logFailure("warmup", name, e); false
        }
      }
      progress("warmup", name, secs, ok)
    }
    Runner.reset(spark)
    // PER-QUERY TASK/STAGE/JOB COUNTS: task counts are the parallelism
    // evidence wall-clock can't give at a scheduler-floor-bound sf — a
    // query whose stages carry N tasks at local[N] IS data-parallel and
    // merely floor-bound, while a query stuck at 1 task per stage is
    // genuinely serial. Counters ride a listener; deltas are
    // snapshotted OUTSIDE the timed region (the bus drains before t0
    // and after secs is taken).
    val taskCounter = new java.util.concurrent.atomic.AtomicLong(0)
    val stageCounter = new java.util.concurrent.atomic.AtomicLong(0)
    val jobCounter = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        taskCounter.incrementAndGet(); ()
      }
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        stageCounter.incrementAndGet(); ()
      }
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        jobCounter.incrementAndGet(); ()
      }
    })
    // name -> (tasks, stages, jobs) of the LAST successful timed pass
    // (plans are deterministic per SF/cpus; AQE variation across passes
    // is noise-level, and any pass answers the serial-vs-floor question)
    val counts = scala.collection.mutable.LinkedHashMap.empty[String, (Long, Long, Long)]
    // a failing query must NOT vanish into a near-zero time: failures
    // are counted and named in the JSON so the bench can't silently
    // understate while masking breakage
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    // name -> (exception class, stack-log path) of the FIRST failing
    // pass, for the history line
    val failedDetail = scala.collection.mutable.LinkedHashMap.empty[String, (String, String)]
    // One timed execution of one query. The counter snapshots bracket
    // the timed window but execute outside it (drain-then-read before
    // t0, after secs), so they never change the timed seconds.
    def timedOne(it: Int, name: String,
                 fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (String, (Double, Boolean)) = {
      org.apache.spark.sql.graftbridge.GraftSqlBridge.drainListenerBus(spark)
      val (tk0, st0, jb0) = (taskCounter.get(), stageCounter.get(), jobCounter.get())
      val (secs, ok) = Runner.timed {
        try { Runner.noop(fn(spark, sfDir)); true }
        catch { case e: Throwable =>
          val log = logFailure(s"pass$it", name, e)
          failed += name
          if (!failedDetail.contains(name))
            failedDetail(name) = (e.getClass.getName, log)
          System.err.println(
            s"[bench] $name FAILED: ${e.getClass.getName}: ${e.getMessage} (stack: $log)")
          false
        }
      }
      if (ok) {
        org.apache.spark.sql.graftbridge.GraftSqlBridge.drainListenerBus(spark)
        counts(name) = (taskCounter.get() - tk0,
          stageCounter.get() - st0, jobCounter.get() - jb0)
      }
      progress(s"pass$it", name, secs, ok)
      name -> (secs, ok)
    }
    val passes = (1 to Runner.iters).map { it =>
      val pass = queries.map { case (name, fn) => timedOne(it, name, fn) }
      Runner.reset(spark)
      pass
    }
    // min across SUCCESSFUL iterations only: failures typically abort
    // fast, and letting a near-zero failing time win the min would
    // understate a query that also succeeded slowly in another pass.
    // Only a query that failed in every pass reports a failing time.
    val results = queries.map { case (name, _) =>
      val times = passes.map(_.toMap.apply(name))
      val okTimes = times.collect { case (t, true) => t }
      name -> (if (okTimes.nonEmpty) okTimes.min else times.map(_._1).min)
    }
    val total = results.map(_._2).sum
    // production/probe split: the 11 truth probes are Θ(output) by
    // definition and cost ~half of sf10 wall-clock; every line carries
    // both components so decade tables can track the production paths'
    // scaling without losing the audit signal.
    val probeTotal = results.collect {
      case (n, t) if probeQueries.contains(n) => t }.sum
    val prodTotal = total - probeTotal
    def r3(v: Double): String = f"$v%.3f"
    // Per-family subtotals (family = leading alpha prefix of the query
    // name): the unit at which cross-round drift is attributable —
    // "new heavy family" vs "old family got slower" — checked against
    // the committed budgets below.
    val families = results
      .groupBy { case (name, _) => name.takeWhile(_.isLetter) }
      .map { case (f, rs) => f -> rs.map(_._2).sum }
      .toSeq.sortBy(-_._2)
    // Budget check (bench/family_budgets.tsv, committed): WARN — never
    // fail — when a family's subtotal exits its recorded band by 2×
    // (with a +1 s floor so scheduler-floor families don't trip on
    // ambient ±30% single-run variance), or when a family is new.
    // Budgets are recorded at one SF and only checked at that SF.
    val budgetsPath = java.nio.file.Paths.get("bench/family_budgets.tsv")
    // Subset runs (SPARK_GRAFT_ONLY, for targeted scale decades) and
    // skip-probes runs are partial within their families, whose
    // subtotals would trip the bands spuriously.
    if (Runner.only.isEmpty && !skipProbes && java.nio.file.Files.exists(budgetsPath)) {
      val lines = scala.jdk.CollectionConverters
        .ListHasAsScala(java.nio.file.Files.readAllLines(budgetsPath)).asScala
      val budgetSf = lines.collectFirst {
        case l if l.startsWith("#sf=") => l.stripPrefix("#sf=") }
      if (budgetSf.exists(sfDir.endsWith)) {
        val budgets = lines.filterNot(_.startsWith("#")).flatMap { l =>
          l.split('\t') match {
            case Array(f, v) => Some(f -> v.toDouble)
            case _ => None
          }
        }.toMap
        families.foreach { case (f, t) =>
          budgets.get(f) match {
            case None => System.err.println(
              f"[bench] WARN family '$f' ($t%.2f s) has no recorded budget - add it to bench/family_budgets.tsv")
            case Some(b) if t > math.max(2 * b, b + 1.0) => System.err.println(
              f"[bench] WARN family '$f' subtotal $t%.2f s exceeds 2x its recorded budget $b%.2f s - regression or a grown family; investigate, then re-record")
            case _ => ()
          }
        }
      }
    }
    // The printed line must survive a tail-capture of the run log (a
    // full per-query map once exceeded it and failed to parse), so it
    // carries the slowest 30 queries; the complete per-query map +
    // family subtotals go to target/bench_full.json AND are appended to
    // the committed bench/history.jsonl, the per-query history.
    val top = results.sortBy(-_._2).take(30)
      .map { case (k, v) => "\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    val all = results.map { case (k, v) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    // scaling evidence: per-query task counts for the
    // printed line's top-30 set, full tasks/stages/jobs maps in
    // bench_full.json/history. ADDITIVE — no existing key changes.
    val topKeys = results.sortBy(-_._2).take(30).map(_._1).toSet
    def countJson(sel: ((Long, Long, Long)) => Long, keys: String => Boolean) =
      counts.collect { case (k, c) if keys(k) => "\"" + k + "\":" + sel(c) }
        .mkString("{", ",", "}")
    val tasksTopJson =
      if (counts.isEmpty) ""
      else s""","tasks":${countJson(_._1, topKeys.contains)}"""
    val countsFullJson =
      if (counts.isEmpty) ""
      else s""","tasks":${countJson(_._1, _ => true)}""" +
        s""","stages":${countJson(_._2, _ => true)}""" +
        s""","jobs":${countJson(_._3, _ => true)}"""
    val famJson = families.map { case (k, v) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val stamp = java.time.Instant.now().toString
    // Subset runs (SPARK_GRAFT_ONLY) are recorded WITH their
    // selector, so a partial total is explicit and filterable in
    // history.jsonl. "iters" records the min-of-N discipline the number
    // was taken under (single-pass and min-of-2 totals are not
    // comparable on a bimodal host). "cpus" is on every line: lines
    // from different local[N] configs are different populations.
    val onlyJson = Runner.only.map(_.map("\"" + _ + "\"").mkString(",\"only\":[", ",", "]")).getOrElse("")
    // Read-only-corpus gate: the fingerprint recomputed AFTER the timed
    // passes must equal the start-of-run one — the sf corpora are shared
    // across rounds, and a query that writes through into the corpus dir
    // would silently corrupt every later decade measurement. A dirty
    // corpus is recorded in the history line and fails the process.
    val (corpusIdAfter, _, _) = corpusFingerprint(sfDir)
    val corpusDirty = corpusIdAfter != corpusId
    if (corpusDirty) System.err.println(
      s"[bench] ERROR corpus dir $sfDir was MODIFIED during the run " +
        s"($corpusId -> $corpusIdAfter) - a query wrote through into the corpus")
    val corpusJson =
      s""","corpus":{"id":"$corpusId","files":$corpusFiles,"bytes":$corpusBytes,"dirty":$corpusDirty}"""
    val splitJson =
      s""","total_production":${r3(prodTotal)},"total_probe":${r3(probeTotal)},"skip_probes":$skipProbes"""
    val failedDetailJson = failedDetail.map { case (n, (cls, log)) =>
      s""""$n":{"class":"$cls","log":"$log"}""" }.mkString(",\"failed_detail\":{", ",", "}")
    val fullLine =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","ts":"$stamp","iters":${Runner.iters}$onlyJson$splitJson,"cpus":$cpus$calibJson,"n_queries":${results.size},"n_failed":${failed.size},"failed":$failedJson$failedDetailJson,"families":$famJson,"queries":$all$countsFullJson$corpusJson,"sf":"$sfDir"}"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("target/bench_full.json"), fullLine)
    Runner.appendLine("bench/history.jsonl", fullLine)
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","iters":${Runner.iters}$onlyJson$splitJson,"n_queries":${results.size},"n_failed":${failed.size},"failed":$failedJson,"queries":$top$tasksTopJson,"sf":"$sfDir"}""")
    spark.stop()
    if (corpusDirty) sys.exit(1)
    if (failed.size > maxAcceptedFailures) {
      System.err.println(
        s"[bench] ${failed.size} queries failed (> $maxAcceptedFailures allowed) - exiting nonzero")
      sys.exit(2)
    }
  }
}
