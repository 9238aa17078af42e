package graft

/** Streaming-ingest throughput ladder (VERDICT r15 #7): batch ingest
  * has a two-decade rows/sec ladder in bench/ingest_history.jsonl;
  * the STREAMING ingest paths (`StreamingIngest.firstWinsIngestStream`
  * / `latestWinsIngestStream`) have exact stream==batch parity specs
  * but no recorded throughput. This measures the end-to-end
  * micro-batch rate: the events table of each given sfDir is streamed
  * file-by-file (`maxFilesPerTrigger=1`, so the run exercises the real
  * multi-batch state-merge path, not one giant batch) through BOTH
  * kernels with `Trigger.AvailableNow`, and rows/sec = input rows /
  * wall-clock to stream completion.
  *
  * Methodology notes:
  *  - Output, state, and checkpoints go to a temp dir wiped per run —
  *    each measurement starts from batch 0 (a resumed checkpoint would
  *    measure a no-op).
  *  - The measured region includes ALL streaming machinery: source
  *    listing, per-batch planning, state read/merge/commit
  *    (_SUCCESS-gated generations for latest-wins), and the parquet
  *    sink — the number a capacity plan actually needs.
  *  - Results append to bench/ingest_history.jsonl and never to
  *    history.jsonl (query-suite tooling must not see ingest lines).
  *
  * Usage: `runMain graft.StreamIngestBench [sfDir ...]` (default:
  * sf0.01 → sf0.1, one decade on input rows), at `local[nproc]`.
  * Env: SPARK_GRAFT_ITERS (default 2, min-of-N per point).
  */
object StreamIngestBench {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")
    val missing = dirs.filterNot(d => java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(d)))
    require(missing.isEmpty, s"missing input dir(s): ${missing.mkString(", ")}")
    val cpus = Runtime.getRuntime.availableProcessors()
    val iters = sys.env.getOrElse("SPARK_GRAFT_ITERS", "2").toInt.max(1)
    val spark = GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("WARN")

    def wipe(p: java.nio.file.Path): Unit = if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      val w = java.nio.file.Files.walk(p)
      val paths = try w.iterator().asScala.toSeq.sortBy(-_.getNameCount)
        finally w.close()
      paths.foreach(java.nio.file.Files.deleteIfExists(_))
    }

    val points = dirs.map { sfDir =>
      // stage the events table into an 8-file directory OUTSIDE the
      // timed region: the testdata ships events.parquet as a single
      // FILE (the file-stream source needs a directory), and staging
      // through Tables.events applies the ts normalization the raw
      // file must never skip (TESTDATA gotcha). 8 files +
      // maxFilesPerTrigger=1 → 8 real micro-batches per run.
      val work = java.nio.file.Paths.get("target/stream_ingest_bench")
      val stage = work.resolve("src").toString
      wipe(work)
      Tables.events(spark, sfDir).repartition(8)
        .write.mode("overwrite").parquet(stage)
      val schema = spark.read.parquet(stage).schema
      val inputRows = spark.read.parquet(stage).count()

      def timeKernel(kernel: String): (Double, Long) = {
        var best = Double.MaxValue
        var outRows = 0L
        for (_ <- 1 to iters) {
          wipe(work.resolve(kernel))
          wipe(work.resolve("_checkpoints"))
          val out = work.resolve(kernel).toString
          val stream = spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1").parquet(stage)
          val t0 = System.nanoTime()
          val q = kernel match {
            case "first_wins" =>
              graft.streaming.StreamingIngest.firstWinsIngestStream(
                stream, Seq("user_id"), "event_id", out)
            case "latest_wins" =>
              graft.streaming.StreamingIngest.latestWinsIngestStream(
                stream, Seq("user_id"), "ts", "event_id", out)
          }
          q.awaitTermination()
          best = math.min(best, (System.nanoTime() - t0) / 1e9)
          outRows = kernel match {
            case "first_wins" => spark.read.parquet(out).count()
            case "latest_wins" =>
              graft.streaming.StreamingIngest.currentAggState(spark, out)
                .map(_.count()).getOrElse(0L)
          }
        }
        (best, outRows)
      }

      val results = Seq("first_wins", "latest_wins").map { kernel =>
        val (secs, outRows) = timeKernel(kernel)
        // cpus in the line: rows/s from different local[N] configs are
        // different populations (the calib-stamp lesson) — a reader
        // comparing ladder points must be able to see the config.
        val line = f"""{"metric":"stream_ingest_rows_per_sec","kernel":"$kernel","value":${inputRows / secs}%.0f,"input_rows":$inputRows,"out_rows":$outRows,"sec":$secs%.2f,"iters":$iters,"cpus":$cpus,"ts":"${java.time.Instant.now()}","src":"$sfDir"}"""
        println(line)
        try {
          java.nio.file.Files.createDirectories(java.nio.file.Paths.get("bench"))
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get("bench/ingest_history.jsonl"), line + "\n",
            java.nio.file.StandardOpenOption.CREATE,
            java.nio.file.StandardOpenOption.APPEND)
        } catch { case e: Throwable =>
          System.err.println(s"[stream-bench] history append failed: ${e.getMessage}")
        }
        kernel -> secs
      }
      wipe(work)
      (sfDir, inputRows, results.toMap)
    }
    // decade exponents between consecutive points, per kernel
    points.sliding(2).foreach {
      case Seq((dA, rA, tA), (dB, rB, tB)) if rA > 0 =>
        val decades = math.log10(rB.toDouble / rA)
        if (decades > 0.1) tA.keys.foreach { k =>
          val e = math.log10(tB(k) / tA(k)) / decades
          println(f"""{"metric":"stream_ingest_decade_exponent","kernel":"$k","value":$e%.2f,"from":"$dA","to":"$dB"}""")
        }
      case _ => ()
    }
    spark.stop()
  }
}
