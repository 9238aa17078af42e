package graft.streaming

import graft.{SparkSpec, Tables}
import graft.events.Sessions
import graft.queries.TextQueries
import graft.text.{CurationPipeline, Repetition, TextDedup, TextFunctions}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import java.nio.file.{Files, Paths}

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private lazy val stagingDir = {
    val d = tempDir("stream")
    // stage events (with proper µs timestamps) as the stream source
    Tables.events(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$d/events")
    d
  }

  private def eventsSchema = Tables.events(spark, sfDir).schema

  /** Run `op` on each micro-batch of `stream`, appending its output
    * to `outDir`: how a per-batch batch operator runs on a stream. */
  private def foreachBatchTo(stream: DataFrame, outDir: String)(op: DataFrame => DataFrame): Unit =
    stream.writeStream.trigger(Trigger.AvailableNow())
      .foreachBatch((b: DataFrame, _: Long) => op(b).write.mode("append").parquet(outDir))
      .start().awaitTermination()

  test("streaming sessionization agrees with batch session counts") {
    val stream = spark.readStream.schema(eventsSchema).parquet(s"$stagingDir/events")
    val sessions = Sessions.sessionWindowAgg(stream.withWatermark("ts", "0 seconds"), 1800)
    val got = runToMemory(sessions, "stream_sessions", OutputMode.Complete())
      .groupBy("user_id").agg(count(lit(1)).as("n_sessions"))
    val want = Sessions.sessionCounts(Tables.events(spark, sfDir), 1800)
    assert(got.join(want, Seq("user_id"))
      .filter(got("n_sessions") =!= want("n_sessions")).count() == 0)
    assert(got.count() == want.count())
  }

  test("stateful flatMapGroupsWithState: final per-user totals match batch") {
    import spark.implicits._
    val stream = spark.readStream.schema(eventsSchema).parquet(s"$stagingDir/events")
      .select(col("user_id"), col("value")).as[UserEvent]
    val totals = StreamingIngest.runningUserTotals(stream)
    val got = runToMemory(totals.toDF(), "stream_totals")
      // Append mode emits one row per state update; last per user is final
      .groupBy("user_id").agg(max(col("n_events")).as("n_events"))
    val want = Tables.events(spark, sfDir).groupBy("user_id")
      .agg(count(lit(1)).as("n_events"))
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
  }

  test("streaming curation counts equal the batch filter stage exactly") {
    val docsDir = s"$stagingDir/curation_documents"
    // the corpus passes whole, so a few Spanish and too-short copies of
    // its rows give the two reject buckets members
    val corpus = Tables.documents(spark, sfDir)
    def copies(text: String, offset: Long) = corpus.orderBy("doc_id").limit(3)
      .withColumn("doc_id", col("doc_id") + offset).withColumn("text", lit(text))
    val docs = corpus
      .unionByName(copies("el gato la casa los perros que vive el rio la luna el sol", 1000000L))
      .unionByName(copies("x y", 2000000L))
    docs.coalesce(1).write.mode("overwrite").parquet(docsDir)
    def counts(docs: DataFrame) = CurationPipeline.filterStage(docs)
      .groupBy("source", "bucket").agg(count(lit(1)).as("n"))
    val stream = spark.readStream.schema(docs.schema).parquet(docsDir)
    val got = runToMemory(counts(stream), "stream_curation", OutputMode.Complete())
    val want = counts(docs)
    assert(want.select("bucket").distinct().as[String].collect().toSet ==
      Set("lang_filtered", "low_quality", "passing"))
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
  }

  test("streaming PII scrub equals the batch redaction exactly") {
    val docsDir = s"$stagingDir/documents"
    Tables.documents(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(docsDir)
    val schema = Tables.documents(spark, sfDir).schema
    // pii01's operator on pii01's input
    def scrub(docs: DataFrame) = TextFunctions.redactPii(TextQueries.piiInput(docs))
    val stream = spark.readStream.schema(schema).parquet(docsDir)
    val got = runToMemory(scrub(stream), "stream_redact")
    val want = scrub(Tables.documents(spark, sfDir))
    assert(got.agg(org.apache.spark.sql.functions.sum(col("n_pii")))
      .head().getLong(0) > 0, "pattern must actually match")
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
  }

  test("streaming decontamination equals the batch gram-overlap counts") {
    val docsDir = s"$stagingDir/documents"
    Tables.documents(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(docsDir)
    val schema = Tables.documents(spark, sfDir).schema
    val batch = Tables.documents(spark, sfDir)
    val bench = batch.filter(col("doc_id") % 97 === 0)
    val stream = spark.readStream.schema(schema).parquet(docsDir)
    val got = runToMemory(TextDedup.sharedGramCounts(stream, bench, k = 3),
      "stream_decontam", OutputMode.Complete())
    val want = TextDedup.sharedGramCounts(batch, bench, k = 3)
    assert(want.count() > 0, "benchmark grams must hit on this corpus")
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
  }

  test("stream-stream interval join equals the batch join exactly") {
    def sides(df: org.apache.spark.sql.DataFrame) = (
      df.filter(col("event_type") === "signup").select("user_id", "ts", "event_id"),
      df.filter(col("event_type") === "purchase").select("user_id", "ts", "event_id"))
    val stream = spark.readStream.schema(eventsSchema).parquet(s"$stagingDir/events")
    val (ss, sp) = sides(stream)
    val got = runToMemory(
      StreamingIngest.intervalJoin(ss, sp, "user_id", "ts", "ts", "0 seconds", "7 days")
        .select("user_id", "event_id", "r_event_id"),
      "stream_interval_join")
    // batch side: the plain interval join, spelled independently
    val (bs, bp) = sides(Tables.events(spark, sfDir))
    val want = bs.join(bp.select(col("user_id"), col("ts").as("r_ts"),
        col("event_id").as("r_event_id")), "user_id")
      .filter(expr("r_ts BETWEEN ts AND ts + INTERVAL 7 days"))
      .select("user_id", "event_id", "r_event_id")
    assert(got.count() > 0, "join must produce matches on this corpus")
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
  }

  test("streaming repetition signals equal the batch operator exactly") {
    val docsDir = s"$stagingDir/documents_rp"
    // several source files + maxFilesPerTrigger=1 forces MULTIPLE
    // micro-batches, proving parity doesn't depend on one-batch luck
    Tables.documents(spark, sfDir).repartition(4)
      .write.mode("overwrite").parquet(docsDir)
    val schema = Tables.documents(spark, sfDir).schema
    val outDir = s"$stagingDir/out_rp"
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(docsDir)
    foreachBatchTo(stream, outDir)(Repetition.repetitionStats)
    val got = spark.read.parquet(outDir)
    val want = Repetition.repetitionStats(Tables.documents(spark, sfDir))
    assert(got.count() == want.count() && want.count() > 0)
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
  }

  test("streaming MV maintenance: incremental state equals batch aggregate exactly") {
    import graft.etl.IncrementalAgg
    val srcDir = s"$stagingDir/events_mv"
    // 4 source files + maxFilesPerTrigger=1 → 4 merge rounds: parity
    // must come from the algebra, not from one-batch luck
    Tables.events(spark, sfDir).repartition(4)
      .write.mode("overwrite").parquet(srcDir)
    val stateDir = s"$stagingDir/state_mv"
    val stream = spark.readStream.schema(eventsSchema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    val q = StreamingIngest.maintainAggState(
      stream, Seq("event_type"), "value", stateDir)
    q.awaitTermination()
    val got = IncrementalAgg.result(
      StreamingIngest.currentAggState(spark, stateDir).get)
    val want = IncrementalAgg.result(
      IncrementalAgg.state(Tables.events(spark, sfDir), Seq("event_type"), "value"))
    assert(got.count() == want.count() && want.count() > 0)
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
    // multi-batch actually happened and old generations were pruned
    val gens = new java.io.File(stateDir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("gen-"))
      .map(_.getName.stripPrefix("gen-").toLong)
    assert(gens.max >= 3, "expected one generation per micro-batch")
    assert(gens.length <= 2, "older generations should be pruned")
  }

  test("end-to-end streaming HHS ingest equals the batch warehouse load on the same files") {
    import graft.warehouse.{HhsPipeline, Schemas}
    val dir = s"$stagingDir/hhs_e2e"
    val srcDir = s"$dir/src"
    Files.createDirectories(Paths.get(srcDir))
    val header = Schemas.hhsRawCsv.fieldNames.mkString(",")
    def row(pk: String, name: String, week: String, v: String) =
      s"$pk,$name,PA,1 Main St,Pittsburgh,15213,42003,POINT (-79 40),$week," +
        Seq.fill(8)(v).mkString(",")
    // seed: warehouse already contains hospital S and its 01-06 bed row
    val seedCsv = s"$dir/seed.csv"
    Files.writeString(Paths.get(seedCsv),
      Seq(header, row("S", "Seed", "2023-01-06", "1.0")).mkString("\n"))
    // file 1: valid A, an invalid negative metric (R1), a within-file
    //   duplicate of A (identical payload), and seed-dup S
    Files.writeString(Paths.get(s"$srcDir/1.csv"), Seq(header,
      row("A", "Alpha", "2023-01-06", "10.0"),
      row("R1", "Reject", "2023-01-06", "-5.0"),
      row("A", "Alpha", "2023-01-06", "10.0"),
      row("S", "Seed", "2023-01-06", "1.0")).mkString("\n"))
    // file 2 (second micro-batch): cross-batch duplicate of A, a new
    //   week for A (bed row appends, hospital must not), new hospital C,
    //   and a null-name reject
    Files.writeString(Paths.get(s"$srcDir/2.csv"), Seq(header,
      row("A", "Alpha", "2023-01-06", "10.0"),
      row("A", "Alpha", "2023-01-13", "12.0"),
      row("C", "Gamma", "2023-01-13", "30.0"),
      row("R2", "", "2023-01-13", "7.0")).mkString("\n"))

    // identical seed state in both warehouses, via the batch pipeline
    def seed(wh: String): Unit = HhsPipeline.load(spark, seedCsv, wh, s"$dir/seed_rejects")
    val whStream = s"$dir/wh_stream"; val whBatch = s"$dir/wh_batch"
    seed(whStream); seed(whBatch)

    // STREAM: 2 micro-batches through clean → split → watermarked dedup
    // → per-batch anti-join appends
    val (validQ, rejectQ) = StreamingIngest.hhsIngestStream(
      spark, srcDir, whStream, s"$dir/rejects_stream")
    validQ.awaitTermination(); rejectQ.awaitTermination()

    // BATCH: same files in one load against the same seed state
    HhsPipeline.load(spark, srcDir, whBatch, s"$dir/rejects_batch")

    def tbl(wh: String, t: String) =
      spark.read.parquet(s"$wh/$t").collect().map(_.toSeq).toSet
    Seq("hospitals", "hospital_locations", "hospital_bed_information")
      .foreach { t =>
        assert(tbl(whStream, t) == tbl(whBatch, t),
          s"stream != batch on $t:\nstream=${tbl(whStream, t)}\nbatch=${tbl(whBatch, t)}")
      }
    // rejects: both CSVs carry the same rows with the same reasons
    def rejects(path: String) =
      spark.read.option("header", "true").csv(path)
        .select("hospital_pk", "reject_reason").collect().map(_.toSeq).toSet
    assert(rejects(s"$dir/rejects_stream/hhs") == rejects(s"$dir/rejects_batch/hhs"))
    assert(rejects(s"$dir/rejects_batch/hhs").map(_.head) == Set("R1", "R2"))
  }

  test("streaming CMS maintenance: merged per-batch sketches equal the batch blob bit-for-bit") {
    import graft.sketch.CountMin
    val docsDir = s"$stagingDir/documents_cms"
    // 4 source files + maxFilesPerTrigger=1 → 4 blob additions: the
    // linearity claim (CMS(A ⊎ B) == CMS(A) + CMS(B)) must hold
    // across real micro-batch boundaries, not one lucky batch
    Tables.documents(spark, sfDir).repartition(4)
      .write.mode("overwrite").parquet(docsDir)
    val stateDir = s"$stagingDir/state_cms"
    val schema = Tables.documents(spark, sfDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(docsDir)
      .select(explode(graft.text.TextFunctions.tokens(col("text"))).as("token"))
      .select(xxhash64(col("token")).as("k"))
    val q = StreamingIngest.maintainSketchState(
      stream, "k", depth = 4, width = 8192, stateDir)
    q.awaitTermination()
    val got = StreamingIngest.currentAggState(spark, stateDir).get
      .head().getAs[Array[Byte]]("blob")
    val toks = Tables.documents(spark, sfDir)
      .select(explode(graft.text.TextFunctions.tokens(col("text"))).as("token"))
    val want = toks
      .agg(CountMin.cm_agg(xxhash64(col("token")), 4, 8192).as("blob"))
      .head().getAs[Array[Byte]]("blob")
    assert(got.length == want.length && got.sameElements(want),
      "incrementally merged CMS blob != whole-corpus blob")
    // and the served estimates carry the one-sided guarantee
    val top = toks.groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token")).limit(10)
      .as[(String, Long)].collect()
    top.foreach { case (t, n) =>
      // hash via a DataFrame literal, not interpolated SQL text: a
      // token containing a backslash would go through SQL escape
      // parsing and hash differently from the raw stream value
      val est = CountMin.estimate(got, 4,
        toks.sparkSession.range(1).select(xxhash64(lit(t))).head().getLong(0))
      assert(est >= n, s"CMS estimate $est < exact $n for '$t'")
    }
  }

  test("blob state dirs are pinned to one sketch geometry: changed params fail fast") {
    val docsDir = s"$stagingDir/documents_geom"
    Tables.documents(spark, sfDir).limit(10).coalesce(1)
      .write.mode("overwrite").parquet(docsDir)
    val stateDir = s"$stagingDir/state_geom"
    val schema = spark.read.parquet(docsDir).schema
    def stream = spark.readStream.schema(schema).parquet(docsDir)
      .select(xxhash64(col("text")).as("k"))
    val q = StreamingIngest.maintainSketchState(
      stream, "k", depth = 4, width = 8192, stateDir)
    q.awaitTermination()
    // same byte length (8*4096 == 4*8192), different geometry: without
    // the pin this would merge into a silently corrupted sketch
    val e = intercept[IllegalArgumentException] {
      StreamingIngest.maintainSketchState(
        stream, "k", depth = 8, width = 4096, stateDir)
    }
    assert(e.getMessage.contains("pinned to geometry"))
    // and the original geometry keeps working (idempotent pin)
    val q2 = StreamingIngest.maintainSketchState(
      stream, "k", depth = 4, width = 8192, stateDir)
    q2.awaitTermination()
  }

  test("streaming Bloom maintenance: OR-merged filter equals the batch filter bit-for-bit") {
    import graft.sketch.Bloom
    val docsDir = s"$stagingDir/documents_bloom"
    Tables.documents(spark, sfDir).repartition(4)
      .write.mode("overwrite").parquet(docsDir)
    val stateDir = s"$stagingDir/state_bloom"
    val schema = Tables.documents(spark, sfDir).schema
    // the dc02 shape fed incrementally: a blocklist/benchmark feed of
    // doc fingerprints maintains the decontamination filter
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(docsDir)
      .select(xxhash64(col("text")).as("k"))
    val q = StreamingIngest.maintainBloomState(
      stream, "k", numBits = 1 << 16, k = 5, stateDir)
    q.awaitTermination()
    val got = StreamingIngest.currentAggState(spark, stateDir).get
      .head().getAs[Array[Byte]]("blob")
    val want = Tables.documents(spark, sfDir)
      .agg(Bloom.bloom_agg(xxhash64(col("text")), 1 << 16, 5).as("blob"))
      .head().getAs[Array[Byte]]("blob")
    assert(got.length == want.length && got.sameElements(want),
      "incrementally OR-merged Bloom blob != whole-corpus blob")
    // served membership keeps the no-false-negative guarantee
    val keys = Tables.documents(spark, sfDir)
      .select(xxhash64(col("text")).as("k")).limit(50).as[Long].collect()
    keys.foreach(k => assert(Bloom.mightContain(got, 5, k),
      s"inserted key $k probes false"))
  }

  test("streaming presence maintenance reproduces the rolling-actives dashboard exactly") {
    val srcDir = s"$stagingDir/events_wa"
    // 4 source files + maxFilesPerTrigger=1 → 4 incremental merges
    Tables.events(spark, sfDir).repartition(4)
      .write.mode("overwrite").parquet(srcDir)
    val stateDir = s"$stagingDir/state_wa"
    // the maintained state IS wa01's presence table: distinct
    // (day, user) keys accumulate across micro-batches (re-observing
    // a pair just bumps its count — key set unchanged), so the
    // dashboard recomputes from state without re-reading history
    val stream = spark.readStream.schema(eventsSchema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
      .select(to_date(col("ts")).as("day"), col("user_id"), lit(1L).as("one"))
    val q = StreamingIngest.maintainAggState(
      stream, Seq("day", "user_id"), "one", stateDir)
    q.awaitTermination()
    val presence = StreamingIngest.currentAggState(spark, stateDir).get
      .select("day", "user_id")
    val got = graft.queries.EventQueries.rollingActiveFromPresence(presence)
    val want = graft.queries.EventQueries.wa01RollingActive.fn(spark, sfDir)
    assert(got.count() == want.count() && want.count() > 0)
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
  }

  test("streaming boilerplate strip equals the batch pass exactly") {
    val docsDir = s"$stagingDir/documents_bp"
    Tables.documents(spark, sfDir).repartition(4)
      .write.mode("overwrite").parquet(docsDir)
    val schema = Tables.documents(spark, sfDir).schema
    val batch = Tables.documents(spark, sfDir)
    // the df>1 blocklist derives from the BATCH corpus; the stream
    // applies it statically — the deployable semantics
    val blocklist = TextDedup.boilerplateSegments(
      batch, segTokens = 5, maxDocFreq = 1)
    assert(blocklist.count() > 0, "corpus must contain cross-doc boilerplate")
    val outDir = s"$stagingDir/out_bp"
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(docsDir)
    foreachBatchTo(stream, outDir)(TextDedup.boilerplateStripAgainst(_, blocklist, segTokens = 5))
    val got = spark.read.parquet(outDir)
    val want = TextDedup.boilerplateStrip(batch, segTokens = 5, maxDocFreq = 1)
    assert(got.count() == want.count())
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
  }

  test("streaming first-wins ingest equals the batch kernel on a duplicate-heavy stream") {
    import graft.etl.Dedup
    val srcDir = s"$stagingDir/fw_src"
    val outDir = s"$stagingDir/fw_out"
    // duplicate-heavy fixture: 300 rows over 9 keys (keys 0-6 repeat
    // within AND across all batches; keys 7-8 first appear in batch 2),
    // plus a HOT key — k=0 absorbs a third of batch 0 — so the pin
    // covers the skew shape the r14 aggregate kernel exists for.
    // orderCol grows with file order, matching the file source's
    // arrival-order contract.
    val all = (0L until 300L).map { i =>
      val k = if (i < 100 && i % 3 == 0) 0L else i % (if (i < 100) 7 else 9)
      (i, k, s"payload$i")
    }
    // 3 mtime-ordered files = 3 micro-batches
    all.grouped(100).zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("ord", "k", "payload").coalesce(1)
        .write.mode("overwrite").parquet(s"$srcDir/f$i")
      Thread.sleep(1100) // distinct mtimes → FileStreamSource order
    }
    val schema = all.take(1).toDF("ord", "k", "payload").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$srcDir/*")
    val q = StreamingIngest.firstWinsIngestStream(stream, Seq("k"), "ord", outDir)
    q.awaitTermination()
    // the anti-join's USING columns lead the stored column order;
    // realign before the positional exceptAll compare
    val got = spark.read.parquet(outDir).select("ord", "k", "payload")
    val want = Dedup.firstOccurrenceWins(
      all.toDF("ord", "k", "payload"), Seq("k"), "ord")
    assert(got.count() == 9 && want.count() == 9)
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
  }

  test("streaming latest-wins ingest equals the batch kernel with late updates on a hot key") {
    import graft.etl.Dedup
    val srcDir = s"$stagingDir/lw_src"
    val stateDir = s"$stagingDir/lw_state"
    // duplicate-heavy fixture with LATE UPDATES: keys 0-6 repeat within
    // and across batches, k=0 is HOT (a third of batch 0 — the skew
    // shape the r14 aggregate kernel exists for). Batch 2 carries both
    // a genuinely-newer row for k=1 (higher ts → must supersede state)
    // and a STALE row for k=2 (ts below its stored winner → must NOT),
    // so the pin covers supersede and keep in one run. ord is the
    // unique tie-break (the kernel's documented contract).
    val base = (0L until 200L).map { i =>
      val k = if (i < 100 && i % 3 == 0) 0L else i % 7
      (i, k, i % 40, s"payload$i") // ts = i % 40: late batches aren't all-newer
    }
    // fresh update for k=1 at ts 99 (above every base ts), stale row
    // for k=2 at ts 0 (below its stored winner)
    val lateRows = Seq((200L, 1L, 99L, "fresh1"), (201L, 2L, 0L, "stale2"))
    val all = base.map { case (o, k, t, p) => (o, k, t.toLong, p) } ++ lateRows
    all.grouped(101).zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("ord", "k", "ts", "payload").coalesce(1)
        .write.mode("overwrite").parquet(s"$srcDir/f$i")
      Thread.sleep(1100) // distinct mtimes → FileStreamSource order
    }
    val schema = all.take(1).toDF("ord", "k", "ts", "payload").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$srcDir/*")
    val q = StreamingIngest.latestWinsIngestStream(
      stream, Seq("k"), "ts", "ord", stateDir)
    q.awaitTermination()
    val got = StreamingIngest.currentAggState(spark, stateDir).get
      .select("ord", "k", "ts", "payload")
    val want = Dedup.latestWins(
      all.toDF("ord", "k", "ts", "payload"), Seq("k"), "ts", "ord")
    assert(got.count() == 7 && want.count() == 7)
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
    // the late fresh row won its key; the late stale row did not
    import spark.implicits._
    val byKey = got.select("k", "payload").as[(Long, String)].collect().toMap
    assert(byKey(1L) == "fresh1")
    assert(byKey(2L) != "stale2")
  }

  test("streaming CDC state equals batch apply; tombstone blocks late resurrection") {
    import spark.implicits._
    val srcDir = s"$stagingDir/cdc_src"
    val stateDir = s"$stagingDir/cdc_state"
    // one file per micro-batch, mtime-ordered so the ADVERSARIAL order
    // is deterministic: the lower-seq re-insert of k2 arrives AFTER
    // its tombstone — only a persisted tombstone keeps it dead
    val batches = Seq(
      Seq((1L, "I", 1L, "a1"), (2L, "I", 1L, "b1")),
      Seq((1L, "U", 2L, "a2"), (2L, "D", 2L, "x")),
      Seq((2L, "I", 1L, "bLATE"), (3L, "I", 1L, "c1")))
    batches.zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("k", "op", "seq", "v").coalesce(1)
        .write.mode("overwrite").parquet(s"$srcDir/f$i")
      Thread.sleep(1100) // distinct mtimes → FileStreamSource order
    }
    val schema = batches.head.toDF("k", "op", "seq", "v").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$srcDir/*")
    val q = StreamingIngest.maintainCdcState(stream, Seq("k"), "seq", "op", stateDir)
    q.awaitTermination()
    val live = StreamingIngest.currentCdcState(spark, stateDir).get
      .select("k", "v").as[(Long, String)].collect().toMap
    assert(live == Map(1L -> "a2", 3L -> "c1")) // k2 stays dead
    // exact parity with the batch apply over the full log
    val want = graft.etl.Upsert.applyCdc(
      batches.flatten.toDF("k", "op", "seq", "v"), Seq("k"), "seq", "op")
    val got = StreamingIngest.currentCdcState(spark, stateDir).get
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
  }
}
