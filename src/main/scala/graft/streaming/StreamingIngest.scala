package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}
import graft.etl.Validation
import graft.warehouse.{HhsPipeline, Schemas, Warehouse}
import org.apache.hadoop.fs.Path

/** Typed event row for stateful streaming. */
final case class UserEvent(user_id: Long, value: Double)
/** Accumulated per-user state/output. */
final case class UserTotals(user_id: Long, n_events: Long, total_value: Double)

/** Structured Streaming state across micro-batches (SURVEY §2.11: the
  * reference is weekly batch; this is the "if streaming is wanted
  * later" path, built on the same operators).
  *
  * The rule: stateless work on a stream is the batch operator applied
  * to a streaming frame, so nothing here re-spells it. A row-local or
  * stream-static operator (`CurationPipeline.filterStage`,
  * `TextFunctions.redactPii`, `TextDedup.sharedGramCounts`,
  * `Sessions.sessionWindowAgg` over a watermark) runs on the stream
  * unchanged, and a per-batch one (`Repetition.repetitionStats`,
  * `TextDedup.boilerplateStripAgainst`) runs inside
  * `writeStream.foreachBatch`. This object holds only what keeps state
  * across micro-batches: keyed state, a watermarked stream-stream
  * join, ingest against a growing sink, and generational state tables.
  *
  * Scale notes: file-source streaming scales by listing cost — at
  * production scale use a notification-based source. Watermarks bound
  * dedup and join state.
  */
object StreamingIngest {

  /** Custom keyed state via flatMapGroupsWithState: per-user running
    * totals that emit a record on every update — the shape that covers
    * everything session_window can't express (cross-session counters,
    * custom eviction, alerting thresholds). State is bounded per key
    * (one UserTotals each); timeouts would evict idle users at scale. */
  def runningUserTotals(events: org.apache.spark.sql.Dataset[UserEvent]):
      org.apache.spark.sql.Dataset[UserTotals] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[UserTotals, UserTotals](
        OutputMode.Append, GroupStateTimeout.NoTimeout()) {
        case (uid, rows, state) =>
          val prev = state.getOption.getOrElse(UserTotals(uid, 0L, 0.0))
          var n = prev.n_events
          var v = prev.total_value
          rows.foreach { e => n += 1; v += e.value }
          val next = UserTotals(uid, n, v)
          state.update(next)
          Iterator(next)
      }
  }

  /** Watermarked stream-stream interval join: right-side events in
    * [leftTs, leftTs + window] for the same key (e.g. purchases within
    * 7 days of a signup), with both sides' state bounded by watermark +
    * interval — the Structured Streaming join shape where the engine
    * can actually EVICT state, unlike an unconstrained equi-join.
    * Right columns come back prefixed `r_`. On batch frames it skips
    * the watermarks and is the plain interval join. */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
                   leftTs: String, rightTs: String,
                   watermark: String, window: String): DataFrame = {
    val r0 = right.columns.foldLeft(right)((df, c) =>
      df.withColumnRenamed(c, s"r_$c"))
    val (l, r) =
      if (left.isStreaming)
        (left.withWatermark(leftTs, watermark),
          r0.withWatermark(s"r_$rightTs", watermark))
      else (left, r0)
    l.join(r, expr(
      s"$key = r_$key AND r_$rightTs >= $leftTs" +
        s" AND r_$rightTs <= $leftTs + interval $window"))
  }

  /** STREAMING FIRST-WINS INGEST — the generic form of the HHS
    * pipeline's dedup stage, pinned stream==batch by StreamingSpec on
    * a duplicate-heavy fixture.
    * Per micro-batch: [[graft.etl.Dedup.firstOccurrenceWins]] drops
    * in-batch duplicates (the SAME kernel as batch — the parity pin
    * covers whatever shape the kernel carries), then an anti-join
    * against the keys already in `outDir` drops cross-batch
    * duplicates, then the survivors append. Batches run sequentially,
    * so batch N's appends are batch N+1's existing side; equal to the
    * batch kernel over the concatenated input whenever files arrive in
    * order and `orderCol` grows with arrival (the file source's
    * contract here, and the same "first = arrival order" rule the
    * reference's loader implements, load_hhs.py:75). */
  def firstWinsIngestStream(stream: DataFrame, keys: Seq[String],
                            orderCol: String, outDir: String,
                            checkpointDir: Option[String] = None): StreamingQuery =
    stream.writeStream.trigger(Trigger.AvailableNow())
      // Durable checkpoint by default (like the HHS streams above): an
      // interrupted run resumes from the last committed batch instead
      // of re-listing the whole source and leaning on the anti-join
      // for idempotence. Callers can point it elsewhere (or at a temp
      // dir in tests).
      .option("checkpointLocation",
              checkpointDir.getOrElse(s"$outDir/_checkpoints/first_wins"))
      .foreachBatch { (b: DataFrame, _: Long) =>
        graft.etl.Dedup.antiJoinExisting(
            graft.etl.Dedup.firstOccurrenceWins(b, keys, orderCol),
            Warehouse.readOrEmpty(b.sparkSession, outDir, b.schema), keys)
          .write.mode("append").parquet(outDir)
      }.start()

  /** STREAMING LATEST-WINS INGEST — the CDC-flavored complement of
    * [[firstWinsIngestStream]], running the SAME batch kernel
    * ([[graft.etl.Dedup.latestWins]]) per micro-batch so the stream==
    * batch parity pin (StreamingSpec) covers whatever shape the
    * kernel carries (the min/max(struct) aggregate today). Unlike
    * first-wins, a later batch can SUPERSEDE stored rows, so an
    * append-only sink can't express it; state lives in the
    * generational state protocol (`commitGenerations`): per batch,
    * current state ∪ new rows → latestWins → gen-<batchId> commit,
    * _SUCCESS-gated, replay-idempotent (a replayed batch rebuilds the
    * same generation from the same <batchId-exclusive state). Read the
    * live table with [[currentAggState]]. Equal to the batch kernel
    * over the concatenated input because latestWins is associative
    * over row sets: max-by-(orderCol, tieCol) of a union is the max of
    * per-part maxes. */
  def latestWinsIngestStream(stream: DataFrame, keys: Seq[String],
                             orderCol: String, tieCol: String,
                             stateDir: String,
                             checkpointDir: Option[String] = None): StreamingQuery =
    commitGenerations(stream, stateDir,
        Some(checkpointDir.getOrElse(s"$stateDir/_checkpoints/latest_wins"))) { (cur, b) =>
      graft.etl.Dedup.latestWins(cur.fold(b)(_.unionByName(b)), keys, orderCol, tieCol)
    }

  /** STREAMING END-TO-END HHS INGEST: the whole batch warehouse load
    * ([[graft.warehouse.HhsPipeline.load]]) as one live pipeline —
    * file source → clean → validation split → watermarked key dedup
    * (`dropDuplicatesWithinWatermark`, SURVEY §2.11's named shape) →
    * warehouse append. Returns the (valid-path, reject-path) queries;
    * await both.
    *
    * Stage-by-stage parity with batch:
    *  - clean + validation are pure column expressions, so they run on
    *    the stream UNCHANGED and split BEFORE dedup, exactly like
    *    batch (an invalid first occurrence must not shadow a valid
    *    duplicate, and rejects must include duplicate invalid rows).
    *  - (hospital_pk, collection_week) dedup happens IN the stream:
    *    the watermark on collection_week bounds state, and
    *    dropDuplicatesWithinWatermark drops cross-batch duplicates
    *    without touching the warehouse. Streaming "first" is arrival
    *    order — equal to the batch file-order rule whenever files
    *    arrive in listing order (the file source's contract here).
    *  - per micro-batch (foreachBatch), the batch load's per-delta
    *    step [[graft.warehouse.HhsPipeline.appendNew]] runs against
    *    current warehouse state: first-wins per key, anti-join vs
    *    existing keys (covers pre-existing warehouse rows and dups
    *    beyond the watermark horizon), three table appends. The
    *    per-week first-wins is a no-op on the watermark-deduped batch.
    *    Batches are sequential, so batch N's appends are batch N+1's
    *    existing side.
    * At scale the state store holds only keys within the watermark,
    * and every per-batch stage is the batch operator itself — the
    * proof obligation (stream == batch on the same files) is pinned
    * by StreamingSpec against a fixture warehouse. */
  def hhsIngestStream(spark: SparkSession, srcDir: String, warehouseDir: String,
                      rejectDir: String, watermark: String = "30 days",
                      maxFilesPerTrigger: Int = 1): (StreamingQuery, StreamingQuery) = {
    val raw = spark.readStream
      .option("header", "true").schema(Schemas.hhsRawCsv)
      .option("maxFilesPerTrigger", maxFilesPerTrigger).csv(srcDir)
    val (valid, rejects) = Validation.split(
      HhsPipeline.clean(raw), HhsPipeline.validationRules)

    val deduped = valid
      .withColumn("__event_ts", col("collection_week").cast("timestamp"))
      .withWatermark("__event_ts", watermark)
      .dropDuplicatesWithinWatermark("hospital_pk", "collection_week")
      .drop("__event_ts")
    val validQ = deduped.writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$warehouseDir/_checkpoints/hhs_valid")
      .foreachBatch { (b: DataFrame, _: Long) =>
        HhsPipeline.appendNew(b.withColumn("__file_order", monotonically_increasing_id()),
          warehouseDir)
      }.start()

    val rejectQ = rejects.writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$warehouseDir/_checkpoints/hhs_rejects")
      .option("header", "true")
      .option("path", Warehouse.rejectPath(rejectDir, "hhs"))
      .outputMode(OutputMode.Append()).format("csv").start()
    (validQ, rejectQ)
  }

  /** STREAMING MATERIALIZED-VIEW MAINTENANCE: keep a standing
    * aggregate (graft.etl.IncrementalAgg's algebraic per-key state)
    * current against a live feed — the streaming form of ia01. Per
    * micro-batch: aggregate ONLY the batch's rows into a delta state,
    * merge with the standing state, write the result as a NEW
    * generation directory (`gen-<batchId>`), and let readers resolve
    * the highest fully-committed generation (`_SUCCESS` present) —
    * commit-by-visibility, no pointer file to swap racily. Cost per
    * batch ∝ batch + state size; the raw feed is never re-scanned.
    *
    * Exactness does not depend on batch boundaries: count/sum are
    * associative, min/max commutative-idempotent, so ANY slicing of
    * the feed folds to the identical state (the spec pins stream ==
    * batch bit-for-bit across forced multi-batch runs). Re-running a
    * batch id is idempotent because the merge reads the highest
    * generation BELOW the current batch id, never its own output.
    * Generations older than the previous one are best-effort pruned.
    * (For cross-restart exactly-once against arbitrary sinks, pair
    * with a checkpointed source and a transactional table format —
    * this operator is the engine-side state math done right.) */
  def maintainAggState(stream: DataFrame, keys: Seq[String], valueCol: String,
                       stateDir: String): StreamingQuery =
    commitGenerations(stream, stateDir) { (cur, b) =>
      val delta = graft.etl.IncrementalAgg.state(b, keys, valueCol)
      cur.fold(delta)(graft.etl.IncrementalAgg.merge(_, delta, keys))
    }

  /** Streaming HEAVY-HITTER SKETCH maintenance: per micro-batch build
    * a CountMin blob over `keyCol` (LongType keys — hash upstream)
    * and ADD it into the standing blob. CMS is a LINEAR sketch
    * (counters are sums), so the maintained state equals the
    * whole-history sketch BIT-FOR-BIT — stream==batch exact on the
    * blob, not merely within bounds — and any key's frequency
    * estimate is served from state without re-reading history.
    * Same generation-per-batch-id commit protocol as
    * [[maintainAggState]] (idempotent replays, _SUCCESS-gated reads,
    * pruning). The per-batch blob is depth×width×8 bytes REGARDLESS
    * of corpus size, so the driver-side head()+add is constant work —
    * the same class of driver scalar as the CC convergence probe. */
  def maintainSketchState(stream: DataFrame, keyCol: String, depth: Int,
                          width: Int, stateDir: String): StreamingQuery =
    maintainBlobState(stream, stateDir, s"cms:depth=$depth,width=$width",
      graft.sketch.CountMin.cm_agg(col(keyCol), depth, width), graft.sketch.CountMin.addBlobs)

  /** Streaming BLOOM-FILTER maintenance: the membership sibling of
    * [[maintainSketchState]] — per-batch Bloom blobs OR into the
    * standing filter (OR is associative, commutative, IDEMPOTENT, so
    * the state equals the whole-history filter bit-for-bit and
    * replays are harmless by algebra, on top of the generation
    * protocol's idempotence). This is dc02's decontamination filter
    * kept current incrementally: a benchmark/blocklist feed maintains
    * the filter; scan-side `might_contain` pruning then never
    * re-reads filter history. */
  def maintainBloomState(stream: DataFrame, keyCol: String, numBits: Int,
                         k: Int, stateDir: String): StreamingQuery =
    maintainBlobState(stream, stateDir, s"bloom:numBits=$numBits,k=$k",
      graft.sketch.Bloom.bloom_agg(col(keyCol), numBits, k), graft.sketch.Bloom.orBlobs)

  /** Pin a blob-state directory to ONE sketch geometry. Blob merges
    * (addBlobs/orBlobs) can only check byte LENGTH, which is necessary
    * but not sufficient: a 4×8192 and an 8×4096 CMS have identical blob
    * sizes and would merge into a silently-corrupted sketch. So the
    * first maintainer of a stateDir writes `_blob_geometry` (the full
    * parameter descriptor) and every later maintainer must present the
    * identical descriptor — a changed depth/width/k against an existing
    * state dir fails FAST at start(), before any batch merges. */
  private def pinBlobGeometry(spark: SparkSession, stateDir: String,
                              descriptor: String): Unit = {
    val p = new Path(s"$stateDir/_blob_geometry")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) {
      val in = fs.open(p)
      val existing = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
                     finally in.close()
      require(existing == descriptor,
        s"blob state dir $stateDir is pinned to geometry '$existing' " +
        s"but the maintainer was configured with '$descriptor'; " +
        "changing sketch parameters requires a fresh state dir")
    } else {
      val out = fs.create(p, false)
      try out.write(descriptor.getBytes("UTF-8")) finally out.close()
    }
  }

  /** Shared blob-state loop: pin `stateDir` to `geometry`, then per
    * batch evaluate `buildAgg` over the batch (one fixed-size blob) and
    * fold it into the standing blob with `merge` — same
    * generation-per-batch-id protocol as [[maintainAggState]]. The blob
    * is corpus-size-independent, so the driver-side head()+merge is
    * constant work (the CC convergence-probe class of driver scalar). */
  private def maintainBlobState(stream: DataFrame, stateDir: String, geometry: String,
                                buildAgg: org.apache.spark.sql.Column,
                                merge: (Array[Byte], Array[Byte]) => Array[Byte])
      : StreamingQuery = {
    pinBlobGeometry(stream.sparkSession, stateDir, geometry)
    commitGenerations(stream, stateDir) { (cur, b) =>
      val delta = b.agg(buildAgg.as("blob")).head().getAs[Array[Byte]]("blob")
      val merged = cur.fold(delta)(c => merge(c.head().getAs[Array[Byte]]("blob"), delta))
      import b.sparkSession.implicits._
      Seq(merged).toDF("blob").coalesce(1)
    }
  }

  /** Streaming CDC MATERIALIZATION: each micro-batch of I/U/D change
    * rows merges into the generational state table via
    * [[graft.etl.Upsert.applyCdc]] with keepTombstones = true — the
    * winning delete rows PERSIST in state so a late-arriving lower-seq
    * entry in a later batch cannot resurrect a deleted key (the
    * classic streaming-CDC correctness trap; a batch engine re-reading
    * the full log gets this for free, incremental state must carry the
    * tombstone). Same commit protocol as [[maintainAggState]]:
    * generation-per-batch-id, _SUCCESS-gated reads, replay-idempotent.
    * Read the live table with [[currentCdcState]] (filters
    * tombstones). */
  def maintainCdcState(stream: DataFrame, keys: Seq[String], seqCol: String,
                       opCol: String, stateDir: String): StreamingQuery =
    commitGenerations(stream, stateDir) { (cur, b) =>
      graft.etl.Upsert.applyCdc(cur.fold(b)(_.unionByName(b)), keys, seqCol, opCol,
        keepTombstones = true)
    }

  /** The generation commit every state maintainer shares: per batch,
    * `fold` the highest committed generation below the batch id (so a
    * replay rebuilds the same state) with the batch, overwrite
    * `gen-<batchId>`, then prune generations older than the previous one. */
  private def commitGenerations(stream: DataFrame, stateDir: String,
                                checkpointDir: Option[String] = None)
                               (fold: (Option[DataFrame], DataFrame) => DataFrame)
      : StreamingQuery = {
    val w = stream.writeStream.trigger(Trigger.AvailableNow())
    checkpointDir.fold(w)(w.option("checkpointLocation", _))
      .foreachBatch { (b: DataFrame, batchId: Long) =>
        val sp = b.sparkSession
        fold(currentAggState(sp, stateDir, maxExclusive = Some(batchId)), b)
          .write.mode("overwrite").parquet(s"$stateDir/gen-$batchId")
        val fs = new Path(stateDir).getFileSystem(sp.sparkContext.hadoopConfiguration)
        committedGens(sp, stateDir).filter(_ < batchId - 1)
          .foreach(g => fs.delete(new Path(s"$stateDir/gen-$g"), true))
      }.start()
  }

  /** The live CDC table: latest committed generation minus tombstones. */
  def currentCdcState(spark: SparkSession, stateDir: String,
                      opCol: String = "op"): Option[DataFrame] =
    currentAggState(spark, stateDir).map(_.filter(col(opCol) =!= "D"))

  /** The standing state: highest fully-committed generation in
    * `stateDir` (below `maxExclusive` if given); None before the first
    * commit. */
  def currentAggState(spark: SparkSession, stateDir: String,
                      maxExclusive: Option[Long] = None): Option[DataFrame] =
    committedGens(spark, stateDir)
      .filter(g => maxExclusive.forall(g < _)).maxOption
      .map(g => spark.read.parquet(s"$stateDir/gen-$g"))

  private def committedGens(spark: SparkSession, stateDir: String): Seq[Long] = {
    val dir = new Path(stateDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("gen-"))
      .map(_.getPath.getName.stripPrefix("gen-").toLong)
      .filter(g => fs.exists(
        new Path(s"$stateDir/gen-$g/_SUCCESS")))
  }
}
