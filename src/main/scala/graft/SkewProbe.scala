package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.text.{TextDedup, TextFunctions}

/** Skew probe: measures the dedup, ANN and triangle kernels on a
  * DELIBERATELY skewed corpus. One document's text is copied into
  * `hotPct` (default 20%) of the corpus, which concentrates one hot
  * fingerprint (exact dedup), one hot segment set (segment dedup) and
  * one hot LSH bucket PER BAND (MinHash star pairing); one user_id
  * carries `hotPct` of the events table, full row width riding, for
  * the `etl.Dedup` first/latest-wins kernels. The sk02/sk04 salting
  * pattern covers aggregation skew; this probe targets the shape that
  * no AQE rule can split — a rank/min WINDOW partitioned by a content
  * key, which puts the whole hot group in one task.
  *
  * For each dedup kernel it times that WINDOW shape (reconstructed
  * here verbatim; provenance per section below) against the AGGREGATE
  * shape in [[TextDedup]] / [[graft.etl.Dedup]] (groupBy partial-agg,
  * carrying the row in a min/max struct or joining back — map-side
  * combine collapses the hot key per input partition; any residual
  * join skew is AQE-splittable). Row counts must be equal, so the
  * probe doubles as an equivalence check at probe scale (the real
  * gates are d01/d02/d05/dd02/pd01's oracles and
  * TextDedupSpec/DedupSpec).
  *
  * The nn kernels have no content-keyed shuffle or window at all:
  * `IvfIndex.topK` and `SimilaritySearch.lshTopK` broadcast the
  * (small-by-contract) query side and stream the corpus scan into
  * per-query `TopKAgg` heaps, so a hot cell/bucket cannot concentrate
  * in one task; it only grows the CANDIDATE count, on whichever input
  * partitions hold the hot vectors. Sections 4–5 check that: a corpus
  * with `hotPct` of its embeddings collapsed into a tiny ball (one hot
  * IVF cell; one hot LSH bucket per band) is timed against the uniform
  * corpus, candidate counts printed beside the seconds — time must
  * track candidates (work-bound), not a task cliff. Salting is
  * deliberately NOT applied: there is no per-key shuffle partition to
  * salt. Section 6 applies the same criterion to the triangle wedge
  * join with one hub node.
  *
  * Exit criteria — the probe is pass/fail, not just a printout. It
  * fails when (a) any aggregate shape runs >RATIO× its window shape
  * (the rewrite's local-scale overhead is +25–35%, so the default 2×
  * means the rewrite regressed), or (b) any ANN or triangle kernel's
  * hot/uniform time ratio exceeds RATIO× its hot/uniform work ratio —
  * time no longer tracking work is the task-cliff signature.
  *
  * Both criteria gate min-of-ITERS wall-clock against a fixed band, so
  * they are noise-sensitive: authoritative runs need a quiet host and
  * ITERS>=2; on shared or CI hardware widen the band with
  * SPARK_GRAFT_SKEW_RATIO (the `ratio` parameter) rather than accept
  * flaky failures. SkewProbeSpec runs this probe inside `sbt test` at
  * sf0.001 with ratio=4 for that reason (the shape-equivalence
  * requires stay exact; only the timing band widens).
  *
  * Usage: `runMain graft.SkewProbe [sfDir] [hotPct]` — prints one JSON
  * line per (kernel, shape) with min-of-SPARK_GRAFT_ITERS seconds,
  * then PASS/FAIL lines for the criteria above.
  * Env: SPARK_GRAFT_ITERS (default 2, see [[Runner.iters]]),
  * SPARK_GRAFT_SKEW_RATIO (default 2.0).
  */
object SkewProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val hotPct = args.lift(1).map(_.toInt).getOrElse(20)
    val ratio = sys.env.getOrElse("SPARK_GRAFT_SKEW_RATIO", "2.0").toDouble
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")

    val failures = run(spark, sfDir, hotPct, Runner.iters, ratio)

    spark.stop()
    if (failures.nonEmpty) {
      failures.foreach(f => println(s"SKEWPROBE_FAIL $f"))
      sys.exit(1)
    }
    println("SKEWPROBE_PASS all shapes within budget")
  }

  /** The whole probe as a callable: builds the skewed corpora under a
    * temp dir (deleted on exit), times every (kernel, shape) pair,
    * asserts shape equivalence (row counts MUST match — throws if
    * not), and returns the list of exit-criteria failures (empty =
    * pass). SkewProbeSpec runs it at sf0.001 / ratio=4 so a skew-shape
    * regression fails CI; the main above runs it at sf0.1 / ratio=2
    * for authoritative quiet-host measurements. */
  def run(spark: SparkSession, sfDir: String, hotPct: Int = 20,
          iters: Int = 2, ratio: Double = 2.0): Seq[String] = {
    // "half the queries are hot" (vec_id % 50 below) only holds for
    // hotPct in [1, 50] — beyond 50 both residue classes are hot and
    // the mixed-stress labels lie
    require(hotPct >= 1 && hotPct <= 50,
      s"hotPct must be in [1, 50], got $hotPct")
    require(ratio >= 1.0, s"ratio must be >= 1, got $ratio")

    // skewed corpus: hotPct% of docs carry doc 0's exact text. Written
    // to parquet so every timed plan reads the same on-disk input (a
    // lazily-recomputed join-in would distort the timings).
    val docs = Tables.documents(spark, sfDir)
    val hotText = docs.orderBy("doc_id").select("text").limit(1)
    val skewPath = java.nio.file.Files.createTempDirectory("skewprobe")
    val skewDir = skewPath.toString
    try {
    docs.crossJoin(broadcast(hotText.select(col("text").as("__hot"))))
      .select(col("doc_id"),
        when(col("doc_id") % 100 < hotPct, col("__hot"))
          .otherwise(col("text")).as("text"),
        col("n_chars"))
      .write.mode("overwrite").parquet(s"$skewDir/documents.parquet")
    val corpus = spark.read.parquet(s"$skewDir/documents.parquet")

    // (kernel, shape) -> min-of-iters seconds, for the exit criteria
    val secs = scala.collection.mutable.LinkedHashMap.empty[(String, String), Double]
    val failures = scala.collection.mutable.ListBuffer.empty[String]

    def time(name: String, shape: String, detail: String = "")(mk: => DataFrame): Long = {
      val (best, rows) = Runner.minOf(iters)(Runner.reset(spark))(mk.count())
      secs((name, shape)) = best
      val d = if (detail.isEmpty) "" else s""","detail":"$detail""""
      println(f"""{"probe":"$name","shape":"$shape","sec":$best%.3f,"rows":$rows$d,"hotPct":$hotPct,"sf":"$sfDir"}""")
      rows
    }

    /** criterion (a): the aggregate rewrite must stay within ratio× of
      * the window shape it replaced. */
    def gateAggVsWindow(kernel: String, windowShape: String, aggShape: String): Unit =
      for (w <- secs.get((kernel, windowShape)); a <- secs.get((kernel, aggShape)))
        if (a > ratio * w)
          failures += f"$kernel: agg ${a}%.2fs > ${ratio}%.1fx window ${w}%.2fs"

    // ---- 0. ingest dedup: one hot key at hotPct% of the events table ----
    // The reference's signature operator (load_hhs.py:75) under the
    // 100 TB nightmare input: a single hospital_pk/user_id carrying
    // hotPct% of the batch, FULL ROW WIDTH (ts, type, value, props)
    // riding the shuffle. Window shape = etl.Dedup.firstOccurrenceWins
    // / latestWins verbatim as of commit 7ae2c59 (the last pre-rewrite
    // revision; replaced by the min/max(struct) aggregate in 6c5b3a1);
    // agg shape = the library's current kernel.
    val events = Tables.events(spark, sfDir)
    events.select(
        when(pmod(col("event_id"), lit(100)) < hotPct, lit(0L))
          .otherwise(col("user_id")).as("user_id"),
        col("event_id"), col("ts"), col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(s"$skewDir/events.parquet")
    val ingest = spark.read.parquet(s"$skewDir/events.parquet")

    val wI = Window.partitionBy("user_id").orderBy(col("event_id"))
    val r0w = time("ingest_first_wins", "window") {
      ingest.withColumn("__rn", row_number().over(wI))
        .filter(col("__rn") === 1).drop("__rn")
    }
    val r0a = time("ingest_first_wins", "agg") {
      graft.etl.Dedup.firstOccurrenceWins(ingest, Seq("user_id"), "event_id")
    }
    require(r0w == r0a, s"ingest first-wins shapes disagree: $r0w vs $r0a")
    gateAggVsWindow("ingest_first_wins", "window", "agg")

    val wL = Window.partitionBy("user_id")
      .orderBy(col("ts").desc, col("event_id").desc)
    val rLw = time("ingest_latest_wins", "window") {
      ingest.withColumn("__rn", row_number().over(wL))
        .filter(col("__rn") === 1).drop("__rn")
    }
    val rLa = time("ingest_latest_wins", "agg") {
      graft.etl.Dedup.latestWins(ingest, Seq("user_id"), "ts", "event_id")
    }
    require(rLw == rLa, s"ingest latest-wins shapes disagree: $rLw vs $rLa")
    gateAggVsWindow("ingest_latest_wins", "window", "agg")

    // ---- 1. exact dedup: hot fingerprint ----
    // Window shape = TextDedup.exactDedup verbatim as of commit
    // d094bb3 (the last pre-rewrite revision; replaced by the
    // agg+semi-join shape in edbd999).
    val w1 = Window.partitionBy(TextFunctions.fingerprint(col("text")))
      .orderBy(col("doc_id"))
    val r1w = time("exact_dedup", "window") {
      corpus.withColumn("__rn", row_number().over(w1))
        .filter(col("__rn") === 1).drop("__rn")
    }
    val r1a = time("exact_dedup", "agg_semijoin") {
      TextDedup.exactDedup(corpus)
    }
    require(r1w == r1a, s"exact dedup shapes disagree: $r1w vs $r1a")
    gateAggVsWindow("exact_dedup", "window", "agg_semijoin")

    // ---- 2. segment dedup: hot segments ----
    // window shape on the same `segmented` intermediate the library
    // builds internally (reconstructed: tokens → strided slices).
    // Window form = TextDedup.segmentDedup's rank stage verbatim as of
    // commit d094bb3 (the last pre-rewrite revision; replaced in
    // edbd999); the segmentation prefix mirrors the CURRENT
    // library intermediate, so both shapes time the same input.
    def segs = corpus
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("__toks"))
      .filter(size(col("__toks")) > 0)
      .select(col("doc_id"), col("__toks"),
        posexplode(sequence(lit(0), size(col("__toks")) - 1, lit(10)))
          .as(Seq("idx", "__start")))
      .select(col("doc_id"), col("idx"),
        concat_ws(" ", slice(col("__toks"), col("__start") + 1, lit(10))).as("s"))
    val w2 = Window.partitionBy("s").orderBy(col("doc_id"), col("idx"))
    val r2w = time("segment_first_wins", "window") {
      segs.withColumn("rn", row_number().over(w2)).filter(col("rn") === 1)
    }
    val r2a = time("segment_first_wins", "agg") {
      segs.groupBy("s")
        .agg(min(struct(col("doc_id"), col("idx"))).as("__first"))
        .select(col("__first.doc_id"), col("__first.idx"), col("s"))
    }
    require(r2w == r2a, s"segment shapes disagree: $r2w vs $r2a")
    gateAggVsWindow("segment_first_wins", "window", "agg")

    // ---- 3. star pairing: hot bucket in every band ----
    // Window form = TextDedup.minHashCandidates' per-bucket min stage
    // verbatim as of commit d094bb3 (pre-edbd999: min(id) OVER
    // (PARTITION BY band) — replaced by groupBy min + equi-join back),
    // over the library's own MinHash banding; agg shape = the library's
    // Star pairing.
    val banded = TextDedup.minHashBands(
      TextDedup.withMinHashSig(corpus, k = 3, nHashes = 32), nHashes = 32, bands = 8)
    val w3 = Window.partitionBy("band_id", "band_val")
    val r3w = time("star_pairing", "window") {
      banded.withColumn("id1", min(col("id")).over(w3))
        .filter(col("id") =!= col("id1"))
        .select(col("id1"), col("id").as("id2"))
        .dropDuplicates("id1", "id2")
    }
    val r3a = time("star_pairing", "agg_join") {
      TextDedup.starPairs(banded).dropDuplicates("id1", "id2")
    }
    require(r3w == r3a, s"star shapes disagree: $r3w vs $r3a")
    gateAggVsWindow("star_pairing", "window", "agg_join")

    // ---- 4/5. ANN under a hot cell/bucket: work-bound, not task-bound ----
    // hotPct% of embeddings collapse into a tiny ball around vector 0:
    // component c of a hot row = base[c] + hash(vec_id, c)-derived
    // jitter in [0, 0.01) — deterministic (no RNG), and small enough
    // that every hot row lands in ONE IVF cell and agrees on every
    // LSH band. Both corpora go through parquet so the timed plans
    // read identical on-disk shapes.
    val emb = Tables.embeddings(spark, sfDir)
    val base = emb.orderBy("vec_id").select(col("embedding").as("__base")).limit(1)
    val hotVec = expr(
      "transform(__base, (x, c) -> cast(x + pmod(xxhash64(vec_id, c), 1000) / 100000.0d as float))")
    emb.crossJoin(broadcast(base))
      .select(col("vec_id"),
        when(col("vec_id") % 100 < hotPct, hotVec)
          .otherwise(col("embedding")).as("embedding"))
      .write.mode("overwrite").parquet(s"$skewDir/emb_hot.parquet")
    emb.select("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$skewDir/emb_uniform.parquet")

    // per-flavor candidate counts, for criterion (b)
    val cands = scala.collection.mutable.Map.empty[(String, String), Long]

    for (flavor <- Seq("uniform", "hot")) {
      val corpusE = spark.read.parquet(s"$skewDir/emb_$flavor.parquet")
      // vec_id % 50 == 0 → ids with %100 ∈ {0, 50}: HALF the queries
      // are hot-ball members (probing the hot cell/bucket), half are
      // untouched vectors — the realistic mixed-stress shape. (%100
      // == 0 alone would make every query hot.)
      val queries = corpusE.filter(col("vec_id") % 50 === 0)

      // IVF: train outside the timed region (sampled, bounded — not the
      // skew question); the timed part is the serve path: assignment
      // pass + probe join + scoring + heap. Report the hottest cell's
      // mass share and the exact candidate count next to the seconds.
      val idx = graft.vector.IvfIndex.build(corpusE, nList = 16)
      val cellHist = idx.cells.groupBy("cell_id").count()
        .agg(max("count").as("mx"), sum("count").as("n")).head()
      val hotShare = cellHist.getLong(0).toDouble / cellHist.getLong(1)
      val ivfCands = { // probed (query, cell) pairs × cell members, minus
        // self-matches (topK filters query_id =!= neighbor_id after the
        // cell join) — the exact scored-row count
        val probed = graft.vector.IvfIndex.probedCells(idx, queries, nProbe = 4)
        probed.join(idx.cells.select(col("cell_id"), col("vec_id").as("neighbor_id")),
            Seq("cell_id"))
          .filter(col("neighbor_id") =!= col("query_id"))
          .count()
      }
      cands(("ivf_topk", flavor)) = ivfCands
      time("ivf_topk", flavor, f"hotCell=$hotShare%.2f cands=$ivfCands") {
        graft.vector.IvfIndex.topK(idx, queries, k = 5, nProbe = 4)
      }

      // LSH: same serve shape; candidate pairs = band-agreeing
      // (query, corpus) pairs after the emit-once filter, counted with
      // the library's own kernel so the work number is the scored-row
      // truth, not a re-derivation. 6 bands × 4 bits — the BUCKETED
      // production shape, where a hot bucket concentrates candidates
      // (nn05's 24 × 1-bit config is a capture/recall setting whose
      // candidate set is ~all pairs regardless of skew).
      val lshCands = graft.vector.SimilaritySearch
        .lshCandidates(corpusE, queries, nBits = 24, nBands = 6).count()
      cands(("lsh_topk", flavor)) = lshCands
      time("lsh_topk", flavor, s"cands=$lshCands") {
        graft.vector.SimilaritySearch.lshTopK(
          corpusE, queries, k = 5, nBits = 24, nBands = 6)
      }
    }

    // ---- 6. triangle wedge join: hot apex hub ----
    // tc01's wedge self-join + closing-edge probe are pinned
    // SHUFFLE_HASH: both sides edge-scale, hash-build per
    // partition. The pin is 100 TB-safe only if no apex key is
    // pathologically hot — degree-ordered orientation is the
    // STRUCTURAL guarantee (a hub's out-neighbors are only the few
    // nodes of even higher degree, so its wedge contribution is
    // bounded), and this section measures it: rewire hotPct% of the
    // co-purchase edges onto ONE hub node and compare time against
    // the wedge-count ratio, the same work-bound criterion as the ANN
    // sections. A task cliff (hot apex partition dominating the
    // shuffled-hash build or probe) shows up as time decoupling from
    // wedges.
    val liPairs = Tables.lineitem(spark, sfDir)
      .filter(col("l_partkey") % 2 === 0)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    val baseEdges = liPairs.as("x").join(liPairs.as("y"),
        col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
      .select(col("x.pk").as("a"), col("y.pk").as("b"))
    baseEdges.write.mode("overwrite").parquet(s"$skewDir/edges_uniform.parquet")
    // hot variant: a deterministic hotPct% slice of edges re-attaches
    // its lower endpoint to hub node 0 — the hub's raw degree becomes
    // hotPct% of |e| while the edge count stays comparable
    baseEdges.select(
        when(pmod(xxhash64(col("a"), col("b")), lit(100)) < hotPct, lit(0L))
          .otherwise(col("a")).as("a"),
        col("b"))
      .write.mode("overwrite").parquet(s"$skewDir/edges_hot.parquet")
    val wedgeCount = scala.collection.mutable.Map.empty[String, Long]
    for (flavor <- Seq("uniform", "hot")) {
      val raw = spark.read.parquet(s"$skewDir/edges_$flavor.parquet")
      val canon = graft.graph.Triangles.canonical(raw, "a", "b")
      // wedge work Σ C(outdeg, 2), counted with the library's own
      // orientation (the work number must be the kernel's truth, not a
      // re-derivation)
      val w = graft.graph.Triangles.orientedEdges(canon)
        .groupBy("src").agg(count(lit(1)).as("d"))
        .agg(sum(expr("d * (d - 1) div 2"))).head().getLong(0)
      wedgeCount(flavor) = w
      time("triangle_wedges", flavor, s"wedges=$w") {
        graft.graph.Triangles.perNode(canon)
      }
    }
    {
      val tRatio = secs(("triangle_wedges", "hot")) /
        secs(("triangle_wedges", "uniform"))
      val cRatio = math.max(1.0,
        wedgeCount("hot").toDouble / wedgeCount("uniform"))
      if (tRatio > ratio * cRatio)
        failures += f"triangle_wedges: hot/uniform time ${tRatio}%.2fx > ${ratio}%.1fx wedge ratio ${cRatio}%.2fx"
    }

    // criterion (b): hot/uniform TIME ratio must not exceed ratio× the
    // hot/uniform CANDIDATE ratio — time decoupling from work is the
    // task-cliff signature the kernels are designed out of
    for (kernel <- Seq("ivf_topk", "lsh_topk")) {
      val tRatio = secs((kernel, "hot")) / secs((kernel, "uniform"))
      val cRatio = math.max(1.0,
        cands((kernel, "hot")).toDouble / cands((kernel, "uniform")))
      if (tRatio > ratio * cRatio)
        failures += f"$kernel: hot/uniform time ${tRatio}%.2fx > ${ratio}%.1fx candidate ratio ${cRatio}%.2fx"
    }

    failures.toSeq
    } finally Runner.deleteTree(skewPath) // probe corpora are throwaway
  }
}
