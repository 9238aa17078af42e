package graft.queries

import graft.{QueryDef, Tables}
import graft.vector.{IvfIndex, ProductQuantizer, QuantizedKMeans, SimilaritySearch}
import graft.util.Exact._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Embedding similarity-search queries. The oracle uses DuckDB's
  * list_cosine_similarity over CAST(... AS DOUBLE[]), which computes
  * dot/(sqrt(na)·sqrt(nb)) with left-to-right double accumulation —
  * verified bit-identical to graft.vector.VectorFunctions.cosine.
  * Similarities are rounded to 6dp BEFORE ranking/thresholding so both
  * engines make identical ordering decisions. */
object VectorQueries {

  private val sqlCos =
    "list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))"
  /** `cols` of the 5 best-ranked rows per query_id of CTE `scored`
    * (sim_r descending, ties to the smaller neighbor_id). */
  private def sqlTop5(cols: String): String =
    s"""SELECT $cols FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY sim_r DESC, neighbor_id) AS rank FROM scored) t
       |WHERE rank <= 5""".stripMargin
  /** `cols` of the `n` nearest rows per q_id of `from` by ADC
    * distance (adist ascending, ties to the smaller vec_id). */
  private[queries] def sqlAdcCut(cols: String, from: String, n: Int): String =
    s"""SELECT $cols FROM (
       |  SELECT $cols,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adist, vec_id) AS rk
       |  FROM $from) z
       |WHERE rk <= $n""".stripMargin
  /** A float as exact integer micro-units: floor(x·10⁶), the fixed
    * point every integer-L2 oracle (and QuantizedKMeans) works in. */
  private def sqlMicro(x: String): String = s"CAST(FLOOR(CAST($x AS DOUBLE) * 1000000) AS BIGINT)"
  /** CTE `<name>(vec_id, v)`: the embedding slice `vec` in micro-units. */
  private def sqlQuantized(name: String, vec: String = "embedding"): String =
    s"""$name AS MATERIALIZED (SELECT vec_id,
       |    list_transform($vec,
       |      x -> ${sqlMicro("x")}) AS v
       |  FROM embeddings)""".stripMargin
  /** The exact squared L2 distance between micro-unit vectors `a` and
    * `b`, as BIGINT. */
  private def sqlDist2(a: String, b: String): String =
    s"""CAST(list_sum(list_transform(range(1, len($a) + 1),
       |        j -> ($a[j] - $b[j]) * ($a[j] - $b[j]))) AS BIGINT)""".stripMargin
  /** nn09/nn11's exact side: the integer-L2 top-5 (q_id, vec_id) of
    * every quantized query `qz` (q_id, qv) over the quantized corpus `cz`
    * (vec_id, q). The scored queries×corpus stream goes into the
    * map-side min-heap, so it never touches a sort. */
  private def exactL2Top5(cz: DataFrame, qz: DataFrame): DataFrame =
    cz.crossJoin(broadcast(qz))
      .select(col("q_id"), col("vec_id"),
        QuantizedKMeans.dist2(col("q"), col("qv")).as("d2"))
      .groupBy("q_id")
      .agg(graft.topk.TopKAgg.min_k_long(col("d2"), col("vec_id"), 5).as("__top"))
      .select(col("q_id"), explode(col("__top")).as("__pair"))
      .select(col("q_id"), col("__pair.tag").as("vec_id"))
  /** [[exactL2Top5]]'s SQL twin: CTE `ex(q_id, vec_id)`, the integer-L2
    * top-5 of every 100th vector over the `qf` micro-unit vectors. */
  private val sqlExactL2Top5 =
    s"""ex AS (SELECT q_id, vec_id FROM (
       |  SELECT a.vec_id AS q_id, b.vec_id,
       |    ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
       |      ${sqlDist2("b.v", "a.v")},
       |      b.vec_id) AS rk
       |  FROM qf a JOIN qf b ON a.vec_id % 100 = 0) z
       |  WHERE rk <= 5)""".stripMargin
  /** nn09/nn11's output: per q_id of `exact`, recall@5 of the
    * approximate top-5 `hits` (q_id, vec_id), the hit counts as exact
    * integers and the ratio last. */
  private def recallAt5(exact: DataFrame, hits: DataFrame): DataFrame =
    exact.join(hits.select(col("q_id"), col("vec_id"), lit(1).as("hit")),
        Seq("q_id", "vec_id"), "left")
      .groupBy("q_id")
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hit"))
      .withColumn("recall",
        col("n_hit").cast("double") / col("n_exact"))
      .orderBy("q_id")
  /** [[recallAt5]]'s SQL twin over CTE `ex`, the approximate top-5
    * `hits` (a relation, optionally with its alias) joined as `alias`. */
  private def sqlRecallAt5(hits: String, alias: String): String =
    s"""SELECT ex.q_id, CAST(COUNT(*) AS BIGINT) AS n_exact,
       |  CAST(SUM(CASE WHEN $alias.vec_id IS NULL THEN 0 ELSE 1 END) AS BIGINT)
       |    AS n_hit,
       |  CAST(SUM(CASE WHEN $alias.vec_id IS NULL THEN 0 ELSE 1 END) AS DOUBLE)
       |    / COUNT(*) AS recall
       |FROM ex LEFT JOIN $hits
       |  ON ex.q_id = $alias.q_id AND ex.vec_id = $alias.vec_id
       |GROUP BY ex.q_id ORDER BY ex.q_id""".stripMargin
  /** semanticDedup's output over the closure of edge CTE `e` on nodes `s`. */
  private val sqlKeptAs =
    s"""${GraphQueries.sqlClosure("e", "s", "vec_id")}
       |SELECT vec_id AS id, cluster_id AS kept_as, vec_id = cluster_id AS is_kept
       |FROM lbl ORDER BY id""".stripMargin

  /** Exact brute-force cosine top-5 for a query subset — the ANN
    * exactness baseline. Queries broadcast; corpus scanned once. */
  val nn01BruteTopK = QueryDef("nn01_cosine_topk",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      SimilaritySearch.bruteForceTopK(emb, emb.filter(col("vec_id") % 100 === 0), k = 5)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },
    Some(s"""WITH scored AS (
            |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
            |    round($sqlCos, 6) AS sim_r
            |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
            |  WHERE a.vec_id % 100 = 0)
            |${sqlTop5("query_id, rank, neighbor_id, sim_r")} ORDER BY query_id, rank""".stripMargin))

  // The production lshTopK path (SplitMix64 signatures) is pinned in
  // SimilaritySpec: nn05 benches and oracle-bounds the same code at
  // capture-sized bands and nn07 is its value-exact portable twin, so
  // a rows-only registered variant would verify nothing more.

  /** Exact embedding near-duplicate pairs (cosine ≥ threshold) from a
    * probe subset against the full corpus. Threshold 0.4 because the
    * synthetic embeddings contain no engineered duplicates (max pairwise
    * cosine ≈ 0.49) — a higher cut would verify an empty set. */
  val nn03NearDup = QueryDef("nn03_embedding_neardup",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      SimilaritySearch.nearDupPairs(emb, emb.filter(col("vec_id") % 50 === 0), 0.4)
        .orderBy("id1", "id2")
    },
    Some(s"""SELECT a.vec_id AS id1, b.vec_id AS id2, round($sqlCos, 6) AS sim_r
            |FROM embeddings a JOIN embeddings b
            |  ON a.vec_id % 50 = 0 AND a.vec_id < b.vec_id
            |WHERE $sqlCos >= 0.4
            |ORDER BY id1, id2""".stripMargin))

  // The production IvfIndex.build/topK path at nProbe=4 is pinned in
  // SimilaritySpec (its recall floor): nn06 benches and oracle-gates
  // the same code all-probe — structurally exhaustive, verified
  // against the nn01 oracle verbatim — and nn10 is its value-exact
  // portable twin.

  /** LSH RECALL against the exact top-5, as a registered query the
    * oracle can bound. Capture-sized banding (24 single-bit bands: a
    * candidate needs only ONE agreeing hyperplane bit, per-neighbor
    * miss probability < 1e-9 at any similarity this corpus contains)
    * joins the LSH top-5 against the in-engine brute-force top-5; the
    * oracle replays the exact side in SQL and asserts full capture per
    * query. nn02 keeps the production parameters and its rows-only
    * recall spec; this query is the verification harness shape. */
  val nn05LshRecall = QueryDef("nn05_lsh_recall",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val qs = emb.filter(col("vec_id") % 100 === 0)
      val exact = SimilaritySearch.bruteForceTopK(emb, qs, k = 5)
        .select("query_id", "neighbor_id")
      val lsh = SimilaritySearch.lshTopK(emb, qs, k = 5, nBits = 24, nBands = 24)
        .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
      exact.join(lsh, Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(count(lit(1)).as("n_exact"),
          sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hit"))
        .withColumn("recall",
          round(col("n_hit").cast("double") / col("n_exact"), 6))
        .orderBy("query_id")
    },
    Some(s"""WITH scored AS (
            |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
            |    round($sqlCos, 6) AS sim_r
            |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
            |  WHERE a.vec_id % 100 = 0),
            |topk AS (${sqlTop5("query_id, neighbor_id")})
            |SELECT query_id, COUNT(*) AS n_exact, COUNT(*) AS n_hit,
            |  CAST(1.0 AS DOUBLE) AS recall
            |FROM topk GROUP BY query_id ORDER BY query_id""".stripMargin))

  /** SERVING-SHAPE scaling probe: the same capture-sized streaming LSH
    * as nn05, but with a FIXED 50-query batch (`vec_id < 5000`, the
    * sf0.1 probe set — present verbatim at every larger SF, since
    * ScaleUp replicas only shift ids up). nn05/nn07's `%100` probe
    * convention grows the query set with the corpus, so their decade
    * exponents (≥1.3 at sf1→sf10) measure the convention — Θ(q·n)
    * with q ∝ n — not the engine. This query pins the PRODUCTION
    * regime: a bounded serving batch against a growing corpus, where
    * the one corpus-sized cost is the scan+signature pass and the only
    * shuffle is queries-sized, so time must stay ~linear in corpus.
    * Oracle is the exact top-5 (nn01's shape) on the capped batch:
    * sound because nn05 hash-verifies full top-5 capture at these
    * exact banding params every round. */
  val nn13LshFixedBatch = QueryDef("nn13_lsh_fixed_batch",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val qs = emb.filter(col("vec_id") % 100 === 0 && col("vec_id") < 5000)
      SimilaritySearch.lshTopK(emb, qs, k = 5, nBits = 24, nBands = 24)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },
    Some(s"""WITH scored AS (
            |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
            |    round($sqlCos, 6) AS sim_r
            |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
            |  WHERE a.vec_id % 100 = 0 AND a.vec_id < 5000)
            |${sqlTop5("query_id, rank, neighbor_id, sim_r")} ORDER BY query_id, rank""".stripMargin))

  /** IVF partition-completeness: probing ALL cells must reproduce the
    * exact brute-force frame bit-for-bit — cells partition the corpus,
    * scoring uses the same rounding, and ranking uses the same
    * tie-break, so nProbe = nList is structurally exhaustive whatever
    * KMeans did. Verified against the nn01 oracle verbatim: any row
    * lost at a cell boundary (the classic IVF bug class) is a hash
    * mismatch here, with no dependence on quantizer quality. */
  val nn06IvfAllProbe = QueryDef.prepared("nn06_ivf_allprobe",
    (s, d) => IvfIndex.build(Tables.embeddings(s, d), nList = 16))(
    (s, d, idx) =>
      IvfIndex.topK(idx, Tables.embeddings(s, d).filter(col("vec_id") % 100 === 0),
        k = 5, nProbe = 16)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank"),
    nn01BruteTopK.oracle)

  /** PORTABLE hyperplane-LSH top-k under the FULL oracle gate — the
    * dd09/dd11 move applied to vector LSH, closing the rows-only gap on
    * the ANN side: ±1 hyperplanes derive from md5(j:c) parity (plan
    * literals here, re-derived by md5 in SQL), each signature bit is
    * sign(Σ emb[c]·plane[c]) with left-to-right double accumulation
    * (DuckDB list_reduce over an index-lambda product — bit-identical),
    * and banding + bucket join + exact cosine re-rank replay
    * relationally. A drift in plane derivation, accumulation order,
    * banding, or ranking is a value mismatch on every affected row.
    * Production ANN keeps nn02's compiled SplitMix64 signatures; this
    * is its cross-engine proof. */
  val nn07LshPortable = QueryDef("nn07_lsh_portable",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      SimilaritySearch.portableLshTopK(emb, emb.filter(col("vec_id") % 100 === 0),
        k = 5, nBits = 16, nBands = 4, dim = 64)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },
    Some(s"""WITH plane AS (
            |  SELECT j, list(CASE WHEN CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || CAST(c AS VARCHAR)), 1, 15)) AS UBIGINT) % 2 = 0
            |                      THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END ORDER BY c) AS p
            |  FROM (SELECT unnest(generate_series(0, 15)) AS j) jj
            |  CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS c) cc
            |  GROUP BY j),
            |proj AS (SELECT e.vec_id, pl.j,
            |           list_reduce(list_transform(CAST(e.embedding AS DOUBLE[]),
            |             (x, i) -> x * pl.p[i]), (a, b) -> a + b) AS pr
            |         FROM embeddings e CROSS JOIN plane pl),
            |sig AS (SELECT vec_id,
            |          CAST(SUM(CASE WHEN pr >= 0 THEN CAST(1 AS BIGINT) << j ELSE 0 END) AS BIGINT) AS s
            |        FROM proj GROUP BY vec_id),
            |qb AS (SELECT vec_id AS query_id, b AS band_id, (s >> (b * 4)) & 15 AS band_val
            |       FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b) bb
            |       WHERE vec_id % 100 = 0),
            |cb AS (SELECT vec_id AS neighbor_id, b AS band_id, (s >> (b * 4)) & 15 AS band_val
            |       FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b) bb),
            |pairs AS (SELECT DISTINCT query_id, neighbor_id
            |          FROM qb JOIN cb USING (band_id, band_val)
            |          WHERE query_id <> neighbor_id),
            |scored AS (SELECT p.query_id, p.neighbor_id, round($sqlCos, 6) AS sim_r
            |           FROM pairs p
            |           JOIN embeddings a ON a.vec_id = p.query_id
            |           JOIN embeddings b ON b.vec_id = p.neighbor_id)
            |${sqlTop5("query_id, rank, neighbor_id, sim_r")} ORDER BY query_id, rank""".stripMargin))

  /** Duplicate CLUSTERS from near-dup edges: embedding-cosine pairs
    * (≥ 0.3 within a vec_id%5 probe subset) fed to iterative min-label
    * connected components — the union-find pass that ends every
    * large-scale dedup. The oracle replays the closure with a DuckDB
    * recursive CTE, so the component structure (not just pair counts)
    * is verified: multi-hop chains must land in the same cluster.
    *
    * Uses the large-star/small-star contraction variant: profiled equal
    * to propagate+jump on this workload (~3.0 s warm at sf0.1 either
    * way — the time is near-dup edge generation + per-round scheduling
    * floor, not labeling), and its O(log diameter) alternation bound is
    * the one that survives long chains at 100 TB. */
  val dd06DupClusters = QueryDef.prepared("dd06_dup_clusters",
    (s, d) => {
      val sub = Tables.embeddings(s, d).filter(col("vec_id") % 5 === 0)
      val edges = SimilaritySearch.nearDupPairs(sub, sub, threshold = 0.3)
      graft.graph.ConnectedComponents.runStars(
        sub.select(col("vec_id").as("id")), edges.select("id1", "id2"))
    })(
    (_, _, clusters) => clusters
      .groupBy("cluster_id").agg(count(lit(1)).as("n_members"))
      .orderBy("cluster_id"),
    Some(s"""WITH RECURSIVE
            |s AS (SELECT * FROM embeddings WHERE vec_id % 5 = 0),
            |e(id1, id2) AS (SELECT a.vec_id, b.vec_id
            |  FROM s a JOIN s b ON a.vec_id < b.vec_id
            |  WHERE $sqlCos >= 0.3),
            |${GraphQueries.sqlClosure("e", "s", "vec_id")}
            |SELECT cluster_id, COUNT(*) AS n_members
            |FROM lbl GROUP BY cluster_id ORDER BY cluster_id""".stripMargin))

  /** int8 scalar quantization: per-vector scale, code sum/extremes, and
    * max reconstruction error — codes and error replayed exactly by the
    * oracle (all-double arithmetic; round-half-away-from-zero agrees in
    * both engines). The quantized representation is the 4x memory/IO
    * lever for corpus-scale ANN. */
  val vq01ScalarQuant = QueryDef("vq01_scalar_quant",
    (s, d) => {
      import graft.vector.Quantization
      Quantization.quantize(Tables.embeddings(s, d)).select(
        col("vec_id"),
        round(col("qscale"), 6).as("qscale_r"),
        aggregate(col("qcodes"), lit(0L), (acc, x) => acc + x).as("qsum"),
        array_min(col("qcodes")).cast("long").as("qmin"),
        array_max(col("qcodes")).cast("long").as("qmax"),
        round(Quantization.sq8MaxAbsError(
          col("embedding"), col("qscale"), col("qcodes")), 6).as("err_r"))
        .orderBy("vec_id")
    },
    Some("""WITH q AS (SELECT vec_id,
           |    CAST(embedding AS DOUBLE[]) AS v,
           |    list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) / 127 AS s
           |  FROM embeddings),
           |c AS (SELECT vec_id, s,
           |    list_transform(v, x -> CASE WHEN s = 0 THEN 0
           |                                ELSE CAST(round(x / s) AS BIGINT) END) AS codes,
           |    list_max(list_transform(v, x -> abs(
           |      (CASE WHEN s = 0 THEN 0.0 ELSE round(x / s) * s END) - x))) AS err
           |  FROM q)
           |SELECT vec_id, round(s, 6) AS qscale_r,
           |  CAST(list_sum(codes) AS BIGINT) AS qsum,
           |  CAST(list_min(codes) AS BIGINT) AS qmin,
           |  CAST(list_max(codes) AS BIGINT) AS qmax,
           |  round(err, 6) AS err_r
           |FROM c ORDER BY vec_id""".stripMargin))

  /** SemDeDup-shaped semantic dedup over an embedding subset: cosine
    * edges ≥ 0.25, transitive closure, keep the min-id representative —
    * the full id→representative mapping (not just cluster sizes like
    * dd06), which is what a curation pipeline joins against to drop
    * semantic near-duplicates while recording what they duplicated.
    * Oracle replays the closure as a recursive CTE over the exact
    * cosine edge set. */
  val sd01SemanticDedup = QueryDef.prepared("sd01_semantic_dedup",
    (s, d) => SimilaritySearch.semanticDedup(
      Tables.embeddings(s, d).filter(col("vec_id") % 4 === 0), threshold = 0.25))(
    (_, _, kept) => kept.orderBy("id"),
    Some(s"""WITH RECURSIVE
            |s AS (SELECT * FROM embeddings WHERE vec_id % 4 = 0),
            |e(id1, id2) AS (SELECT a.vec_id, b.vec_id
            |  FROM s a JOIN s b ON a.vec_id < b.vec_id
            |  WHERE $sqlCos >= 0.25),
            |$sqlKeptAs""".stripMargin))

  /** SEMANTIC DEDUP, BANDED KERNEL (the 100 TB path): same contraction
    * and output contract as sd01, but edges come from
    * `bandedNearDupPairs` — band EQUI-join on 16 independent width-16
    * hyperplane band signatures (`array<long>`, 256 planes), row-local
    * emit-once, exact-cosine verify at θ=0.9 — so candidate volume is
    * qualifying pairs + ~2.4·10⁻⁴ of cross pairs, never corpus².
    *
    * The synthetic embeddings carry no natural ≥0.9 pairs (max
    * pairwise cosine ≈ 0.44), so the query builds its own SemDeDup
    * regime deterministically: each corpus vector gains one exact
    * ×2-scaled twin (id + 10⁸). Doubling a float is exact (exponent
    * bump), every plane sum scales exactly, so twin pairs have
    * cosine 1, IDENTICAL band signatures, and capture probability 1 —
    * the oracle's exact edge set is reproduced with no probabilistic
    * slack, in both engines, which is what lets a banded kernel be
    * hash-checked at all. Cross twin pairs inherit the base cosines
    * (cos(x,2y) = cos(x,y) ≤ 0.44) and stay under θ. */
  val sd02SemanticDedupBanded = QueryDef.prepared("sd02_semantic_dedup_banded",
    (s, d) => {
      val base = Tables.embeddings(s, d).filter(col("vec_id") % 4 === 0)
        .select("vec_id", "embedding")
      val twins = base.select((col("vec_id") + 100000000L).as("vec_id"),
        transform(col("embedding"), x => (x * lit(2.0f)).cast("float"))
          .as("embedding"))
      SimilaritySearch.semanticDedupBanded(base.unionByName(twins), threshold = 0.9)
    })(
    (_, _, kept) => kept.orderBy("id"),
    Some(s"""WITH RECURSIVE
            |base AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 4 = 0),
            |s AS (SELECT vec_id, embedding FROM base
            |  UNION ALL
            |  SELECT vec_id + 100000000,
            |    list_transform(embedding, x -> CAST(x * 2 AS FLOAT))
            |  FROM base),
            |e(id1, id2) AS (SELECT a.vec_id, b.vec_id
            |  FROM s a JOIN s b ON a.vec_id < b.vec_id
            |  WHERE $sqlCos >= 0.9),
            |$sqlKeptAs""".stripMargin))

  /** EMBEDDING-COLUMN PROFILE (per-dimension mean/variance/min/max —
    * the dead-dimension and scale-drift audit run before any index
    * build or quantizer fit). Values quantize to integer micro-units
    * (floor(x·10⁶), float→double cast is exact and floor is
    * deterministic) so every sum is an INTEGER sum — order-independent
    * across partitionings and engines — and mean/variance are
    * assembled after aggregation from exactly-determined doubles via
    * the cv01 closed form.
    *
    * 100 TB: posexplode is row-local; ONE partial-agg shuffle keyed by
    * dimension index (output is dim-count-sized, ≤ a few thousand rows
    * regardless of corpus size). The quantized integer Σx² bounds:
    * |x|≤10 ⇒ x_q²≤10¹⁴, safe to ~10⁴ rows per dim in BIGINT before
    * DECIMAL(38) widening — which is what the sums use. */
  val em01DimStats = QueryDef("em01_dim_stats",
    (s, d) => {
      import org.apache.spark.sql.types.DoubleType
      val q = Tables.embeddings(s, d)
        .select(posexplode(col("embedding")).as(Seq("dim", "x")))
        .select(col("dim").cast("long").as("dim"),
          floor(col("x").cast(DoubleType) * 1000000L).cast("long").as("xq"))
      val nD = col("n").cast(DoubleType)
      q.groupBy("dim").agg(
          count(lit(1)).as("n"),
          exactSum(int128(col("xq"))).as("sx"),
          exactSum(int128(col("xq")) * int128(col("xq"))).as("sxx"),
          min(col("xq")).as("min_q"), max(col("xq")).as("max_q"))
        .select(col("dim"), col("n"),
          round(col("sx") / nD / 1e6, 6).as("mean"),
          round((nD * col("sxx") - col("sx") * col("sx")) / nD / nD / 1e12, 6)
            .as("variance"),
          round(col("min_q") / 1e6, 6).as("min_v"),
          round(col("max_q") / 1e6, 6).as("max_v"))
        .orderBy("dim")
    },
    Some(s"""WITH q AS (SELECT
           |    CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim,
           |    ${sqlMicro("unnest(embedding)")} AS xq
           |  FROM embeddings),
           |a AS (SELECT dim, COUNT(*) AS n,
           |    ${sqlExactSum(sqlInt128("xq"))} AS sx,
           |    ${sqlExactSum(s"${sqlInt128("xq")} * ${sqlInt128("xq")}")} AS sxx,
           |    MIN(xq) AS min_q, MAX(xq) AS max_q
           |  FROM q GROUP BY dim)
           |SELECT dim, n,
           |  ROUND(sx / n / 1e6, 6) AS mean,
           |  ROUND((n * sxx - sx * sx) / n / n / 1e12, 6) AS variance,
           |  ROUND(min_q / 1e6, 6) AS min_v,
           |  ROUND(max_q / 1e6, 6) AS max_v
           |FROM a ORDER BY dim""".stripMargin))

  /** DETERMINISTIC K-MEANS (integer-quantized Lloyd, k=8, 3
    * iterations) — the coarse-quantizer trainer behind IVF cells and
    * k-means-sharded ANN, in the portable-exact form: micro-unit
    * quantization makes every squared distance an exact BIGINT, init
    * is the k lowest-id vectors, argmin ties break by cell id, and
    * centroid updates are exact floor-division means — so the FULL
    * per-vector assignment (all 500 rows, with distances) is a total
    * deterministic function of the input that DuckDB replays with the
    * shared Lloyd replay [[pqChain]] at m = 1 (3 rounds unrolled as
    * chained CTEs). `IvfIndex.build` wraps Spark ML KMeans (float, seeded,
    * order-sensitive reductions — unverifiable cross-engine); km01 is
    * the variant that PROVES the distributed assign/update math.
    *
    * 100 TB: centroids are k×dim and ride with the tasks; assignment
    * is row-local (no shuffle); each round is one job whose partial
    * sums tree-merge to k×dim longs regardless of corpus size. The
    * prepare step runs 1 + iters jobs (QuantizedKMeansSpec pins 4).
    * See graft.vector.QuantizedKMeans. */
  val km01KMeans = QueryDef.prepared("km01_kmeans",
    (s, d) => QuantizedKMeans.centroids(Tables.embeddings(s, d), k = 8, iters = 3))(
    (s, d, cents) =>
      QuantizedKMeans.assignTo(Tables.embeddings(s, d), cents).orderBy("vec_id"),
    Some(s"""WITH ${pqChain(0, m = 1, k = 8, iters = 3)}
            |SELECT vec_id, cell_id, d2 FROM f0 ORDER BY vec_id""".stripMargin))

  /** PRODUCT QUANTIZATION (the FAISS IVF-PQ compression step; see
    * graft.vector.ProductQuantizer): 64 dims → 4 subspaces × 4-entry
    * codebooks, 2 Lloyd rounds each on [[graft.vector.QuantizedKMeans]]
    * — so every codebook centroid, code assignment, and quantization
    * error term is integer-exact and deterministic. Output: per vector
    * its 4 code ids + the exact total squared quantization error (the
    * decomposed per-subspace argmin distances summed). The oracle
    * replays all 4 subspace chains (slice → quantize → init →
    * 2 updates → final argmin, [[pqChain]]) and joins them.
    *
    * 100 TB: all 4 subspaces train and encode in one long-format pass
    * keyed by sub_id (codebooks ride with the tasks, row-local
    * argmin, one job per Lloyd round); production trains on a capped
    * sample and runs one full-corpus encode pass. */
  val vq02ProductQuant = QueryDef.prepared("vq02_product_quant",
    pqTrain(m = 4, k = 4, iters = 2))(
    (s, d, book) => ProductQuantizer.encode(Tables.embeddings(s, d), book)
      .groupBy("vec_id").agg(
        max(when(col("sub_id") === 0, col("code"))).as("c0"),
        max(when(col("sub_id") === 1, col("code"))).as("c1"),
        max(when(col("sub_id") === 2, col("code"))).as("c2"),
        max(when(col("sub_id") === 3, col("code"))).as("c3"),
        sum(col("d2")).as("err"))
      .orderBy("vec_id"),
    Some(
      s"""WITH ${(0 until 4).map(pqChain(_, m = 4, k = 4, iters = 2)).mkString(",\n")}
         |SELECT vec_id, f0.cell_id AS c0, f1.cell_id AS c1,
         |  f2.cell_id AS c2, f3.cell_id AS c3,
         |  f0.d2 + f1.d2 + f2.d2 + f3.d2 AS err
         |FROM f0 JOIN f1 USING (vec_id) JOIN f2 USING (vec_id)
         |  JOIN f3 USING (vec_id)
         |ORDER BY vec_id""".stripMargin))

  /** PQ-ADC TOP-K SEARCH (the query side of vq02; see
    * graft.vector.ProductQuantizer.adcTopK): database vectors are
    * represented ONLY by their 4 code ids; a query's distance to a
    * vector is the sum over subspaces of its exact quantized distance
    * to the centroid each code names — computed from a per-query m×k
    * lookup table, never a full-vector distance per pair. Queries =
    * every 100th corpus vector; top-5 per query, ties by id. The
    * oracle reuses vq02's subspace chains and replays the LUT build,
    * code-indexed joins, sum, and ranked cut.
    *
    * 100 TB: the LUT is queries×m×k rows (broadcast-sized at any
    * corpus scale); the only corpus-sized stage is the code-keyed
    * join; the top-k window partitions by query. */
  val nn08PqAdc = QueryDef.prepared("nn08_pq_adc", pqTrain(m = 4, k = 4, iters = 2))(
    (s, d, book) => adcTop5(Tables.embeddings(s, d), book),
    Some(adcTopKOracle(trainMod = 1)))

  /** PQ codebooks over the embeddings (64 dims) — the prepare step of
    * vq02 and nn08–nn12. */
  private def pqTrain(m: Int, k: Int, iters: Int, trainMod: Long = 1)(
      s: SparkSession, d: String): ProductQuantizer.Codebooks =
    ProductQuantizer.train(Tables.embeddings(s, d), dims = 64, m = m, k = k,
      iters = iters, trainMod = trainMod)

  /** Every 100th vector as a query (q_id, embedding): nn08–nn12's probe set. */
  private def adcQueries(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("embedding"))

  /** nn08/nn12: the ADC top-5 of every 100th vector under `book`. */
  private def adcTop5(emb: DataFrame, book: ProductQuantizer.Codebooks): DataFrame =
    ProductQuantizer.adcTopK(emb, adcQueries(emb), book, topK = 5)
      .orderBy("q_id", "adist", "vec_id")

  /** nn08's oracle, parameterized by the training slice: the full ADC
    * replay (4 subspace chains → per-query LUTs → code-indexed joins →
    * summed adist → ranked cut). trainMod = 1 reproduces nn08's text
    * exactly; trainMod > 1 is the sampled-training twin (nn12). */
  private def adcTopKOracle(trainMod: Long): String = {
    s"""WITH ${(0 until 4).map(pqChain(_, m = 4, k = 4, iters = 2, trainMod)).mkString(",\n")},
       |${adcLuts(m = 4, iters = 2)},
       |u AS (SELECT * FROM j0 UNION ALL SELECT * FROM j1
       |      UNION ALL SELECT * FROM j2 UNION ALL SELECT * FROM j3),
       |a AS (SELECT q_id, vec_id, CAST(SUM(d2) AS BIGINT) AS adist
       |      FROM u GROUP BY q_id, vec_id)
       |${sqlAdcCut("q_id, vec_id, adist", "a", 5)} ORDER BY q_id, adist, vec_id""".stripMargin
  }

  /** SAMPLED-TRAIN PQ-ADC (nn08 under the 100 TB training cap, as a
    * registered query so the capped recipe is oracle-proven rather than
    * scaladoc prose): codebooks train on the deterministic 1/4 id-slice
    * (`trainMod = 4` — at corpus scale the cap is what makes Lloyd
    * iterations affordable; FAISS trains on ~256 vectors/centroid), and
    * the encode + LUT + ranked cut still cover EVERY vector. Because
    * the slice is a pure function of ids — not a file-order limit —
    * DuckDB replays the whole capped pipeline end-to-end and the
    * result hash-matches: the sample cap provably changes only which
    * vectors Lloyd sees, nothing downstream. Recall parity vs full
    * training is pinned in ProductQuantizerSpec. */
  val nn12AdcSampledTrain = QueryDef.prepared("nn12_adc_sampled_train",
    pqTrain(m = 4, k = 4, iters = 2, trainMod = 4))(
    (s, d, book) => adcTop5(Tables.embeddings(s, d), book),
    Some(adcTopKOracle(trainMod = 4)))

  /** PQ-ADC RECALL vs EXACT L2 (nn08's quality companion — the
    * dd08/nn05 pattern: every approximate path ships with an
    * oracle-checked measurement of what it trades). Exact side:
    * brute-force quantized-L2 top-5 per query over FULL vectors
    * (integer distances, total tie-break — both engines rank
    * identically); approximate side: nn08's ADC top-5. Recall@5 per
    * query as exact integers, the ratio last. Unlike nn05 (whose LSH
    * params reach recall 1.0 and whose oracle pins that), ADC recall
    * genuinely varies — so the oracle replays BOTH paths end-to-end
    * and the per-query hit counts themselves hash-match. At these
    * deliberately tiny params (m=4, k=4 → 4⁴ = 256 possible codes for
    * 500 vectors) measured recall@5 is 0.2–0.4 at sf0.01 — the honest
    * cost of 64-float→4-code compression; production PQ uses m=8–16,
    * k=256 per subspace and re-ranks ADC shortlists with full
    * vectors. */
  val nn09AdcRecall = QueryDef.prepared("nn09_adc_recall", pqTrain(m = 4, k = 4, iters = 2))(
    (s, d, book) => {
      val emb = Tables.embeddings(s, d)
      val qs = adcQueries(emb)
      val adc = ProductQuantizer.adcTopK(emb, qs, book, topK = 5)
      val corpus = QuantizedKMeans.quantize(emb, "vec_id", "embedding")
      val queries = QuantizedKMeans.quantize(qs, "q_id", "embedding")
        .withColumnRenamed("q", "qv")
      recallAt5(exactL2Top5(corpus, queries), adc)
    },
    Some {
      s"""WITH ${(0 until 4).map(pqChain(_, m = 4, k = 4, iters = 2)).mkString(",\n")},
         |${adcLuts(m = 4, iters = 2)},
         |u AS (SELECT * FROM j0 UNION ALL SELECT * FROM j1
         |      UNION ALL SELECT * FROM j2 UNION ALL SELECT * FROM j3),
         |adc_all AS (SELECT q_id, vec_id, CAST(SUM(d2) AS BIGINT) AS adist
         |      FROM u GROUP BY q_id, vec_id),
         |adc_top AS (${sqlAdcCut("q_id, vec_id", "adc_all", 5)}),
         |${sqlQuantized("qf")},
         |$sqlExactL2Top5
         |${sqlRecallAt5("adc_top t", "t")}""".stripMargin
    })

  /** PORTABLE IVF TOP-K (nn04's oracle-exact companion — closing the
    * last approximate path without a value-exact replay: nn02→nn07
    * did it for hyperplane LSH, dd04→dd11 for MinHash; this does it
    * for IVF). The coarse quantizer is
    * [[graft.vector.QuantizedKMeans]] (k=16 cells, 2 Lloyd rounds)
    * instead of nn04's seeded float ML KMeans, so cell assignment,
    * probe selection (nProbe=4 nearest cells, ties → cell id), the
    * candidate set, and the exact integer-L2 re-rank are ALL total
    * deterministic functions of the input — DuckDB replays the entire
    * index build + search and the top-5 per query hash-matches.
    * Same physical shapes as nn04 (broadcast centroids, cell-pruned
    * candidates, bounded per-query window); production keeps ML
    * KMeans for quantizer quality, this proves the search machinery. */
  val nn10IvfPortable = QueryDef.prepared("nn10_ivf_portable",
    (s, d) => QuantizedKMeans.centroids(Tables.embeddings(s, d), k = 16, iters = 2))(
    (s, d, cents) => {
      import org.apache.spark.sql.expressions.Window
      val emb = Tables.embeddings(s, d)
      val cells = QuantizedKMeans.assignTo(emb, cents)
        .select(col("vec_id"), col("cell_id"))
      val qs = adcQueries(emb)
      val wProbe = Window.partitionBy("q_id").orderBy(col("d2"), col("cell_id"))
      val probes = QuantizedKMeans.distancesTo(qs, cents, "q_id")
        .withColumn("__rk", row_number().over(wProbe))
        .filter(col("__rk") <= 4).select("q_id", "cell_id")
      val qz = QuantizedKMeans.quantize(qs, "q_id", "embedding")
        .withColumnRenamed("q", "qv")
      val cz = QuantizedKMeans.quantize(emb, "vec_id", "embedding")
      val wTop = Window.partitionBy("q_id").orderBy(col("d2"), col("vec_id"))
      probes.join(cells, "cell_id")
        .join(broadcast(qz), "q_id")
        .join(cz, "vec_id")
        .select(col("q_id"), col("vec_id"),
          QuantizedKMeans.dist2(col("q"), col("qv")).as("d2"))
        .withColumn("rank", row_number().over(wTop).cast("long"))
        .filter(col("rank") <= 5)
        .orderBy("q_id", "rank")
    },
    Some {
      s"""WITH ${pqChain(0, m = 1, k = 16, iters = 2)},
         |probes AS (SELECT q_id, cell_id FROM (
         |  SELECT q_id, cell_id,
         |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY d2, cell_id) AS rk
         |  FROM (SELECT q.vec_id AS q_id, c.cell_id, ${sqlDist2("q.v", "c.c")} AS d2
         |    FROM q0 q CROSS JOIN c0_2 c WHERE q.vec_id % 100 = 0) z) y
         |  WHERE rk <= 4),
         |cand AS (SELECT p.q_id, s.vec_id FROM probes p
         |  JOIN f0 s ON p.cell_id = s.cell_id)
         |SELECT q_id, vec_id, d2, rank FROM (
         |  SELECT q_id, vec_id, d2,
         |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY d2, vec_id) AS rank
         |  FROM (SELECT c.q_id, c.vec_id, ${sqlDist2("a.v", "b.v")} AS d2
         |    FROM cand c JOIN q0 a ON a.vec_id = c.q_id
         |    JOIN q0 b ON b.vec_id = c.vec_id) z) y
         |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin
    })

  /** PRODUCTION-SHAPED PQ-ADC WITH EXACT RE-RANK (the missing half of
    * nn09's story: nn08/nn09 run deliberately tiny codebooks — m=4,
    * k=4, 256 possible codes — and honestly measure recall@5 of
    * 0.2–0.4; this query runs the production RECIPE and shows it
    * recovers the recall). Three changes, each the real-world lever:
    *  - m=8 subspaces × k=64 codes (64⁸ ≈ 2.8e14 possible codes, vs
    *    nn08's 256): the production codebook resolution (k=256 needs
    *    more training vectors per cell than the 500-row sf0.01 corpus
    *    has). ONE Lloyd round: measured recall is identical to two
    *    rounds on this isotropic corpus (1.00/1.00/0.94 across SFs
    *    either way) and each round is a full sequential re-scan in
    *    BOTH engines, so the second round is pure cost;
    *  - ADC returns a top-200 SHORTLIST, not the final answer. The
    *    shortlist is deeper than a real corpus would need (top-20
    *    measured 0.72, top-100 0.84-0.87 at sf0.1) because this
    *    corpus is RANDOM 64-dim data whose pairwise distances
    *    concentrate — the 5th-vs-200th-neighbor gap shrinks as the
    *    corpus grows while the quantization error doesn't — whereas
    *    real embedding corpora have cluster structure. The recipe
    *    (shortlist sized to the measured recall floor, then re-rank)
    *    is the production recipe either way, and the shortlist is a
    *    VANISHING corpus fraction at scale: 10% of sf0.1's 2000
    *    vectors, 2e-7 of a 1B-vector corpus;
    *  - the shortlist re-ranks by EXACT full-vector integer L2 —
    *    200 full-vector distances per query, vs the corpus-sized scan
    *    brute force needs.
    * Output: per-query recall@5 of the re-ranked top-5 vs the exact
    * brute-force top-5 (integer hit counts — the nn09 shape). Because
    * every stage (codebooks, codes, LUTs, shortlist, re-rank, exact
    * side) is integer-exact and totally tie-broken, DuckDB replays the
    * ENTIRE pipeline and the per-query rows hash-match. The ≥ 0.9
    * recall floor is pinned by SimilaritySpec (measured mean 1.00 at
    * sf0.001/sf0.01, 0.94 at sf0.1 — vs 0.2–0.4 for nn08's toy
    * params).
    *
    * 100 TB: ADC cost is unchanged from nn08 (code-keyed joins + m×k
    * LUT); the re-rank touches topK=200 full vectors per query — the
    * only stage reading full vectors, and it's query-bounded, which is
    * exactly why the production recipe is shortlist-then-rerank. */
  val nn11AdcRerank = QueryDef.prepared("nn11_adc_rerank", pqTrain(m = 8, k = 64, iters = 1))(
    (s, d, book) => {
      val emb = Tables.embeddings(s, d)
      val qs = adcQueries(emb)
      val shortlist = ProductQuantizer.adcTopK(emb, qs, book, topK = 200)
        .select("q_id", "vec_id")
      val qz = QuantizedKMeans.quantize(qs, "q_id", "embedding")
        .withColumnRenamed("q", "qv")
      val cz = QuantizedKMeans.quantize(emb, "vec_id", "embedding")
      val wTop = org.apache.spark.sql.expressions.Window
        .partitionBy("q_id").orderBy(col("d2"), col("vec_id"))
      val reranked = shortlist
        .join(broadcast(qz), "q_id").join(cz, "vec_id")
        .select(col("q_id"), col("vec_id"),
          QuantizedKMeans.dist2(col("q"), col("qv")).as("d2"))
        .withColumn("__rk", row_number().over(wTop))
        .filter(col("__rk") <= 5)
      recallAt5(exactL2Top5(cz, qz), reranked)
    },
    Some {
      val m = 8
      val unions = (0 until m).map(s => s"SELECT * FROM j$s")
        .mkString(" UNION ALL ")
      s"""WITH ${(0 until m).map(pqChain(_, m = m, k = 64, iters = 1)).mkString(",\n")},
         |${adcLuts(m, iters = 1)},
         |u AS ($unions),
         |adc_all AS (SELECT q_id, vec_id, CAST(SUM(d2) AS BIGINT) AS adist
         |      FROM u GROUP BY q_id, vec_id),
         |shortlist AS (${sqlAdcCut("q_id, vec_id", "adc_all", 200)}),
         |${sqlQuantized("qf")},
         |rr AS (SELECT q_id, vec_id FROM (
         |  SELECT s.q_id, s.vec_id,
         |    ROW_NUMBER() OVER (PARTITION BY s.q_id ORDER BY
         |      ${sqlDist2("b.v", "a.v")},
         |      s.vec_id) AS rk
         |  FROM shortlist s JOIN qf a ON a.vec_id = s.q_id
         |    JOIN qf b ON b.vec_id = s.vec_id) z
         |  WHERE rk <= 5),
         |$sqlExactL2Top5
         |${sqlRecallAt5("rr", "rr")}""".stripMargin
    })

  /** The one SQL Lloyd replay, shared by every k-means/PQ oracle
    * (km01, vq02, nn08–nn12): subspace `s` of `m` — the whole vector
    * when m = 1 — quantized (`q$s`), its k lowest-id vectors as cells
    * 0..k−1 (`c${s}_0`), `iters` Lloyd updates (`c${s}_$i`) and the
    * final argmin assignment (vec_id, cell_id, d2) (`f$s`). AS
    * MATERIALIZED on the multi-referenced frames (DuckDB inlines CTE
    * references otherwise). `trainMod > 1` replays the deterministic
    * sampled-training recipe (init and Lloyd rounds see only
    * vec_id ≡ 0 mod trainMod; the final argmin still covers every
    * vector) — the SQL twin of [[graft.vector.ProductQuantizer]]'s
    * trainMod parameter. */
  private def pqChain(s: Int, m: Int, k: Int, iters: Int,
                      trainMod: Long = 1): String = {
    val len = 64 / m
    val vec = if (m == 1) "embedding" else s"embedding[${s * len + 1}:${(s + 1) * len}]"
    val trainWhere = if (trainMod > 1) s"WHERE vec_id % $trainMod = 0 " else ""
    val trainAnd = if (trainMod > 1) s" WHERE q.vec_id % $trainMod = 0" else ""
    val base =
      s"""${sqlQuantized(s"q$s", vec)},
         |c${s}_0 AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1
         |      AS BIGINT) AS cell_id, v AS c
         |  FROM (SELECT * FROM q$s ${trainWhere}ORDER BY vec_id LIMIT $k)),""".stripMargin
    val its = (1 to iters).map { i =>
      s"""a${s}_$i AS (SELECT vec_id, v, cell_id FROM (
         |    SELECT vec_id, v, cell_id,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cell_id) AS rk
         |    FROM (SELECT q.vec_id, q.v, c.cell_id,
         |        ${sqlDist2("q.v", "c.c")} AS d2
         |      FROM q$s q CROSS JOIN c${s}_${i - 1} c$trainAnd) z) y
         |  WHERE rk = 1),
         |s${s}_$i AS (SELECT cell_id, i, CAST(SUM(v[i]) AS BIGINT) AS sm,
         |    COUNT(*) AS n
         |  FROM (SELECT cell_id, v, unnest(range(1, len(v) + 1)) AS i
         |        FROM a${s}_$i) z
         |  GROUP BY cell_id, i),
         |c${s}_$i AS (SELECT cell_id,
         |    list((sm - (((sm % n) + n) % n)) // n ORDER BY i) AS c
         |  FROM s${s}_$i GROUP BY cell_id),""".stripMargin
    }.mkString("\n")
    val fin =
      s"""f$s AS MATERIALIZED (SELECT vec_id, cell_id, d2 FROM (
         |  SELECT vec_id, cell_id, d2,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cell_id) AS rk
         |  FROM (SELECT q.vec_id, c.cell_id,
         |      ${sqlDist2("q.v", "c.c")} AS d2
         |    FROM q$s q CROSS JOIN c${s}_$iters c) z) y
         |  WHERE rk = 1)""".stripMargin
    s"$base\n$its\n$fin"
  }

  /** The ADC replay over [[pqChain]]'s `m` subspaces: per subspace
    * the query-side lookup table `l$s` (queries = every 100th vector,
    * against the codebook after `iters` rounds) and its code-indexed
    * join `j$s` (q_id, vec_id, d2). */
  private def adcLuts(m: Int, iters: Int): String = (0 until m).map { s =>
    s"""l$s AS (SELECT q.vec_id AS q_id, c.cell_id,
       |    ${sqlDist2("q.v", "c.c")} AS d2
       |  FROM q$s q CROSS JOIN c${s}_$iters c WHERE q.vec_id % 100 = 0),
       |j$s AS (SELECT l.q_id, f.vec_id, l.d2
       |  FROM f$s f JOIN l$s l ON f.cell_id = l.cell_id)""".stripMargin
  }.mkString(",\n")

  val all: Seq[QueryDef] = Seq(nn01BruteTopK, nn03NearDup,
    nn05LshRecall, nn06IvfAllProbe, nn07LshPortable,
    dd06DupClusters, vq01ScalarQuant, sd01SemanticDedup,
    sd02SemanticDedupBanded, em01DimStats,
    km01KMeans, vq02ProductQuant, nn08PqAdc, nn09AdcRecall,
    nn10IvfPortable, nn11AdcRerank, nn12AdcSampledTrain,
    nn13LshFixedBatch)
}
