package graft.vector

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PRODUCT QUANTIZATION (Jégou et al., the FAISS IVF-PQ compression
  * step): split each vector into `m` subvectors, learn an independent
  * k-entry codebook per subspace, encode every vector as its m nearest
  * code ids — dim×4 bytes compress to m small ints, and the exact
  * per-subspace squared distance to the chosen code IS the vector's
  * quantization error, decomposed.
  *
  * Same integer-exact Lloyd math as [[QuantizedKMeans]] (micro-unit
  * coordinates, k-lowest-id init, argmin ties to the lowest cell,
  * exact floor-div centroid updates), so the ENTIRE train+encode
  * pipeline — every codebook centroid, every code assignment, every
  * error term — is a total deterministic function of the input,
  * replayable cross-engine. Float PQ trainers can't make that claim;
  * this one proves the math, and the production path swaps in more
  * iterations/codes with the same shapes.
  *
  * Scale shape — LONG FORMAT, all m subspaces in one pass: each
  * vector explodes once into m (sub_id, subvector) rows, and every
  * stage keys by sub_id, so a Lloyd round or an encode scans the
  * corpus once whatever m is —
  *  - TRAIN: per Lloyd round, ONE corpus scan in ONE job; the m×k
  *    codebook rides with the tasks (row-local argmin, no corpus
  *    shuffle) and the partial sums tree-merge to m×k×(dim/m) = k×dim
  *    longs regardless of corpus size.
  *  - ENCODE: one scan, one broadcast argmin — m codes per vector.
  * At 100 TB you'd train codebooks on a capped sample and run ONE
  * full-corpus encode pass — that recipe is the `trainMod` parameter
  * of [[train]] (train on the deterministic 1/trainMod id-slice,
  * [[encode]]/[[adcTopK]] everything; the IvfIndex.build pattern, but
  * as a DETERMINISTIC slice rather than file-order limit, so the sampled
  * path stays replayable cross-engine — nn12 oracle-matches it in
  * DuckDB, and ProductQuantizerSpec pins recall parity vs full
  * training). ProductQuantizerSpec also pins m=1 ≡ plain k-means.
  */
object ProductQuantizer {

  /** `slice` silently ignores trailing dimensions when `dims` under-
    * states the true vector length, so codes/errors would be computed
    * on truncated vectors with no error anywhere. Guard: the length
    * check RIDES IN THE PLAN (the fq01 `assert_true` pattern) — every
    * row is verified where its vector is consumed and a mismatch
    * raises at execution, while plan construction stays zero-job
    * (LazinessSpec). Checking every row rather than one sampled row is
    * free inside codegen (an array-length compare) and strictly
    * stronger: a single ragged row can't slip past a sample. */
  private[graft] def dimsGuarded(df: DataFrame, dims: Int, vecCol: String): DataFrame =
    df.withColumn(vecCol,
      when(size(col(vecCol)) === dims, col(vecCol))
        .otherwise(raise_error(concat(
          lit(s"dims=$dims but column '$vecCol' has length "),
          size(col(vecCol)).cast("string"),
          lit(": slice() would silently truncate — pass the true vector length")))))

  /** Long quantized subspace format: one (keyCol, sub_id, q) row per
    * vector per subspace — quantization is elementwise, so slicing the
    * quantized array equals quantizing the slice. ONE scan emits all
    * m rows per vector; every downstream stage keys by sub_id. */
  private[graft] def subspaces(df: DataFrame, dims: Int, m: Int,
                        keyCol: String, vecCol: String): DataFrame = {
    val len = dims / m
    val slices = array((0 until m).map { s =>
      transform(slice(col(vecCol), s * len + 1, len), x => QuantizedKMeans.quant(x))
    }: _*)
    df.select(col(keyCol), posexplode(slices).as(Seq("sub_id", "q")))
      .withColumn("sub_id", col("sub_id").cast("long"))
  }

  /** Trained PQ codebooks: `cents` holds (sub_id, cell_id, c) for the
    * `m` subspaces of a `dims`-long vector, `k` cells each — a
    * LocalRelation, so any number of consumers (an encode pass, an ADC
    * lookup table) read it without recomputation. */
  final case class Codebooks(cents: DataFrame, dims: Int, m: Int, k: Int)

  /** All m codebooks, trained simultaneously by the
    * [[QuantizedKMeans]] Lloyd core keyed by sub_id. Every subspace
    * starts from the same k lowest-id vectors of the training slice,
    * so the init slices them once. Each round is one job: one corpus
    * scan and a tree merge of the m×k cells' partial sums. `dims` must be the vector length and divide
    * evenly by `m` (slice would silently truncate otherwise — guarded
    * in-plan on every row).
    *
    * `trainMod` is the 100 TB sample cap as a filter, not a sort+limit:
    * only ids ≡ 0 mod trainMod train — no global order, no
    * single-partition pull, and the sample is a pure function of ids so
    * the whole capped pipeline replays cross-engine (the nn12 oracle).
    * trainMod = 1 is full-corpus training. */
  def train(df: DataFrame, dims: Int, m: Int, k: Int, iters: Int,
            idCol: String = "vec_id", vecCol: String = "embedding",
            trainMod: Long = 1): Codebooks = {
    require(m >= 1 && dims % m == 0, s"m=$m must divide dims=$dims")
    require(trainMod >= 1, s"trainMod=$trainMod must be >= 1")
    val guarded = dimsGuarded(df, dims, vecCol)
    val slice = if (trainMod == 1) guarded
      else guarded.filter(pmod(col(idCol), lit(trainMod)) === 0)
    Codebooks(QuantizedKMeans.lloyd(subspaces(slice, dims, m, idCol, vecCol), Seq("sub_id"),
      subspaces(slice.orderBy(col(idCol)).limit(k), dims, m, idCol, vecCol), iters),
      dims, m, k)
  }

  /** Every vector's m nearest codes, in long format: (idCol, sub_id,
    * code, d2) — one row per vector per subspace. */
  def encode(df: DataFrame, book: Codebooks,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    QuantizedKMeans.nearest(
        subspaces(dimsGuarded(df, book.dims, vecCol), book.dims, book.m, idCol, vecCol),
        book.cents, Seq("sub_id"), Seq(idCol))
      .select(col(idCol), col("sub_id"), col("cell_id").as("code"), col("d2"))

  /** ADC top-k search (asymmetric distance computation — the PQ query
    * side): the corpus is represented ONLY by its codes; a query's
    * distance to a database vector is the sum over subspaces of the
    * exact quantized distance from the query's subvector to the
    * centroid the vector's code names. Per query that is an m×k
    * LOOKUP TABLE (computed once, k-bounded), and scoring is a
    * row-local m-fold array lookup — never a full-vector distance per
    * pair. Returns (qIdCol, idCol, adist) — the `topK` nearest by
    * approximate distance per query, ties by id.
    *
    * Scale shape: no stage grows with corpus×queries. The corpus
    * codes fold to ONE array<long> row per vector, each query's LUT
    * flattens to ONE dense m×k array<long> (indexed sub·k + code; cells
    * Lloyd emptied stay null and are never indexed), the queries side
    * broadcasts, and adist = Σ_s lut[s·k + codes[s]] is an unrolled
    * codegen element_at chain evaluated in the broadcast-nested-loop
    * join's output iterator — the bruteForceTopK shape, but m lookups
    * per pair instead of dims multiplies. (Joining code rows to LUT
    * rows on (sub_id, cell_id) instead matches every query to every
    * code row — only m×k distinct keys — and shuffles
    * corpus×queries×m rows.) The per-query top-k is
    * [[graft.topk.TopKAgg.min_k_long]] (map-side bounded heaps), so
    * the ONLY shuffles anywhere are the corpus-sized encode
    * aggregations and a queries×topK heap merge. All arithmetic stays
    * in exact micro-unit longs, so DuckDB replays it value-exactly
    * (nn08/nn09/nn11/nn12).
    *
    * Definitional identity pinned by the spec: a query that is itself
    * in the corpus scores its OWN codes at exactly its `encode` error
    * sum. 100 TB: codes are m small ints per vector (the 4-byte→
    * sub-byte compression PQ exists for); the LUT frame is
    * queries×(m×k) longs and broadcast. The codebook is a local
    * relation both codes and LUT read; nothing is persisted. */
  def adcTopK(corpus: DataFrame, queries: DataFrame, book: Codebooks, topK: Int,
              idCol: String = "vec_id", vecCol: String = "embedding",
              qIdCol: String = "q_id"): DataFrame = {
    require(topK >= 1)
    val Codebooks(cents, dims, m, k) = book
    // corpus side: m codes per vector folded to one array row,
    // ordered by sub_id (collect_list is unordered pre-sort;
    // sort_array on the (sub_id, cell_id) struct restores it)
    val codes = QuantizedKMeans.nearest(
        subspaces(dimsGuarded(corpus, dims, vecCol), dims, m, idCol, vecCol), cents,
        Seq("sub_id"), Seq(idCol))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("sub_id"), col("cell_id")))).as("__sc"))
      .select(col(idCol),
        transform(col("__sc"), s => s.getField("cell_id")).as("__codes"))
    // query side: dense per-query LUT array, position = sub_id·k + cell_id
    // (scattered through a map so codebook cells KMeans emptied leave
    // nulls — codes never name an empty cell, so null slots are dead)
    val lut = QuantizedKMeans.distances(
        subspaces(dimsGuarded(queries, dims, vecCol), dims, m, qIdCol, vecCol), cents,
        Seq("sub_id"), Seq(qIdCol))
      .select(col(qIdCol),
        (col("sub_id") * k + col("cell_id")).as("__pos"), col("d2"))
      .groupBy(col(qIdCol))
      .agg(sort_array(collect_list(struct(col("__pos"), col("d2")))).as("__pd"))
      .withColumn("__pm", map_from_entries(col("__pd")))
      .select(col(qIdCol),
        transform(sequence(lit(0L), lit((m.toLong * k) - 1L)),
          i => element_at(col("__pm"), i)).as("__lut"))
    val adist = (0 until m).map { s =>
      element_at(col("__lut"),
        (element_at(col("__codes"), lit(s + 1)) + lit(s.toLong * k) + 1L).cast("int"))
    }.reduce(_ + _)
    codes.crossJoin(broadcast(lut))
      .select(col(qIdCol), col(idCol), adist.as("adist"))
      .groupBy(col(qIdCol))
      .agg(graft.topk.TopKAgg.min_k_long(col("adist"), col(idCol), topK).as("__top"))
      .select(col(qIdCol), explode(col("__top")).as("__pair"))
      .select(col(qIdCol), col("__pair.tag").as(idCol),
        col("__pair.dist").as("adist"))
  }
}
