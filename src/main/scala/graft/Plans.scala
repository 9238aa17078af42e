package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Plan auditor: greps the formatted physical plan of each pinned query
  * for the physical properties the 100 TB design depends on (scan-level
  * filter pushdown, pruned read schemas, broadcast dim joins, true
  * top-k, codegen coverage). Run:
  *   sbt "runMain graft.Plans [sfDir] [--shuffles]"
  * `--shuffles` also prints every registered query's shuffle count.
  * Plan text itself comes from `graft.Prof explain/explainAll`.
  */
object Plans {
  /** `shuffles`: when set, the formatted plan must contain EXACTLY this
    * many shuffle Exchange nodes (BroadcastExchange and ReusedExchange
    * do not count). This is the guard substring pins can't express: a
    * ReusedExchange regression — the same subtree silently exchanged
    * twice — changes no node names, only the COUNT. */
  final case class Check(query: String, wantAll: Seq[String],
                         wantNone: Seq[String] = Seq.empty,
                         shuffles: Option[Int] = None)

  /** Shuffle Exchanges in a formatted plan: detail-section entries
    * "(n) Exchange" — the word boundary excludes BroadcastExchange,
    * and ReusedExchange (a reference, not a second shuffle) never
    * matches either. */
  private val shuffleRe = """\(\d+\) Exchange\b""".r
  def shuffleCount(plan: String): Int = shuffleRe.findAllIn(plan).size

  /** Plan properties that must hold (substring match on formatted plan). */
  val checks: Seq[Check] = Seq(
    // range filter reaches the parquet scan as a pushed filter
    Check("v05_range_filter", Seq("PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate", "ReadSchema")),
    // dim joins broadcast
    Check("a07_join3_count", Seq("BroadcastHashJoin", "BroadcastExchange")),
    Check("t03_topk_customers", Seq("TakeOrderedAndProject", "BroadcastHashJoin")),
    // top-k is TakeOrdered, not global sort
    Check("t02_recent_weeks", Seq("TakeOrderedAndProject")),
    // anti join planned as broadcast or shuffled hash/merge — just require the join type
    Check("d03_antijoin_new_keys", Seq("LeftAnti")),
    // ingest dedup (the reference's signature operator): the
    // skew-immune kernel is a min/max(struct) PARTIAL AGGREGATE —
    // SortAggregate, because min/max over a struct is a declarative
    // aggregate with an immutable buffer (no mutable-primitive layout
    // for HashAggregate, not a TypedImperativeAggregate for
    // ObjectHashAggregate); the partial phase before the exchange is
    // what collapses a hot key per input partition. A Window here is
    // the hot-key-in-one-task shape and must fail CI; the orderable
    // carry path never joins;
    // exactly 2 shuffles (key agg + presentation sort).
    Check("d01_dedup_first_wins", Seq("SortAggregate"),
      wantNone = Seq("Window", "Join"), shuffles = Some(2)),
    Check("d02_dedup_composite_key", Seq("SortAggregate"),
      wantNone = Seq("Window", "Join"), shuffles = Some(2)),
    Check("d05_dedup_latest_wins", Seq("SortAggregate"),
      wantNone = Seq("Window", "Join"), shuffles = Some(2)),
    // column pruning: lineitem scan for a01 must read only the filter column
    Check("a01_count_filter", Seq("ReadSchema: struct<l_returnflag:string>")),
    // partial aggregation before the shuffle
    Check("a02_count_by_group", Seq("HashAggregate", "Exchange")),
    // TypedImperativeAggregate plans as ObjectHashAggregate with a
    // partial phase (map-side heap combine)
    Check("w05_topk_heap", Seq("ObjectHashAggregate")),
    // band join is an equi-join on buckets (shuffle/broadcast hash),
    // NOT a BroadcastNestedLoopJoin
    Check("bj01_band_join", Seq("Join")),
    // session_window plans through the dedicated session-aggregation
    Check("s02_session_window", Seq("HashAggregate")),
    // chunking is scan + generate only — NO Exchange before the sort
    // (chunk rows inherit the document partition)
    Check("ck01_doc_chunks", Seq("Generate", "Scan parquet")),
    // packing = exactly one window over one exchange keyed by source
    Check("pk01_sequence_packing", Seq("Window", "Exchange")),
    // vocab: explode feeds a partial aggregate before the shuffle
    Check("vc01_vocab_topk", Seq("Generate", "HashAggregate", "TakeOrderedAndProject")),
    // simhash fingerprints compute in the scan-side project (the custom
    // expression appears in the plan; no token explode remains) —
    // pinned on dd09 (dd05 is covered by TextDedupSpec)
    Check("dd09_simhash_portable", Seq("simhash64")),
    // minhash signatures build from row-local shingle hashes — pinned
    // on dd08 (same minHashCandidates path as dd04)
    Check("dd08_minhash_recall", Seq("shingle_hashes", "minhashes")),
    // quantization fuses into the scan: one aggregate-free projection,
    // no hash aggregation anywhere in the plan (the only exchange is
    // the final presentation sort)
    Check("vq01_scalar_quant", Seq("Scan parquet"),
      wantNone = Seq("HashAggregate", "Generate")),
    // chunking never shuffles before its presentation sort: no
    // aggregate, no join — scan, generate, project only
    Check("ck01_doc_chunks", Seq("Generate"),
      wantNone = Seq("HashAggregate", "Join")),
    // TF-IDF / BM25 scalars (N, avgdl) are lazy 1-row broadcast frames
    // inside ONE plan — not plan-build-time driver actions
    Check("tx01_tfidf_topterms", Seq("BroadcastNestedLoopJoin", "BroadcastExchange")),
    Check("tx02_bm25", Seq("BroadcastNestedLoopJoin", "BroadcastExchange")),
    // bucketed fact⨝fact: SortMergeJoin straight over bucketed scans —
    // NO exchange on either join key (the only exchanges are the
    // post-join aggregate/sort on o_orderpriority)
    Check("j03_bucketed_join", Seq("SortMergeJoin", "SelectedBucketsCount"),
      wantNone = Seq("Exchange hashpartitioning(o_orderkey",
        "Exchange hashpartitioning(l_orderkey")),
    // salted skew aggregate: two-stage — partial sums keyed (k, __salt),
    // final reduce keyed k alone
    Check("sk02_skew_salted", Seq("__salt", "HashAggregate")),
    // decontamination: benchmark gram set BROADCASTS (corpus rows never
    // shuffle for the join), grams hash row-local in the scan
    Check("dc01_decontamination",
      Seq("BroadcastHashJoin", "shingle_hashes", "HashAggregate")),
    // redaction is pure scan-side projection — no join, no aggregate;
    // the only exchange is the presentation sort
    Check("pii01_redaction", Seq("Scan parquet"),
      wantNone = Seq("Join", "HashAggregate")),
    // UTF-8 byte hashes fold row-local — no join, no aggregate
    Check("x16_utf8_bytes", Seq("Scan parquet"),
      wantNone = Seq("Join", "HashAggregate")),
    // clustered-range scan: the key-range predicate reaches the parquet
    // scan (file/row-group skipping happens against these pushed
    // bounds at read time)
    Check("j04_clustered_range",
      Seq("PushedFilters: [IsNotNull(l_orderkey), GreaterThanOrEqual(l_orderkey,100), LessThanOrEqual(l_orderkey,200)]")),
    // deep 6-way join: dims broadcast, the order-date range reaches the
    // orders parquet scan as pushed bounds
    Check("a10_regional_revenue",
      Seq("BroadcastHashJoin", "GreaterThanOrEqual(o_orderdate", "LessThan(o_orderdate")),
    // repetition stats: grams build row-local (explode of zip_with)
    // and feed partial aggregation — NO window, NO sort before the
    // doc-keyed aggregates
    Check("rp01_repetition_stats",
      Seq("Generate", "HashAggregate"), wantNone = Seq("Window")),
    // stratum quality filter: the cume_dist window partitions by the
    // (lang, source) strata
    Check("qf01_quality_stratum_filter", Seq("windowspecdefinition(lang")),
    // approx-quantile stratum filter: threshold via aggregate +
    // broadcast join back — NO window anywhere (the giant-strata shape)
    Check("qf02_quality_stratum_approx",
      Seq("ObjectHashAggregate", "BroadcastHashJoin"),
      wantNone = Seq("Window")),
    // mixture resample: the per-stratum rate frame joins back by
    // BROADCAST — corpus rows never shuffle to learn their keep rate
    Check("mx01_domain_mix", Seq("BroadcastHashJoin", "BroadcastExchange")),
    // global shuffle: the only row-scale window partitions by the hash
    // bucket; bucket offsets arrive via broadcast — no total-order
    // window over raw rows anywhere in the plan
    Check("sh01_global_shuffle",
      Seq("windowspecdefinition(__b", "BroadcastExchange"),
      wantNone = Seq("windowspecdefinition(__h")),
    // the 65,536-bucket fanout keeps the identical shape: window still
    // partitions by __b only — prefix length is a sizing knob, not a
    // plan change
    Check("sh02_global_shuffle_wide",
      Seq("windowspecdefinition(__b", "BroadcastExchange"),
      wantNone = Seq("windowspecdefinition(__h")),
    // bloom decontamination: the blob builds as an aggregate
    // (bloom_agg), probes scan-side via the codegen expression
    // (might_contain) BEFORE the exact confirm join, which still
    // broadcasts the benchmark gram set
    Check("dc02_bloom_decontamination",
      Seq("bloom_agg", "might_contain", "shingle_hashes", "BroadcastHashJoin")),
    // z-ordered scan: BOTH dimension predicates reach the parquet scan
    // as pushed bounds (the stats that do the 2-D file skipping)
    Check("zo01_zorder_range",
      Seq("GreaterThanOrEqual(l_partkey,10)", "GreaterThanOrEqual(l_suppkey,2)",
        "LessThanOrEqual(l_partkey,40)", "LessThanOrEqual(l_suppkey,6)")),
    // systematic PPS: both windows partition by the stratum — bounded
    // strata, never a global window; the whole pick is window+filter,
    // no join anywhere
    Check("ws01_pps_sample", Seq("windowspecdefinition(lang"),
      wantNone = Seq("Join")),
    // incremental agg: batch states union then re-aggregate — partial/
    // final hash aggregation, no window, no sort before the merge
    Check("ia01_incremental_agg", Seq("HashAggregate", "Union"),
      wantNone = Seq("Window")),
    // pagerank: the damping base is a lazy 1-row broadcast-scalar frame
    // (never a plan-build-time count()); rank flow per round is plain
    // hash aggregation. The per-round joins are pinned
    // SHUFFLE_HASH — without the hint, size estimates broadcast the
    // |V|-sized rank/contrib frames every round (a shape that cannot
    // survive a billion-node graph) and sort-merge the edge stream
    // (re-SORTING |e| per round above the reused exchange); hashed
    // keyed shuffles are the Pregel schedule and measured 6.9→4.4 s
    // warm at sf0.1. Static shuffle count re-pinned 79→159 (forcing
    // the estimate-broadcast joins back to keyed shuffles makes every
    // round's exchanges explicit; at runtime AQE stage reuse dedupes
    // the loop-invariant subtrees). A BroadcastHashJoin reappearing
    // here means the hints regressed and the rank frame is being
    // broadcast again.
    Check("pr01_pagerank",
      Seq("BroadcastNestedLoopJoin", "ShuffledHashJoin", "HashAggregate"),
      wantNone = Seq("BroadcastHashJoin"),
      shuffles = Some(159)),
    // grouping sets: ONE scan fans out through Expand into partial/final
    // hash aggregation — not a union of per-set scans
    Check("g04_grouping_sets", Seq("Expand", "HashAggregate")),
    // range-frame window: the only window partitions by customer and
    // uses a RANGE (value) frame, not a ROWS frame
    Check("w07_range_frame",
      Seq("windowspecdefinition(o_custkey", "RangeFrame")),
    // array HOFs stay row-local in the scan-side projection: no
    // explode, no join, no aggregate
    Check("f07_array_hof", Seq("Scan parquet"),
      wantNone = Seq("Generate", "Join", "HashAggregate")),
    // unicode normalization is a scan-side codegen projection
    Check("f08_unicode_normalize", Seq("unicode_normalize", "Scan parquet"),
      wantNone = Seq("Join", "HashAggregate")),
    // BPE training (driver-paced loop): each step's argmax is a
    // TakeOrdered(1) COLLECT during query build (the CC convergence-
    // probe pattern), inlined as literals into the next rewrite — so
    // the returned merge table is a LocalTableScan of already-computed
    // rows and the per-step BroadcastNestedLoopJoin is gone. The
    // training work itself (pair-count aggregations over the persisted
    // vocab) runs in the per-step collect jobs, inside the timed build.
    Check("bt01_bpe_train", Seq("LocalTableScan"),
      wantNone = Seq("Window", "BroadcastNestedLoopJoin", "CartesianProduct")),
    // BPE encode rides the trained merge table over the corpus scan;
    // the vocab never windows, and the literal rewrite leaves no
    // per-step BNLJ subtrees. 6 shuffles (vocab agg + spread reuse +
    // encoder join + final agg/sort).
    Check("bt02_bpe_encode", Seq("HashAggregate"),
      wantNone = Seq("Window", "CartesianProduct", "BroadcastNestedLoopJoin"),
      shuffles = Some(6)),
    // value windows: every function shares ONE window spec keyed by
    // nation — one sort, one window operator
    Check("w08_value_windows", Seq("windowspecdefinition(c_nationkey")),
    // k-fold: the fold id is a scan-side expression feeding partial
    // aggregation — no join, no window
    Check("sm03_kfold", Seq("HashAggregate"),
      wantNone = Seq("Join", "Window")),
    // sketch states build via ObjectHashAggregate (map-side partial
    // sketches merge before the shuffle)
    Check("ia02_sketch_merge", Seq("ObjectHashAggregate")),
    // importance scoring: grams hash row-local in the scan
    // (shingle_hashes), affinity + scoring are hash aggregations, the
    // top-20 is a TakeOrdered — no window, no sort of the full corpus
    Check("is01_importance_score",
      Seq("shingle_hashes", "HashAggregate", "TakeOrderedAndProject"),
      wantNone = Seq("Window")),
    // count-min: the counter blob builds as an aggregate (cm_agg,
    // ObjectHashAggregate partial merge) and broadcasts back as a
    // scalar; estimates evaluate scan-side (cm_estimate)
    Check("fq02_cms_tokens",
      Seq("cm_agg", "cm_estimate", "ObjectHashAggregate",
        "BroadcastNestedLoopJoin")),
    // PMI: the df-floor token set joins back by BROADCAST, the doc
    // count is a broadcast scalar, the top-20 is a TakeOrdered —
    // no window, no global sort of the pair space
    Check("co01_token_pmi",
      Seq("BroadcastHashJoin", "BroadcastNestedLoopJoin",
        "TakeOrderedAndProject", "HashAggregate"),
      wantNone = Seq("Window")),
    // interval overlap: the bucketization turns the theta join into an
    // EQUI-join on __b — a nested-loop must never appear
    Check("ov01_interval_overlap", Seq("Join", "Generate"),
      wantNone = Seq("BroadcastNestedLoopJoin", "CartesianProduct")),
    // the events-axis companion runs the SAME kernel shape — pin it to
    // the same contract so the constant-density measurement can never
    // silently degrade to the nested-loop theta form
    Check("ov02_interval_overlap_events", Seq("Join", "Generate"),
      wantNone = Seq("BroadcastNestedLoopJoin", "CartesianProduct")),
    // ---- heavy hitters ----
    // best-of-cluster: the per-cluster representative is a rank window
    // PARTITIONED BY cluster_id (bounded work per cluster, never a
    // global sort); edges/members arrive via equi-joins only
    Check("dd13_best_of_cluster",
      Seq("row_number() windowspecdefinition(cluster_id"),
      wantNone = Seq("BroadcastNestedLoopJoin", "CartesianProduct"),
      shuffles = Some(5)),
    // leakage-safe split: contraction edges are equi-join pairs and
    // the split assignment is an aggregate — no window sort, no
    // nested-loop pair generation anywhere
    Check("sm04_leakage_safe_split", Seq("HashAggregate"),
      wantNone = Seq("BroadcastNestedLoopJoin", "CartesianProduct", "Window"),
      shuffles = Some(3)),
    // profile: the numeric/distinct aggregates fan through
    // Expand into HASH aggregation, the four string min/max ride a
    // separate sort-free ungrouped aggregate, and the two 1-row frames
    // meet in a broadcast nested-loop cross — N-column profiling must
    // never become N scans (3 shuffles = distinct phase + final agg +
    // string agg) and the Expand side must never regress to
    // SortAggregate (one string buffer in that frame forces a full
    // sort of the 7×-expanded table on both sides of the exchange;
    // the split measured 3.2 s → 1.8 s sf0.1, 6.2 s → 2.6 s sf1)
    Check("dp01_profile",
      Seq("Expand", "HashAggregate", "BroadcastNestedLoopJoin"),
      wantNone = Seq("SortMergeJoin"), shuffles = Some(3)),
    // portable minhash: band explode (Generate) feeds hash equi-joins;
    // the only BNLJ is the 1-row corpus-doubling offset scalar (Cross
    // BuildRight on a single-row side — required, cannot be banned).
    // A Window or CartesianProduct is the all-pairs regression smell
    Check("dd11_minhash_portable", Seq("Generate", "BroadcastHashJoin"),
      wantNone = Seq("CartesianProduct", "Window")),
    // dup clusters (star contraction): each round is equi-join +
    // aggregate; a window/nested-loop means the contraction degraded
    // to a sorted or all-pairs form
    Check("dd06_dup_clusters", Seq("HashAggregate"),
      wantNone = Seq("BroadcastNestedLoopJoin", "CartesianProduct", "Window"),
      shuffles = Some(5)),
    // winsorized stats: the per-group bound table joins back by
    // BROADCAST (corpus rows never shuffle to learn their bounds);
    // no window anywhere
    Check("f09_winsorized_stats",
      Seq("BroadcastHashJoin", "HashAggregate"),
      wantNone = Seq("Window")),
    // forward as-of composes from union + a value-range window — there
    // is NO join node anywhere in the plan (the point of the shape:
    // one key shuffle, no per-row point-in-time subquery)
    Check("aj02_asof_forward", Seq("Window", "RangeFrame"),
      wantNone = Seq("Join")),
    // triangle counting: wedge generation and the closing-edge probe
    // are all EQUI-joins (degree orientation is a projection) — a
    // nested-loop/cartesian would mean the theta form leaked through
    Check("tc01_triangle_count", Seq("TakeOrderedAndProject"),
      wantNone = Seq("BroadcastNestedLoopJoin", "CartesianProduct")),
    // prefix-filtered jaccard: candidates come from the rare-token
    // prefix EQUI-join; the exact verify joins are hash joins too —
    // the quadratic ground truth lives only in the oracle
    Check("fz02_prefix_jaccard", Seq("Window"),
      wantNone = Seq("BroadcastNestedLoopJoin", "CartesianProduct"),
      shuffles = Some(5)),
    // domain TV: one token-keyed equi-join, group table broadcast back,
    // the corpus total a broadcast scalar — no window, no sort until
    // the final 20-row ORDER BY
    Check("mx02_domain_tv",
      Seq("BroadcastHashJoin", "BroadcastNestedLoopJoin", "HashAggregate"),
      wantNone = Seq("Window")),
    // EWMA: ONE shuffle (the groupBy) and an in-group fold — the
    // sequential recursion must not become a window or a join
    Check("ts02_ewma", Seq("ObjectHashAggregate"),
      wantNone = Seq("Join", "Window")),
    // repeated spans: window generation is a row-local HOF in the scan
    // projection (Generate), counting is one gram-keyed aggregate with
    // a TakeOrdered top-k — no join anywhere
    Check("ds01_dup_spans",
      Seq("Generate", "HashAggregate", "TakeOrderedAndProject"),
      wantNone = Seq("Join"),
      shuffles = Some(2)),
    // tolerance as-of keeps the join-free union+window composition —
    // the staleness test is a post-projection, not a re-join
    Check("aj03_asof_tolerance", Seq("Window", "RangeFrame"),
      wantNone = Seq("Join")),
    // CDC apply: ONE window shuffle keyed by the merge key collapses
    // the log; no join anywhere in the apply
    Check("up02_cdc_apply", Seq("Window"),
      wantNone = Seq("Join")),
    // MAD outliers: the tiny per-group stats tables join back by
    // BROADCAST — corpus rows never shuffle to learn their bounds
    // (same discipline as f09), and no window appears
    Check("f10_mad_outliers", Seq("BroadcastHashJoin"),
      wantNone = Seq("Window")),
    // point-in-time: SCD-2 build + as-of lookup are both window
    // compositions — the feature-store join ships with NO join node
    Check("pt01_pointintime_join", Seq("Window", "RangeFrame"),
      wantNone = Seq("Join")),
    // vocab coverage: the top-k vocab is a TakeOrdered broadcast to a
    // scan-side membership join — token occurrences never shuffle to
    // learn membership, and no window appears
    Check("oov01_vocab_coverage",
      Seq("TakeOrderedAndProject", "BroadcastHashJoin"),
      wantNone = Seq("Window")),
    // inverted index: explode feeds partial aggregation; the df-band
    // stats join is term-keyed — no window, no nested loop
    // Shuffle count pinned: 4 — the shared corpus base dedupes
    // via ReusedExchange across the df-band and postings passes
    Check("ix01_inverted_index", Seq("Generate", "HashAggregate"),
      wantNone = Seq("Window", "BroadcastNestedLoopJoin"),
      shuffles = Some(4)),
    // containment: shingle-keyed equi-joins only — the probe×corpus
    // pairing must never plan as a nested loop
    Check("dd12_containment", Seq("Generate", "HashAggregate"),
      wantNone = Seq("BroadcastNestedLoopJoin"),
      shuffles = Some(4)),
    // LM table: the rank window partitions by context, never global
    Check("lm01_bigram_next", Seq("windowspecdefinition(ctx"),
      shuffles = Some(4)),
    // surprisal: the per-term qbits table broadcasts back onto the
    // occurrence stream (vocab-sized build side)
    Check("ppx01_quantized_surprisal",
      Seq("BroadcastHashJoin", "BroadcastExchange"),
      shuffles = Some(7)),
    // Gini: one global window over the AGGREGATED vocab-sized frame,
    // no join anywhere
    Check("gn01_gini_concentration", Seq("Window", "HashAggregate"),
      wantNone = Seq("Join")),
    // bucketed Gini (the billion-term shape): ranks AND the head share
    // collapse to the histogram closed form — the only rank-carrying
    // window PARTITIONS by the log2 bucket, and no global rank window
    // over the vocab exists anywhere
    Check("gn02_gini_bucketed",
      Seq("windowspecdefinition(bl", "HashAggregate"),
      wantNone = Seq("CartesianProduct", "SortMergeJoin"),
      shuffles = Some(7)),
    // vocab growth: min-per-term partial agg; cumulative window rides
    // the tiny per-batch frame; join-free
    Check("vg01_vocab_growth", Seq("Generate", "HashAggregate", "Window"),
      wantNone = Seq("Join"),
      shuffles = Some(4)),
    // checksum: three scans, hash in the scan-side project, one union
    // of single-row aggregates — never a join
    Check("cs01_table_checksum", Seq("Union", "md5"),
      wantNone = Seq("Join")),
    // cohort retention: min-per-user partial aggregates + user-keyed
    // joins — NO window over raw events
    Check("co02_cohort_retention", Seq("HashAggregate"),
      wantNone = Seq("Window")),
    // transitions: lead() partitions by user; from-type totals
    // broadcast onto the pair table
    Check("mk01_markov_transitions",
      Seq("windowspecdefinition(user_id", "BroadcastHashJoin")),
    // A/B test: aggregates all the way down — no window
    Check("ab01_ab_test", Seq("HashAggregate"), wantNone = Seq("Window")),
    // k-anonymity: ONE partial-agg shuffle over the QI columns;
    // window- and join-free
    Check("qc02_k_anonymity", Seq("HashAggregate"),
      wantNone = Seq("Window", "Join")),
    // rolling actives: presence dedup + bounded explode + plain
    // distinct aggregates — the non-decomposable sliding distinct is
    // NEVER expressed as a window
    Check("wa01_rolling_active", Seq("Generate", "HashAggregate"),
      wantNone = Seq("Window")),
    // drawdown: both running aggregates partition by user; join-free
    Check("ts05_drawdown", Seq("windowspecdefinition(user_id"),
      wantNone = Seq("Join")),
    // OLS trend: dim joins broadcast; the regression is two aggregate
    // levels with NO window and no sort before the presentation one
    Check("lr01_linear_fit", Seq("BroadcastHashJoin", "HashAggregate"),
      wantNone = Seq("Window")),
    // BFS rounds are hash joins on node id + min-aggregates — never a
    // nested loop, never a window over the frontier
    Check("bf01_bfs_hops", Seq("HashAggregate"),
      wantNone = Seq("BroadcastNestedLoopJoin", "Window")),
    // the JW score evaluates as the native expression inside the
    // verify stage, and length-equality blocking keeps the pairing an
    // equi-join (hash), not a nested loop
    Check("fz03_jaro_typos", Seq("jaro_winkler"),
      wantNone = Seq("BroadcastNestedLoopJoin")),
    // multi-step funnel: N stages = N min-aggregate joins over
    // type-filtered slices; no window, no event-by-event state
    Check("fn02_funnel_steps", Seq("HashAggregate"),
      wantNone = Seq("Window")),
    // embedding profile: row-local posexplode into ONE partial-agg
    // shuffle keyed by dim; join- and window-free
    Check("em01_dim_stats", Seq("Generate", "HashAggregate"),
      wantNone = Seq("Join", "Window")),
    // TWAP: the lead() window partitions by (user, day) — never
    // unpartitioned — and the rest is one aggregate; join-free
    Check("ts04_twap", Seq("windowspecdefinition(user_id"),
      wantNone = Seq("Join")),
    // session paths: the sessionize window partitions by user; the
    // final top-20 is TakeOrdered, never a global sort; join-free
    Check("s04_top_paths",
      Seq("windowspecdefinition(user_id", "TakeOrderedAndProject"),
      wantNone = Seq("Join")),
    // k-means assignment: centroids BROADCAST (k-bounded nested loop
    // per row, no shuffle); never a sort-merge join or an unguarded
    // cartesian anywhere in the training chain
    Check("km01_kmeans",
      Seq("BroadcastNestedLoopJoin", "BroadcastExchange"),
      wantNone = Seq("SortMergeJoin", "CartesianProduct")),
    // PQ-ADC (streaming-heap scoring): codebook rides are KEYED
    // broadcast hash joins (sub_id for the Lloyd/argmin stages);
    // scoring is the bruteForceTopK shape — corpus code-arrays stream
    // through ONE BroadcastNestedLoopJoin against the dense per-query
    // LUT arrays with the adist element_at chain in its output
    // projection, into the partial min-heap (ObjectHashAggregate).
    // A (sub_id, code)-keyed scoring join is BANNED: with
    // m×k distinct keys it emitted corpus×queries×m rows into a
    // corpus×queries-group aggregate + rank-window sort (the sf10
    // "failed to allocate page" storms; nn08 680 s / nn11 999 s at
    // sf10 pass-1). No rank window, no sort-merge join, no unguarded
    // cartesian anywhere.
    Check("nn08_pq_adc",
      Seq("BroadcastHashJoin", "BroadcastNestedLoopJoin",
        "ObjectHashAggregate"),
      wantNone = Seq("CartesianProduct", "windowspecdefinition(q_id",
        "SortMergeJoin")),
    // the other ADC consumers ride the same streaming-heap chain;
    // each keeps the heap aggregate and the LUT-stream BNLJ, and bans
    // the unguarded-cartesian regression. Differences from nn08 are
    // deliberate: nn09's truth-compare joins result sets (SMJ legal),
    // nn11's exact re-rank top-k is a group-LIMITED window
    // (WindowGroupLimit must stay — losing the limit pushdown means
    // the full rank materializes, the sf10 page-storm shape)
    Check("nn09_adc_recall",
      Seq("ObjectHashAggregate", "BroadcastNestedLoopJoin"),
      wantNone = Seq("CartesianProduct", "windowspecdefinition(q_id")),
    Check("nn11_adc_rerank",
      Seq("ObjectHashAggregate", "BroadcastNestedLoopJoin",
        "WindowGroupLimit"),
      wantNone = Seq("CartesianProduct")),
    Check("nn12_adc_sampled_train",
      Seq("ObjectHashAggregate", "BroadcastNestedLoopJoin"),
      wantNone = Seq("CartesianProduct", "windowspecdefinition(q_id",
        "SortMergeJoin")),
    // portable IVF: probe-cell candidates rank through group-limited
    // windows only (losing the limit pushdown materializes the full
    // rank — the sf10 page-storm shape). The coarse-quantizer training
    // chain is not in this plan: driver-paced Lloyd rounds collect the
    // codebook, which enters as LocalTableScan.
    Check("nn10_ivf_portable",
      Seq("WindowGroupLimit", "LocalTableScan"),
      wantNone = Seq("CartesianProduct")),
    // brute-force truth probes: corpus×queries BNLJ is their
    // DEFINITION, but the top-k must stay the map-side heap — a rank
    // window over the pair space is the memory blowup that killed the
    // windowed LSH at sf10
    Check("nn01_cosine_topk",
      Seq("BroadcastNestedLoopJoin", "ObjectHashAggregate"),
      wantNone = Seq("Window", "SortMergeJoin")),
    Check("nn03_embedding_neardup", Seq("BroadcastNestedLoopJoin"),
      wantNone = Seq("Window")),
    // fuzzy decontamination: shingle explode into hash equi-joins —
    // never a nested loop over docs×benchmark
    Check("dc03_fuzzy_decontamination", Seq("Generate", "BroadcastHashJoin"),
      wantNone = Seq("CartesianProduct", "BroadcastNestedLoopJoin", "Window"),
      shuffles = Some(4)),
    // portable HLL state: bucket/rho are scan-side string/integer
    // projections feeding ONE partial max-aggregate (the distributed
    // HLL build shape) — no join, no window, no explode
    Check("x06_portable_hll_state", Seq("md5", "HashAggregate"),
      wantNone = Seq("Join", "Window", "Generate"),
      shuffles = Some(2)),
    // grouped sketch bounds (oracle-checked x02/x03).
    // x02: exact-distinct expand and the HLL frame stay SEPARATE and
    // meet in a broadcast join — fusing them into one groupBy allocates
    // the ~13 KB HLL buffers per (group × distinct-key) hash entry
    // (measured 12+ min at sf10; see the QueryDef scaladoc). The pin
    // bans the fused shape: with the join present, no plan can carry
    // HLL buffers through the Expand branch.
    Check("x02_approx_distinct",
      Seq("Expand", "HashAggregate", "BroadcastHashJoin"),
      wantNone = Seq("SortMergeJoin", "Window")),
    // x03: per-group GK sketches (ObjectHashAggregate partial/final),
    // the 5-row quartile frame BROADCASTS back onto the scan, rank
    // counts hash-aggregate; 3 shuffles = sketch agg + rank agg +
    // presentation sort. A SortMergeJoin here means the broadcast hint
    // regressed and the whole orders scan would shuffle at 100 TB.
    Check("x03_approx_quartiles",
      Seq("ObjectHashAggregate", "BroadcastHashJoin"),
      wantNone = Seq("SortMergeJoin", "Window"), shuffles = Some(3)),
    // dp02 accuracy gate (two-scan shape): the exact numeric frame
    // (hash-aggregated Expand) crossJoins ONE ungrouped string+HLL
    // frame (sort-free SortAggregate — the six approx_count_distinct
    // ride the string min/max scan instead of a third orders pass),
    // and the bound flags compute BEFORE the stack — no col_name join
    // anywhere. 3 shuffles = exact distinct phase + exact final agg +
    // the merged string/HLL agg. A BroadcastHashJoin reappearing means
    // the stacked-frame join (and its third scan) regressed back in.
    Check("dp02_profile_approx_bound",
      Seq("BroadcastNestedLoopJoin", "Expand", "Generate"),
      wantNone = Seq("SortMergeJoin", "Window", "BroadcastHashJoin"),
      shuffles = Some(3)),
    // covariance matrix: row-local pair explode into ONE partial-agg
    // shuffle keyed by (i,j); join- and window-free
    Check("cv01_covariance_matrix", Seq("Generate", "HashAggregate"),
      wantNone = Seq("Join", "Window")),
    // rolling hash: a single scan-side pass — no join, no window, no
    // explode may ever attach to the fingerprint kernel
    Check("x14_rolling_hash", Seq("Scan"),
      wantNone = Seq("Join", "Window", "Generate")),
    // streaming LSH (both the compiled and the portable
    // path): query bands BROADCAST into the band equi-join
    // (BroadcastHashJoin), each pair survives only from its FIRST
    // agreeing band — the row-local array_position(XOR-band test) in
    // the join output, NOT a pair-keyed dropDuplicates aggregate
    // ("Keys [2]: [query_id" is the banned dedup shuffle's signature) —
    // and per-query top-k is the map-side heap (ObjectHashAggregate),
    // never a rank window over the scored stream. The banned shapes are
    // the two that die at sf10 (disk-full dedup shuffle; the
    // rank-window spill sort).
    Check("nn05_lsh_recall",
      Seq("BroadcastHashJoin", "ObjectHashAggregate", "array_position"),
      wantNone = Seq("windowspecdefinition(query_id",
        "Keys [2]: [query_id", "CartesianProduct")),
    Check("nn07_lsh_portable",
      Seq("BroadcastHashJoin", "ObjectHashAggregate", "array_position"),
      wantNone = Seq("windowspecdefinition(query_id",
        "Keys [2]: [query_id", "CartesianProduct")),
    // the fixed-serving-batch LSH probe (nn13) must keep the exact
    // streaming shape nn05 pins — its whole point is measuring
    // that shape against a growing corpus at constant batch size
    Check("nn13_lsh_fixed_batch",
      Seq("BroadcastHashJoin", "ObjectHashAggregate", "array_position"),
      wantNone = Seq("windowspecdefinition(query_id",
        "Keys [2]: [query_id", "CartesianProduct")))
  // sd02 (banded semantic dedup) is NOT pinnable here: star
  // contraction opens with a localCheckpoint, so the registered
  // query's final plan is lineage-truncated and never shows the edge
  // kernel. Its shape pin lives at kernel level in SimilaritySpec
  // ("banded edge kernel" test): band EQUI-join + the row-local
  // array_position emit-once test required, BroadcastNestedLoopJoin /
  // CartesianProduct banned — asserted on bandedNearDupPairs' own
  // plan, which is the stage the 100 TB claim is about.

  /** The AUDITED set of registered queries whose plans contain an
    * unpartitioned Window (WindowExec's "Moving all data to a single
    * partition" warning). Every entry is a window over a frame that is
    * SMALL BY CONSTRUCTION — post-aggregation (weekly/vocab-sized) or
    * post-limit (k-row codebook init) — each audited as harmless.
    * The warning noise itself can't be silenced without changing query
    * semantics (a synthetic partition key would still move all rows to
    * one partition, just quietly), so the STRUCTURAL guard is this pin:
    * [[unpartitionedWindowQueries]] recomputes the set from the live
    * plans and PlanSpec fails when a NEW unpartitioned window appears
    * anywhere in the registry — a real one can no longer hide in the
    * audited noise. */
  val auditedUnpartitionedWindows: Set[String] = Set(
    // (km01/nn08–nn12/vq02 are absent: their k-row codebook init
    // windows execute inside the driver-paced Lloyd collect jobs at
    // build time and never appear in the final plans)
    "cb01_token_budget",       // cumulative tokens over the 21-bucket quality frame
    "gn01_gini_concentration", // cumulative share over the vocab-sized agg
    "sh01_global_shuffle",     // bucket-offset prefix sum over the 256-row
    "sh02_global_shuffle_wide",//   (resp. 65,536-row) bucket-count frame
    "vg01_vocab_growth",       // cumulative window over the per-batch frame
    "w01_lag_delta",           // lag over the weekly agg frame
    "w03_rolling_avg",         // rolling mean over the weekly agg frame
    "w04_rank_ntile",          // global ranking over the weekly agg frame
    "w06_rolling_median")      // rolling median over the weekly agg frame

  /** Every registered query whose OPTIMIZED plan contains a Window
    * with an empty partitionSpec (the logical-plan source of the
    * runtime WindowExec warning). The cache is cleared before each
    * build: a sharedInPlan-persisted subtree would otherwise replace
    * its plan with an InMemoryRelation and HIDE any window inside it,
    * making the audit depend on which query built first. */
  def unpartitionedWindowQueries(spark: SparkSession, sfDir: String): Seq[String] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
    import org.apache.spark.sql.execution.window.WindowExec
    // a sharedInPlan/persist subtree shows up as InMemoryRelation and a
    // plain collect stops at its boundary — recurse into cached
    // physical plans so a window can't hide behind its own cache node
    // (the cached frame's FIRST materialization still executes the
    // WindowExec, warning and all)
    def physGlobal(p: SparkPlan): Boolean = {
      val nested = p.collect {
        // AQE wraps cached plans in AdaptiveSparkPlanExec, whose input
        // is a FIELD, not a child — collect stops there too
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.inputPlan
        case s: InMemoryTableScanExec => s.relation.cachedPlan
      }
      p.collectFirst { case w: WindowExec if w.partitionSpec.isEmpty => w }.nonEmpty ||
        nested.exists(physGlobal)
    }
    SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      spark.catalog.clearCache()
      graft.vector.ProductQuantizer.releaseCentroids()
      val hasGlobal =
        try {
          val opt = fn(spark, sfDir).queryExecution.optimizedPlan
          opt.collectFirst {
            case w: org.apache.spark.sql.catalyst.plans.logical.Window
              if w.partitionSpec.isEmpty => w
          }.nonEmpty ||
            opt.collect { case r: InMemoryRelation => r.cachedPlan }
              .exists(physGlobal)
        }
        catch { case _: Throwable => false } // build failures surface elsewhere
      if (hasGlobal) Seq(name) else Nil
    }
  }

  /** All failed assertions for a session (empty = every pin holds);
    * shared by the CLI main below and PlanSpec so the pins run under
    * `sbt test`, not only when someone remembers the main. */
  def failures(spark: SparkSession, sfDir: String): Seq[String] =
    checks.flatMap { case Check(name, wants, nones, shuf) =>
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.explainString(ExplainMode.fromString("formatted"))
      wants.filterNot(plan.contains).map(w => s"$name :: missing($w)") ++
        nones.filter(plan.contains).map(w => s"$name :: present($w)") ++
        shuf.toSeq.collect { case n if n != shuffleCount(plan) =>
          s"$name :: shuffles(${shuffleCount(plan)} != pinned $n)" }
    }

  def main(args: Array[String]): Unit = {
    val sfDir = args.find(!_.startsWith("--")).getOrElse("/root/testdata/sf0.001")
    // 4 cores, as in PlanSpec: shuffle pins are counted at this width
    val spark = GraftSession.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    val fails = failures(spark, sfDir)
    val failed = fails.size
    fails.foreach(f => println(s"PLAN_FAIL $f"))
    if (args.contains("--shuffles")) {
      // measurement mode for seeding `shuffles` pins: print the shuffle
      // Exchange count of every registered query's formatted plan
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        spark.catalog.clearCache()
        graft.vector.ProductQuantizer.releaseCentroids()
        val n = try shuffleCount(fn(spark, sfDir).queryExecution
          .explainString(ExplainMode.fromString("formatted")))
        catch { case _: Throwable => -1 }
        println(s"SHUFFLES $name $n")
      }
    }
    println(s"PLAN_CHECKS_FAILED=$failed")
    spark.stop()
  }
}
