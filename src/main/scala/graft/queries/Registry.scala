package graft.queries

import graft.QueryDef

/** Central registry of every named engine query. Query groups append
  * here as they land; SparkEntry derives its `queries`/`oracleSql` maps
  * from this single sequence. */
object Registry {
  def all: Seq[QueryDef] =
    RelationalQueries.all ++ GroupingQueries.all ++ BreadthQueries.all ++
      SemiStructuredQueries.all ++ PivotSubqueryQueries.all ++
      TextQueries.all ++ VectorQueries.all ++ EventQueries.all ++
      MultimodalQueries.all ++ PipelineQueries.all ++ ScaleQueries.all ++
      CurationQueries.all ++ GraphQueries.all ++ ProfilingQueries.all ++
      IndexQueries.all

  /** Queries whose BUILD runs Spark jobs by design — the one central
    * list, so no tool keeps its own exclusion set. Three causes,
    * all driver-paced loops whose per-step artifact is scalar-sized at
    * any corpus scale:
    *  - CC fixpoints (localCheckpoint + convergence probe per round):
    *    dd06, sd01, sd02, dd13, sm04; hi01's pointer-doubling loop;
    *  - argmax/codebook collection (BpeTrain merge steps; the
    *    driver-paced QuantizedKMeans/ProductQuantizer Lloyd rounds):
    *    bt01/bt02, km01, vq02, nn08–nn12;
    *  - build-once warehouse fixtures (j03/j04/zo01 bucketed copies)
    *    and sampled quantizer training (nn06's ML KMeans fit).
    * Tooling that assumes zero-job builds (plan dumps, laziness specs)
    * must consult this set. */
  val eagerBuild: Set[String] = Set(
    "dd06_dup_clusters", "sd01_semantic_dedup", "sd02_semantic_dedup_banded",
    "dd13_best_of_cluster", "sm04_leakage_safe_split",
    "hi01_hierarchy_flatten",
    "bt01_bpe_train", "bt02_bpe_encode",
    "km01_kmeans", "vq02_product_quant", "nn08_pq_adc", "nn09_adc_recall",
    "nn10_ivf_portable", "nn11_adc_rerank", "nn12_adc_sampled_train",
    "nn06_ivf_allprobe", "j03_bucketed_join", "j04_clustered_range",
    "zo01_zorder_range")
}
