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
}
