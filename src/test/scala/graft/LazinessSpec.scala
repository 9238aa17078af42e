package graft

/** Pins the lazy-plan contract (see [[QueryDef]]): after its prepare
  * step, constructing (and analyzing/optimizing) a registered query's
  * plan must launch ZERO Spark jobs. Scalars like corpus size N or avgdl
  * must be 1-row broadcast frames inside the plan, never plan-build-time
  * `count()`/`head()` driver actions — eager scalars can't participate
  * in AQE or be cached with the plan. Job-running work belongs in
  * prepare.
  */
class LazinessSpec extends SparkSpec {

  test("every registered query builds and optimizes with zero jobs") {
    val offenders = graft.queries.Registry.all.sortBy(_.name).flatMap { q =>
      val plan = q.prepare(spark, sfDir)
      // build once first so file-listing jobs (a read-time cost of the
      // table cache, not a query-shape cost) don't count against laziness
      plan()
      val n = jobsDuring {
        plan().queryExecution.optimizedPlan // force analyze + optimize
      }.size
      if (n > 0) Some(s"${q.name} ran $n jobs") else None
    }
    assert(offenders.isEmpty,
      s"plan construction must be fully lazy; offenders: ${offenders.mkString(", ")}")
  }

  test("tx01/tx02 carry their scalars as broadcast frames in one plan") {
    for (name <- Seq("tx01_tfidf_topterms", "tx02_bm25")) {
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(plan.contains("BroadcastNestedLoopJoin"), s"$name: scalar frame not broadcast")
    }
  }
}
