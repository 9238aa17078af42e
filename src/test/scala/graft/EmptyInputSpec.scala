package graft

/** Degenerate-input robustness: EVERY registered query must execute
  * (plan + run to completion) against zero-row tables with the real
  * schemas. This is where empty-aggregate nulls, ANSI division, min/max
  * over nothing, empty-graph convergence, and empty-calendar sequence
  * bugs surface — a library operator that throws on an empty partition
  * of a 100 TB table is broken, because some partition somewhere is
  * always empty. */
class EmptyInputSpec extends SparkSpec {

  private lazy val emptyDir: String = {
    val d = tempDir("empty_sf")
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      // preserve the on-disk schema (incl. the events timestamp[ns]
      // quirk) by writing a zero-row slice of the real table
      spark.read.parquet(s"$sfDir/$t.parquet").limit(0)
        .write.mode("overwrite").parquet(s"$d/$t.parquet")
    }
    d
  }

  test("every registered query runs to completion on zero-row tables") {
    val failures = graft.queries.Registry.all.flatMap { q =>
      try {
        q.fn(spark, emptyDir).write.format("noop").mode("overwrite").save()
        None
      } catch {
        case e: Throwable => Some(q.name -> e.toString.linesIterator.next())
      }
    }
    assert(failures.isEmpty,
      s"${failures.size} queries fail on empty input:\n" +
        failures.map { case (n, e) => s"  $n: $e" }.mkString("\n"))
  }
}
