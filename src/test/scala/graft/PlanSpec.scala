package graft

/** Runs every physical-plan pin from [[Plans.checks]] under `sbt test`:
  * the 100 TB design properties (pushdown, broadcast shapes, bucketed
  * zero-exchange joins, codegen'd custom expressions, two-stage salted
  * aggregation) regress as TEST FAILURES, not as silent plan drift
  * discovered at the next benchmark read. */
class PlanSpec extends SparkSpec {
  test("every pinned physical-plan property holds") {
    val fails = Plans.failures(spark, sfDir)
    assert(fails.isEmpty, s"plan pins violated:\n  ${fails.mkString("\n  ")}")
  }

  test("a pin holds whatever an earlier run left in the cache") {
    // fz02 persists its token and prefix frames; once they are
    // materialized, a formatted plan prints each one's final and
    // initial plan, which must not change the pinned shuffle count
    val pin = Plans.checks.filter(_.query == "fz02_prefix_jaccard")
    SparkEntry.queries("fz02_prefix_jaccard")(spark, sfDir).collect()
    val fails = Plans.failures(spark, sfDir, pin)
    assert(fails.isEmpty, fails.mkString("; "))
  }

  test("unpartitioned windows are exactly the audited small-frame set") {
    // The bench tail's "Moving all data to a single partition" warnings
    // were audited r6–r9 to post-aggregation / post-limit frames; this
    // pin makes the audit STRUCTURAL — a new global window anywhere in
    // the registry (the scale bug class the noise could hide) fails
    // here with its query name, and a query leaving the set prompts
    // shrinking the allowlist.
    val live = Plans.unpartitionedWindowQueries(spark, sfDir).toSet
    val unexpected = live -- Plans.auditedUnpartitionedWindows
    val stale = Plans.auditedUnpartitionedWindows -- live
    assert(unexpected.isEmpty && stale.isEmpty,
      s"NEW unpartitioned window(s) — audit the frame size or add a " +
        s"partition key: ${unexpected.toSeq.sorted.mkString(", ")}; " +
        s"stale audited entries — remove: ${stale.toSeq.sorted.mkString(", ")}")
  }
}
