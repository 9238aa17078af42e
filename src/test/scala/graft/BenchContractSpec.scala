package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench harness's cross-file contracts (r15): the 11-query
  * truth-probe list exists in THREE places that must agree — the
  * Scala constant (`Bench.probeQueries`, drives the skip mode and the
  * production/probe split in every history line), the Python mirror
  * (`scripts/decade_table.py::PROBES`, drives the decade-table split
  * rows), and the query registry itself (a renamed query would
  * silently fall out of the probe set and shift every recorded split
  * without any run failing). */
class BenchContractSpec extends AnyFunSuite {

  test("every probe-list entry is a registered query") {
    val unknown = Bench.probeQueries.diff(SparkEntry.queries.keySet)
    assert(unknown.isEmpty,
      s"probe list names unregistered queries (renamed?): $unknown")
  }

  test("calibMode: near-best never stamps fast until the history spans both modes") {
    // the r16 session-first failure case: cpu 4.15 s vs best 3.54 s
    // (1.17x) with an all-slow history (spread 4.15/3.28 = 1.26)
    assert(Bench.calibMode(1.17, 1.26, uncalibrated = false) ==
      "near-best-unconfirmed")
    // once a genuinely fast session has stamped the config (spread
    // opens past the 1.35x slow threshold), near-best means fast
    assert(Bench.calibMode(1.05, 1.66, uncalibrated = false) == "fast")
    // degraded-vs-best is always classifiable, spread or not
    assert(Bench.calibMode(1.40, 1.40, uncalibrated = false) == "slow")
    assert(Bench.calibMode(1.28, 1.66, uncalibrated = false) == "mid")
    assert(Bench.calibMode(1.00, 1.00, uncalibrated = true) == "uncalibrated")
  }

  test("the Python PROBES mirror in decade_table.py matches Bench.probeQueries") {
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("scripts/decade_table.py")), "UTF-8")
    // parse the PROBES = { "...", ... } block literally
    val block = src.split("PROBES = \\{")(1).split("\\}")(0)
    val py = "\"([a-z0-9_]+)\"".r.findAllMatchIn(block).map(_.group(1)).toSet
    assert(py == Bench.probeQueries,
      s"probe lists drifted: python-only=${py.diff(Bench.probeQueries)} " +
        s"scala-only=${Bench.probeQueries.diff(py)}")
    val pyMaxFailed = "MAX_ACCEPTED_FAILURES = (\\d+)".r.findFirstMatchIn(src).map(_.group(1).toInt)
    assert(pyMaxFailed.contains(Bench.maxAcceptedFailures),
      s"failure caps drifted: python=$pyMaxFailed scala=${Bench.maxAcceptedFailures}")
  }
}
