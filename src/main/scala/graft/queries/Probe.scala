package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.lit

/** Audit-mode switch for the PROBE-SCOPED queries.
  *
  * Six queries whose exact all-pairs / all-wedges work is output-bound
  * (fz02, sm04, tc01, dd12, bt02, dd13) run on a hardcoded probe slice
  * (`doc_id % 5`, `l_partkey % 2`, …), each justified in its
  * scaladoc: the full-scope cost is Θ(output), not an engine
  * artifact, and corpus-wide dedup goes through star contraction
  * instead. That claim must stay a MEASUREMENT, not a memory — so
  * setting `GRAFT_AUDIT_FULL_SCOPE=1` widens every probe predicate to
  * the full table and the same queries run corpus-wide (an audited
  * pass whose timings are recorded with the change that ran it).
  *
  * The DuckDB oracles are deliberately NOT parameterized: the
  * correctness gate always runs probe-scoped (flag unset), where Spark
  * and oracle agree row-for-row. Audit mode is a performance probe,
  * not a correctness mode — with the flag set, results and oracles
  * diverge by construction (the oracle still scopes) and only the
  * timing is the measurement.
  */
object Probe {

  /** True when this JVM was launched in full-scope audit mode. Read
    * per call (not cached) so a long-lived session can't pin a stale
    * value across test suites that set the property. */
  def fullScope: Boolean =
    sys.env.get("GRAFT_AUDIT_FULL_SCOPE").contains("1") ||
      sys.props.get("graft.audit.fullScope").contains("1")

  /** The probe predicate, or `true` in audit mode. */
  def scoped(pred: Column): Column = if (fullScope) lit(true) else pred
}
