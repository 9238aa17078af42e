package graft

import org.apache.spark.sql.SparkSession

/** The library's front door and the one place a session is configured:
  * every main and the test suites get their session here, so adopting
  * the engine is one call rather than a checklist.
  *
  *  - native expressions registered for SQL ([[GraftExtensions]]:
  *    vec_dot, minhashes, shingle_hashes, simhash64,
  *    unicode_normalize, jaro_winkler)
  *  - UTC session timezone (oracle-portable date/time arithmetic)
  *  - nanosecond-parquet timestamps readable
  *    (`spark.sql.legacy.parquet.nanosAsLong`; `Tables.events`
  *    restores the timestamp type)
  *  - AQE left ON (skew-join and runtime re-planning; every operator
  *    here is order-independent by construction, so re-planning is
  *    always safe)
  *
  * `configure` composes with an existing builder for cluster
  * deployments (master/memory/shuffle-partitions stay the caller's
  * choice there). `local(cpus)` is the single-JVM form: master
  * `local[cpus]`, shuffle parallelism matched to the core count rather
  * than the 200-partition default, UI off. `cpus` defaults to the
  * host's core count. A main that needs one setting of its own adds it
  * to `localBuilder` and starts the session with `create`.
  */
object GraftSession {

  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .withExtensions(new GraftExtensions)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")

  def localBuilder(cpus: Int = Runtime.getRuntime.availableProcessors()): SparkSession.Builder =
    configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false"))

  def local(cpus: Int = Runtime.getRuntime.availableProcessors()): SparkSession =
    create(localBuilder(cpus))

  /** `getOrCreate` on a [[configure]]d builder. It may hand back a
    * pre-existing session: that applies the builder's runtime SQL
    * configs (UTC, nanos) but not its extensions, so the functions are
    * installed here (registration is overwrite-idempotent). */
  def create(b: SparkSession.Builder): SparkSession = {
    val s = b.getOrCreate()
    GraftExtensions.install(s)
    s
  }
}
