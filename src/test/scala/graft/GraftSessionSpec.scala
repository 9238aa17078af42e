package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import scala.jdk.CollectionConverters._

class GraftSessionSpec extends SparkSpec {

  test("local() delivers the configured contract even over a reused session") {
    // getOrCreate hands back the thread's active session and ignores the
    // builder's extensions, so give it a session that breaks the contract
    // (wrong timezone, nanos off, a Graft function missing) and check
    // that local() repairs it. A child session keeps the shared one clean.
    val stale = spark.newSession()
    stale.conf.set("spark.sql.session.timeZone", "America/New_York")
    stale.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    stale.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.dropFunction(FunctionIdentifier("jaro_winkler"))
    assert(!stale.catalog.functionExists("jaro_winkler"))
    SparkSession.setActiveSession(stale)
    try {
      val s = GraftSession.local(4)
      assert(s eq stale, "local() should reuse the active session")
      // SQL surface registered
      val jw = s.sql("SELECT jaro_winkler('martha', 'marhta') AS v")
        .head().getDouble(0)
      assert(math.abs(jw - 0.9611111111111111) < 1e-9)
      assert(s.sql("SELECT simhash64(array(CAST(5 AS BIGINT))) AS v")
        .head().getLong(0) == 5L)
      // portability configs hold
      assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
      assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
      // the nanos contract end-to-end: the events table reads and
      // converts without a dedicated reader flag at the call site
      assert(Tables.events(s, sfDir).select("ts").schema.head.dataType
        .typeName == "timestamp")
    } finally SparkSession.setActiveSession(spark)
  }

  test("base session settings are set only in GraftSession") {
    // A second hand-built session drifts from the first (core count,
    // timezone, nanos reading, SQL functions). Reads such as
    // `conf.get(...)` and mentions in comments stay legal; setting a
    // base key anywhere but GraftSession.scala fails here. The one
    // exception is Cli's SPARK_GRAFT_MASTER branch.
    val setting = ("""\.master\(|(?:\.config|conf\.set)\(\s*"(?:""" +
      """spark\.sql\.session\.timeZone|spark\.sql\.legacy\.parquet\.nanosAsLong|""" +
      """spark\.sql\.shuffle\.partitions)"""").r
    val allowed = Map("GraftSession.scala" -> Int.MaxValue, "Cli.scala" -> 1)
    val walk = Files.walk(Paths.get("src/main/scala"))
    val mains = try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    val offenders = (Paths.get("src/test/scala/graft/SparkSpec.scala") :: mains)
      .flatMap { (p: Path) =>
        val n = setting.findAllIn(Files.readString(p)).size
        if (n > allowed.getOrElse(p.getFileName.toString, 0)) Some(s"$p ($n)") else None
      }
    assert(mains.exists(_.endsWith("GraftSession.scala")), "scan found no sources")
    assert(offenders.isEmpty,
      s"session settings outside GraftSession: ${offenders.mkString(", ")}")
  }
}
