package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.apache.spark.sql.graftbridge.GraftSqlBridge
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Shared local SparkSession for all suites (one JVM-wide session). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  /** The jobs `body` starts, in start order. The listener bus is
    * drained before the listener registers, so a queued job start of
    * earlier work is not charged to `body`, and again after `body`, so
    * none of its own is missed. */
  def jobsDuring(body: => Unit): Seq[SparkListenerJobStart] = {
    val starts = new ConcurrentLinkedQueue[SparkListenerJobStart]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = starts.add(js)
    }
    GraftSqlBridge.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      GraftSqlBridge.drainListenerBus(spark)
    } finally spark.sparkContext.removeSparkListener(listener)
    starts.asScala.toSeq
  }

  /** The job-launching SQL executions `body` runs. */
  def executions(body: => Unit): Int =
    jobsDuring(body).flatMap(js => Option(js.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))).distinct.size

  /** Run a streaming frame to completion against the input available
    * now, through the memory sink; returns the materialized result. */
  def runToMemory(df: DataFrame, name: String,
                  mode: OutputMode = OutputMode.Append): DataFrame = {
    df.writeStream.outputMode(mode).format("memory")
      .queryName(name).trigger(Trigger.AvailableNow()).start().awaitTermination()
    spark.table(name)
  }

  /** A fresh directory under the checkout's `target/` (tests fork with
    * the project base as working directory), as an absolute path. */
  def tempDir(prefix: String): String =
    Files.createTempDirectory(Files.createDirectories(Paths.get("target")), prefix)
      .toAbsolutePath.toString
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.local(4)
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
