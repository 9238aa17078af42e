package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
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
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.local(4)
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
