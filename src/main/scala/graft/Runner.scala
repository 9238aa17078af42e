package graft

import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** The measurement plumbing every harness main shares (Bench, Prof,
  * SkewProbe, StreamIngestBench, Verify, Plans): query selection, the
  * noop sink, the cache reset between timed runs, min-of-N wall-clock
  * timing and the history files. */
object Runner {
  /** Timed repetitions per measurement: SPARK_GRAFT_ITERS, default 2.
    * Clamped to 1 — zero would make every timed loop a no-op and every
    * row-count comparison pass vacuously on 0 == 0. */
  lazy val iters: Int = sys.env.getOrElse("SPARK_GRAFT_ITERS", "2").toInt.max(1)

  /** SPARK_GRAFT_ONLY=nn08,mm,ix01 keeps the queries whose names start
    * with one of the prefixes; unset keeps every query. */
  lazy val only: Option[Seq[String]] = sys.env.get("SPARK_GRAFT_ONLY")
    .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)

  /** The registered queries `only` keeps, in name order so runs stay
    * comparable. */
  def selected: Seq[(String, (SparkSession, String) => DataFrame)] =
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.exists(name.startsWith)) }

  /** Materializes every output column. `count()` would let Catalyst
    * prune projections, so expression-heavy queries would time their
    * scan instead of their compute. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Drops every cached frame, `sharedInPlan` entries included, so the
    * next run recomputes each stage instead of reusing a persisted
    * index or intermediate built by an earlier one. */
  def reset(spark: SparkSession): Unit = spark.catalog.clearCache()

  /** Wall-clock seconds of `body`, with its result. */
  def timed[A](body: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val a = body
    ((System.nanoTime() - t0) / 1e9, a)
  }

  /** Runs `before` then `body` n times (at least once) and returns the
    * minimum seconds of `body` with the last run's result; `before` is
    * outside the timed window. */
  def minOf[A](n: Int)(before: => Unit)(body: => A): (Double, A) =
    (1 to n.max(1)).map { _ => before; timed(body) }
      .reduce((a, b) => (math.min(a._1, b._1), b._2))

  /** Appends one line to `path`, creating its directory. A failure only
    * warns: losing a history line must not fail the measurement. */
  def appendLine(path: String, line: String): Unit = {
    val p = Paths.get(path)
    try {
      Option(p.getParent).foreach(Files.createDirectories(_))
      Files.writeString(p, line + "\n", StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    } catch { case e: Throwable =>
      System.err.println(s"[runner] append to $path failed: ${e.getMessage}")
    }
  }

  /** Deletes `path` and everything under it; a missing path is a no-op.
    * The walk stream is closed, so repeated runs leak no handle. */
  def deleteTree(path: Path): Unit = if (Files.exists(path)) {
    val walk = Files.walk(path)
    val paths = try walk.iterator().asScala.toSeq.sortBy(-_.getNameCount)
      finally walk.close()
    paths.foreach(Files.deleteIfExists(_))
  }
}
