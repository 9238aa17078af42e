package graft.cli

import graft.GraftSession
import graft.warehouse.{HhsPipeline, QualityPipeline}
import java.time.LocalDate
import org.apache.spark.sql.SparkSession
import scala.util.Try

/** Operational entry points mirroring the reference's CLI surface
  * (README.md:21-33: `python load_hhs.py <csv>` /
  * `python load_quality.py <date> <csv>`). The pipelines themselves are
  * library functions; these mains bind them to a parquet warehouse on
  * disk so the end-to-end workflow — read current warehouse state,
  * ingest a CSV, append new rows, emit reject CSVs — runs from a shell.
  *
  * The warehouse root is --warehouse (default ./warehouse, any Hadoop-FS
  * URI), rejects go under --rejects (default ./rejects); the layout under
  * both is [[graft.warehouse.Warehouse]]'s.
  */
object Cli {

  /** `local[nproc]` unless SPARK_GRAFT_MASTER names a cluster master,
    * the loaders' one deployment setting. A cluster session keeps
    * Spark's default shuffle partitions; operators set
    * `spark.sql.shuffle.partitions` with `spark-submit --conf`. */
  private[cli] def session(appName: String): SparkSession =
    GraftSession.create(sys.env.get("SPARK_GRAFT_MASTER")
      .fold(GraftSession.localBuilder())(m =>
        GraftSession.configure(SparkSession.builder().master(m)))
      .appName(appName))

  /** `--flag value` pairs, each flag one of `known`. Unknown flags and
    * stray arguments are hard errors: a typo like `--warehose /x` must not
    * silently load into the default directory. */
  private[cli] def flags(rest: Seq[String], known: Seq[String]): Map[String, String] = {
    val pairs = rest.grouped(2).toSeq
    pairs.foreach {
      // a "value" that is itself a flag means the real value was
      // forgotten (`--warehouse --rejects`): without this check it would
      // parse as warehouse dir literally "--rejects" — the silent
      // data-placement misparse hard-error flags exist to prevent
      case Seq(k, v) if known.contains(k) && v.startsWith("--") => sys.error(
        s"flag '$k' is missing a value (got '$v')")
      case Seq(k, _) if known.contains(k) => ()
      case Seq(k, _) => sys.error(
        s"unknown flag '$k' (expected one of ${known.mkString(", ")})")
      case Seq(odd) => sys.error(s"stray trailing argument '$odd'")
      case _ => ()
    }
    pairs.collect { case Seq(k, v) => k -> v }.toMap
  }

  /** The loaders' `--warehouse <dir> --rejects <dir>` suffix. */
  private[cli] def dirs(rest: Seq[String]): (String, String) = {
    val m = flags(rest, Seq("--warehouse", "--rejects"))
    (m.getOrElse("--warehouse", "warehouse"), m.getOrElse("--rejects", "rejects"))
  }

  /** `value` as a `yyyy-MM-dd` date. A malformed or impossible date
    * (`2023-02-30`) fails here, naming `flag`, before it can reach a
    * Spark cast that would fail mid-job. */
  private[cli] def date(flag: String, value: String): LocalDate =
    Try(LocalDate.parse(value)).getOrElse(throw new IllegalArgumentException(
      s"$flag must be a yyyy-MM-dd date, got '$value'"))

  def runHhs(spark: SparkSession, csvPath: String,
             warehouseDir: String, rejectDir: String): Unit =
    HhsPipeline.load(spark, csvPath, warehouseDir, rejectDir)

  def runQuality(spark: SparkSession, dataDate: String, csvPath: String,
                 warehouseDir: String, rejectDir: String): Unit =
    QualityPipeline.load(spark, csvPath, dataDate, warehouseDir, rejectDir)
}

/** `runMain graft.cli.LoadHhs <csv> [--warehouse dir] [--rejects dir]`
  * (reference: load_hhs.py `python load_hhs.py <csv>`). */
object LoadHhs {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: LoadHhs <csv> [--warehouse dir] [--rejects dir]")
    val (warehouseDir, rejectDir) = Cli.dirs(args.toIndexedSeq.drop(1))
    val spark = Cli.session("graft-load-hhs")
    try {
      val t0 = System.nanoTime()
      Cli.runHhs(spark, args(0), warehouseDir, rejectDir)
      println(f"load_hhs completed in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    } finally spark.stop()
  }
}

/** `runMain graft.cli.LoadQuality <yyyy-MM-dd> <csv> [--warehouse dir]
  * [--rejects dir]` (reference: load_quality.py
  * `python load_quality.py <date> <csv>`). */
object LoadQuality {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: LoadQuality <yyyy-MM-dd> <csv> [--warehouse dir] [--rejects dir]")
    Cli.date("first argument", args(0))
    val (warehouseDir, rejectDir) = Cli.dirs(args.toIndexedSeq.drop(2))
    val spark = Cli.session("graft-load-quality")
    try {
      val t0 = System.nanoTime()
      Cli.runQuality(spark, args(0), args(1), warehouseDir, rejectDir)
      println(f"load_quality completed in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    } finally spark.stop()
  }
}
