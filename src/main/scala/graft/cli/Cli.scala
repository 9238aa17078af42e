package graft.cli

import graft.GraftSession
import graft.warehouse.{HhsPipeline, QualityPipeline, Schemas}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Operational entry points mirroring the reference's CLI surface
  * (README.md:21-33: `python load_hhs.py <csv>` /
  * `python load_quality.py <date> <csv>`). The pipelines themselves are
  * library functions; these mains bind them to a parquet warehouse on
  * disk so the end-to-end workflow — read current warehouse state,
  * ingest a CSV, append new rows, emit reject CSVs — runs from a shell.
  *
  * Warehouse layout (relative to --warehouse, default ./warehouse):
  *   hospitals/ hospital_locations/ hospital_bed_information/
  *   hospital_quality_information/
  * Rejects go under --rejects (default ./rejects)/{hhs,quality}.
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

  /** Current warehouse table, or an empty frame with the canonical schema
    * on first load (the reference assumes pre-created tables; a missing
    * directory here is the "fresh warehouse" state). */
  private[cli] def readOrEmpty(spark: SparkSession, path: String,
                               schema: StructType): DataFrame =
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(path)))
      spark.read.schema(schema).parquet(path)
    else
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** Flag parsing for `--warehouse <dir> --rejects <dir>` suffixes.
    * Unknown flags and stray arguments are hard errors: a typo like
    * `--warehose /x` must not silently load into the default directory. */
  private[cli] def dirs(rest: Seq[String]): (String, String) = {
    val known = Set("--warehouse", "--rejects")
    val pairs = rest.grouped(2).toSeq
    pairs.foreach {
      // a "value" that is itself a flag means the real value was
      // forgotten (`--warehouse --rejects`): without this check it would
      // parse as warehouse dir literally "--rejects" — the silent
      // data-placement misparse hard-error flags exist to prevent
      case Seq(k, v) if known(k) && v.startsWith("--") => sys.error(
        s"flag '$k' is missing a value (got '$v')")
      case Seq(k, _) if known(k) => ()
      case Seq(k, _) => sys.error(
        s"unknown flag '$k' (expected ${known.mkString(" or ")})")
      case Seq(odd) => sys.error(s"stray trailing argument '$odd'")
      case _ => ()
    }
    val m = pairs.collect { case Seq(k, v) => k -> v }.toMap
    (m.getOrElse("--warehouse", "warehouse"), m.getOrElse("--rejects", "rejects"))
  }

  def runHhs(spark: SparkSession, csvPath: String,
             warehouseDir: String, rejectDir: String): HhsPipeline.Result = {
    val existingHospitals = readOrEmpty(
      spark, s"$warehouseDir/hospitals", Schemas.hospitals)
    val existingBeds = readOrEmpty(
      spark, s"$warehouseDir/hospital_bed_information",
      Schemas.hospitalBedInformation)
    val r = HhsPipeline.load(spark, csvPath, existingHospitals, existingBeds)
    HhsPipeline.write(r, warehouseDir, rejectDir)
    r
  }

  def runQuality(spark: SparkSession, dataDate: String, csvPath: String,
                 warehouseDir: String, rejectDir: String): QualityPipeline.Result = {
    val existing = readOrEmpty(
      spark, s"$warehouseDir/hospital_quality_information",
      Schemas.hospitalQualityInformation)
    val r = QualityPipeline.load(spark, csvPath, dataDate, existing)
    QualityPipeline.write(r, warehouseDir, rejectDir)
    r
  }
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
    require(args(0).matches("""\d{4}-\d{2}-\d{2}"""),
      s"first argument must be a yyyy-MM-dd date, got '${args(0)}'")
    val (warehouseDir, rejectDir) = Cli.dirs(args.toIndexedSeq.drop(2))
    val spark = Cli.session("graft-load-quality")
    try {
      val t0 = System.nanoTime()
      Cli.runQuality(spark, args(0), args(1), warehouseDir, rejectDir)
      println(f"load_quality completed in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    } finally spark.stop()
  }
}
