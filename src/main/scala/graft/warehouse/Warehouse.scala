package graft.warehouse

import graft.util.Branches
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.graftbridge.GraftSqlBridge
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

/** The on-disk warehouse: the reference's four tables
  * (design_table_schema.ipynb cells 0-3) as parquet directories under one
  * root, which may be a local path or any Hadoop-FS URI, plus the reject
  * sink. Every reader and writer of a warehouse directory goes through
  * here. */
object Warehouse {

  /** A table's directory, schema and partition column (date-filtered
    * reports prune on it). */
  final case class Table(name: String, schema: StructType, partitionBy: Option[String] = None)

  val Hospitals: Table = Table("hospitals", Schemas.hospitals)
  val Locations: Table = Table("hospital_locations", Schemas.hospitalLocations)
  val BedInformation: Table = Table("hospital_bed_information",
    Schemas.hospitalBedInformation, Some("collection_week"))
  val QualityInformation: Table = Table("hospital_quality_information",
    Schemas.hospitalQualityInformation, Some("data_date"))

  def path(dir: String, table: Table): String = s"$dir/${table.name}"

  /** The current table, or an empty frame with its schema on first load. */
  def read(spark: SparkSession, dir: String, table: Table): DataFrame =
    readOrEmpty(spark, path(dir, table), table.schema)

  /** Atomic per directory only: one table's append commits as one job,
    * but the appends of one load do not commit together, as the
    * reference's whole-load transaction does (load_hhs.py:148). A load's
    * writes run at once ([[writeAll]]), so its tables publish in no fixed
    * order, each directory atomically, and a load interrupted mid-way
    * leaves any subset of its tables written. A replay converges from
    * any such subset, because each table's delta anti-joins that table's
    * own key. One commit per load is ROADMAP J step 1, still open. */
  def append(df: DataFrame, dir: String, table: Table): Unit = {
    val w = df.write.mode("append")
    table.partitionBy.fold(w)(w.partitionBy(_)).parquet(path(dir, table))
  }

  /** Runs `writes` at once, one [[graft.util.Branches]] thread each,
    * with the caller's job group. Returns once every write has ended; a
    * failed write does not stop the others, and the first failure in
    * `writes` order is rethrown, after all of them have ended. */
  def writeAll(spark: SparkSession, writes: Seq[() => Unit]): Unit =
    Branches.run(spark, threads = writes.size) { b =>
      writes.map(w => b.fork(w())).foreach(_.join())
    }

  /** `load(input)` with `input` persisted for its duration, so every
    * write of one load reads one parse of the load's input. The cache is
    * built in one job before `load` runs, so writes that start together
    * find it built instead of each launching a job to build it. Only a
    * cache entry this call added is dropped afterwards, once `load` has
    * returned; a caller's own cached frames stay. */
  def persistedFor[A](input: DataFrame)(load: DataFrame => A): A = {
    val added = GraftSqlBridge.persistIfAbsent(input, StorageLevel.MEMORY_AND_DISK)
    try {
      GraftSqlBridge.buildCache(input)
      load(input)
    } finally if (added) input.unpersist()
  }

  /** `<rejectDir>/hhs` or `<rejectDir>/quality`. */
  def rejectPath(rejectDir: String, source: String): String = s"$rejectDir/$source"

  /** A load's rejects as header CSV, replacing the previous load's. */
  def writeRejects(df: DataFrame, rejectDir: String, source: String): Unit =
    df.write.mode("overwrite").option("header", "true")
      .csv(rejectPath(rejectDir, source))

  /** Parquet at `path`, or an empty frame with `schema` before the first
    * write. Existence goes through Hadoop `FileSystem`, the path
    * resolution Spark's reader and writer use, so URIs work. */
  def readOrEmpty(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    val p = new Path(path)
    if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      spark.read.schema(schema).parquet(path)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
  }
}
