package graft.warehouse

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** JDBC warehouse sink — the declared S4/S5 mapping for the reference's
  * `INSERT ... executemany` loads (load_hhs.py:76-137,
  * load_quality.py:129-136). The reference pushes rows one batch at a
  * time over a single connection; the Spark form writes every partition
  * concurrently, each executor batching `batchsize` rows per round trip,
  * so throughput scales with partitions instead of being latency-bound.
  *
  * Scale notes (100 TB): the writer's parallelism IS the DataFrame's
  * partitioning — `numPartitions` caps concurrent connections so a
  * 1000-executor job can't open 1000 sessions against one warehouse.
  * Idempotence is the caller's job (the pipelines anti-join existing
  * keys before appending, same as the reference's dup probes).
  */
object JdbcSink {

  /** Append `df` to `table` at `url`, creating the table on first write.
    * `batchsize` mirrors executemany's chunking; `numPartitions` bounds
    * connection fan-in (a warehouse-side courtesy cap, applied via
    * coalesce so it never adds a shuffle). `varcharBound` sizes the
    * created string columns — a row whose string exceeds it fails at
    * the database, so callers loading wide text raise it rather than
    * discovering a hard-coded ceiling at load time. The caller's
    * `properties` are never mutated (connection settings must not
    * accumulate writer internals across reuse). */
  def append(df: DataFrame, url: String, table: String,
             batchsize: Int = 1000, numPartitions: Int = 8,
             properties: java.util.Properties = new java.util.Properties(),
             varcharBound: Int = 4096): Unit = {
    val props = new java.util.Properties()
    // stringPropertyNames walks the defaults chain too, unlike putAll
    properties.stringPropertyNames().forEach(k =>
      props.setProperty(k, properties.getProperty(k)))
    props.setProperty("batchsize", batchsize.toString)
    // Dialects without a bounded default string type (Derby) map
    // StringType to CLOB, which many warehouses refuse to compare or
    // index — predicate pushdown on the key columns would then fail at
    // the database. Bound every string column explicitly instead.
    val stringCols = df.schema.fields
      .filter(_.dataType == org.apache.spark.sql.types.StringType)
      .map(f => s"${f.name} VARCHAR($varcharBound)") // Spark DDL parser: bare identifiers
    if (stringCols.nonEmpty)
      props.setProperty("createTableColumnTypes", stringCols.mkString(", "))
    val bounded =
      if (df.rdd.getNumPartitions > numPartitions) df.coalesce(numPartitions)
      else df
    bounded.write.mode(SaveMode.Append).jdbc(url, table, props)
  }

  /** Read a warehouse table back (reporting side / round-trip checks).
    * This is the S8 mirror of the reference's `pd.read_sql` query
    * source (Reporting.py:27-41) — and unlike it, filters and column
    * pruning PUSH DOWN into the warehouse: Catalyst compiles catalyst
    * predicates to the dialect's WHERE clause on the JDBC relation
    * (`PushedFilters` in the scan — pinned by JdbcSinkSpec), so a
    * dashboard query ships the predicate to the database instead of
    * pulling the table. */
  def read(spark: SparkSession, url: String, table: String,
           properties: java.util.Properties = new java.util.Properties()): DataFrame =
    spark.read.jdbc(url, table, properties)

  /** Parallel warehouse read: `numPartitions` range-partitioned
    * SELECTs over `partitionCol` ∈ [lower, upper] — the read-side twin
    * of append's connection-bounded parallelism. A single-connection
    * JDBC read is latency-bound exactly like the reference's loop; at
    * scale the extract must fan out or the warehouse link is the
    * bottleneck. Pushdown still applies per partition query. */
  def readPartitioned(spark: SparkSession, url: String, table: String,
                      partitionCol: String, lower: Long, upper: Long,
                      numPartitions: Int,
                      properties: java.util.Properties = new java.util.Properties()): DataFrame =
    spark.read.jdbc(url, table, partitionCol, lower, upper, numPartitions,
      properties)

  /** Write a full HHS load result to a JDBC warehouse — the straight
    * analogue of load_hhs.py's three INSERT loops in one call. */
  def writeHhs(r: HhsPipeline.Result, url: String, batchsize: Int = 1000): Unit = {
    append(r.hospitals, url, Warehouse.Hospitals.name, batchsize)
    append(r.locations, url, Warehouse.Locations.name, batchsize)
    append(r.bedInfo, url, Warehouse.BedInformation.name, batchsize)
  }

  /** Quality-load analogue of load_quality.py:129-136. */
  def writeQuality(r: QualityPipeline.Result, url: String,
                   batchsize: Int = 1000): Unit =
    append(r.quality, url, Warehouse.QualityInformation.name, batchsize)
}
