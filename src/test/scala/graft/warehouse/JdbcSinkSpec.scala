package graft.warehouse

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Round-trip proof for the JDBC warehouse path (SURVEY S4/S5): write via
  * df.write.jdbc with batching against an embedded Derby database (the
  * JDBC driver that ships with Spark's jars), read back, frame-equal.
  * This is the one declared reference mapping (INSERT/executemany →
  * batched JDBC writes) that previously had no code behind it. */
class JdbcSinkSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dbDir = tempDir("derby")
  private lazy val url = s"jdbc:derby:$dbDir/wh;create=true"

  test("JDBC round trip: batched append, create-on-first-write, read-back equal") {
    val df = Seq(
      ("A", "Alpha", 4.0, true),
      ("B", "Beta", 2.0, false),
      ("C", "Gamma", 3.5, true)
    ).toDF("facility_id", "name", "rating", "emergency").repartition(16)

    JdbcSink.append(df, url, "t_roundtrip", batchsize = 2, numPartitions = 4)
    val back = JdbcSink.read(spark, url, "t_roundtrip")

    assert(back.count() == 3)
    assert(back.columns.sorted.toSeq == df.columns.sorted.toSeq)
    val a = back.orderBy("facility_id").collect().map(_.toSeq).toSeq
    val b = df.orderBy("facility_id").collect().map(_.toSeq).toSeq
    assert(a == b)

    // append semantics: a second write adds rows (dedup is the caller's
    // anti-join, matching the reference's dup-probe-before-insert)
    JdbcSink.append(df, url, "t_roundtrip", batchsize = 2)
    assert(JdbcSink.read(spark, url, "t_roundtrip").count() == 6)
  }

  test("JDBC source: predicate and projection push down into the warehouse query") {
    val df = (1 to 100).map(i => (i.toLong, s"name_$i", i % 7))
      .toDF("id", "name", "bucket")
    JdbcSink.append(df, url, "t_pushdown")

    val q = JdbcSink.read(spark, url, "t_pushdown")
      .filter(col("bucket") === 3 && col("id") > 10L)
      .select("id", "name")
    val plan = q.queryExecution.executedPlan.toString
    // the filters must reach the JDBC relation (compiled to the remote
    // WHERE clause), not run Spark-side over a full-table pull
    assert(plan.contains("PushedFilters"), plan)
    assert(plan.contains("EqualTo(BUCKET,3)") || plan.contains("EqualTo(bucket,3)"), plan)
    assert(plan.contains("GreaterThan(ID,10)") || plan.contains("GreaterThan(id,10)"), plan)
    // projection pruning: the remote SELECT must not include `bucket`
    // beyond the filter — ReadSchema carries only the projected columns
    assert(q.count() == df.filter(col("bucket") === 3 && col("id") > 10L).count())

    // parallel extract: range-partitioned reads split the table across
    // numPartitions independent SELECTs and return the same rows
    val par = JdbcSink.readPartitioned(spark, url, "t_pushdown",
      partitionCol = "id", lower = 1L, upper = 100L, numPartitions = 4)
    assert(par.rdd.getNumPartitions == 4)
    assert(par.count() == 100)
    assert(par.agg(sum("id")).as[Long].head() == (1 to 100).map(_.toLong).sum)
  }

  test("append never mutates the caller's Properties") {
    val df = Seq(("A", "x")).toDF("facility_id", "name")
    val props = new java.util.Properties()
    props.setProperty("user", "app")
    JdbcSink.append(df, url, "t_props", properties = props)
    assert(props.stringPropertyNames().size() == 1,
      s"writer internals leaked into caller properties: $props")
    assert(props.getProperty("user") == "app")
  }

  test("JDBC pipeline write: HHS load lands in warehouse tables") {
    val dir = tempDir("jdbccsv")
    val csvPath = s"$dir/hhs.csv"
    val header = Schemas.hhsRawCsv.fieldNames.mkString(",")
    def row(pk: String, name: String) =
      s"$pk,$name,PA,1 Main St,Pittsburgh,15213,42003,POINT (-79 40),2023-01-06," +
        Seq.fill(8)("10.0").mkString(",")
    Files.writeString(Paths.get(csvPath), Seq(header, row("A", "Alpha"), row("B", "Beta")).mkString("\n"))

    // the parquet warehouse load, each of its tables then appended over JDBC
    val wh = s"$dir/warehouse"
    HhsPipeline.load(spark, csvPath, wh, s"$dir/rejects")
    val tables = Seq(Warehouse.Hospitals, Warehouse.Locations, Warehouse.BedInformation)
    tables.foreach(t => JdbcSink.append(Warehouse.read(spark, wh, t), url, t.name))

    assert(JdbcSink.read(spark, url, "hospitals").count() == 2)
    assert(JdbcSink.read(spark, url, "hospital_locations").count() == 2)
    val beds = JdbcSink.read(spark, url, "hospital_bed_information")
    assert(beds.count() == 2)
    assert(beds.filter(col("hospital_fk") === "A")
      .select("total_icu_beds_7_day_avg").as[Double].head() == 10.0)
    // the JDBC tables hold exactly the parquet tables' rows
    tables.foreach { t =>
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select(t.schema.fieldNames.toIndexedSeq.map(col): _*).collect().map(_.toSeq).toSet
      assert(rows(JdbcSink.read(spark, url, t.name)) == rows(Warehouse.read(spark, wh, t)), t.name)
    }
  }
}
