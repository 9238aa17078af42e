package graft.warehouse

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths}

/** Malformed-input channel (S7-adjacent): Spark's PERMISSIVE mode routes
  * unparseable rows to _corrupt_record instead of failing the load —
  * the scan-level complement to the app-level validation-split rejects. */
class CorruptRecordSpec extends SparkSpec {
  import spark.implicits._

  test("PERMISSIVE csv scan captures malformed rows in _corrupt_record") {
    val p = Paths.get(tempDir("corrupt"), "bad.csv")
    Files.writeString(p, Seq(
      "id,val,day",
      "1,2.5,2024-01-01",
      "2,not_a_number,2024-01-02",     // bad double
      "3,4.5,2024-01-03"
    ).mkString("\n"))
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("val", DoubleType),
      StructField("day", DateType), StructField("_corrupt_record", StringType)))
    val df = spark.read.option("header", "true").option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(schema).csv(p.toString).cache()
    val bad = df.filter($"_corrupt_record".isNotNull)
    val good = df.filter($"_corrupt_record".isNull)
    assert(good.count() == 2)
    assert(bad.select("_corrupt_record").as[String].collect()
      .exists(_.contains("not_a_number")))
    // good rows parsed fully typed
    assert(good.select(sum($"val")).head().getDouble(0) == 7.0)
  }
}
