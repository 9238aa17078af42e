package graft.util

import graft.{SourceScan, SparkSpec}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType
import scala.util.Try

class ExactSpec extends SparkSpec {
  import spark.implicits._
  import Exact._

  // ten 0.1s: the double sum is 0.9999999999999999, the decimal sum 1.00
  private def tenths = Seq.fill(10)(0.1).toDF("x")
  // 1e13 and 0.01: the double sum is 1e13 + 0.009765625
  private def wide = Seq(1e13, 0.01).toDF("x")

  /** Spark has no HUGEINT; DECIMAL(38,0) is its int128 accumulator. */
  private def inSpark(sql: String): Column = expr(sql.replace("HUGEINT", "DECIMAL(38,0)"))

  /** The result type and rows of `c` over `df`, or the error's class:
    * an overflow must fail alike in both twins. */
  private def outcome(df: DataFrame, c: Column): Either[String, (DataType, Seq[String])] =
    Try(df.select(c.as("v"))).flatMap(r => Try((r.schema.head.dataType,
        r.collect().map(_.get(0).toString).toSeq.sorted)))
      .toEither.left.map(_.getClass.getName)

  /** Every per-value rule as (name, Column twin, SQL twin). */
  private val rules: Seq[(String, Column => Column, String => String)] = Seq(
    ("money", money, sqlMoney), ("rate", rate, sqlRate), ("cents", cents, sqlCents),
    ("int128", int128, sqlInt128), ("moneyState", moneyState, sqlMoneyState),
    ("cdcTotal", cdcTotal, sqlCdcTotal), ("clipped", clipped, sqlClipped))

  test("each rule's SQL twin evaluates in Spark to its Column twin") {
    for ((name, data) <- Seq("tenths" -> tenths, "wide" -> wide)) {
      def same(rule: String, c: Column, sql: String): Unit = {
        val (got, want) = (outcome(data, inSpark(sql)), outcome(data, c))
        assert(got == want, s"$rule on $name: SQL twin $got, Column twin $want")
      }
      same("one", one, sqlOne)
      same("moneySum", moneySum(col("x")), sqlMoneySum("x"))
      for ((rule, c, sql) <- rules) {
        same(rule, c(col("x")), sql("x"))
        same(s"sum of $rule", sum(c(col("x"))), s"SUM(${sql("x")})")
        same(s"exactSum of $rule", exactSum(c(col("x"))), sqlExactSum(sql("x")))
      }
    }
  }

  test("the fixtures tell an exact sum from a double sum") {
    // one partition: the double sum folds left to right, as one engine would
    assert(tenths.coalesce(1).agg(sum("x")).as[Double].head() != 1.0)
    assert(tenths.agg(moneySum(col("x"))).as[Double].head() == 1.0)
    val cent = new java.math.BigDecimal("10000000000000.01")
    assert(new java.math.BigDecimal(wide.coalesce(1).agg(sum("x")).as[Double].head())
      .compareTo(cent) != 0)
    assert(wide.agg(sum(moneyState(col("x")))).head().getDecimal(0).compareTo(cent) == 0)
  }

  test("decimal types are spelled only in Exact.scala") {
    // A second spelling of a precision is a second copy of the parity
    // rule, and the copies drift. Bench.scala keeps its calibration
    // probe, which the benchmark reads as it is.
    val decimal = """DecimalType\(|AS DECIMAL\(|"decimal\(|HUGEINT""".r
    val mains = SourceScan.mainSources
    val owner = (p: java.nio.file.Path) => p.endsWith("graft/util/Exact.scala")
    val offenders = SourceScan.overLimit(decimal, mains) { p =>
      if (owner(p)) Int.MaxValue else if (p.endsWith("graft/Bench.scala")) 1 else 0
    }
    assert(offenders.isEmpty, s"decimal types outside Exact: ${offenders.mkString(", ")}")
    assert(mains.filter(owner).exists(p =>
      decimal.findFirstIn(java.nio.file.Files.readString(p)).nonEmpty),
      "scan found no decimal type in Exact.scala")
  }
}
