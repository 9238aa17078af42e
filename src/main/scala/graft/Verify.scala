package graft
import graft.util.Branches
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    // SPARK_GRAFT_ONLY=tx01,tx02 dumps a subset (iteration aid; unset
    // dumps every query)
    dump(spark, sfDir, outDir, Runner.selected)
    spark.stop()
  }

  /** Writes each query's result to `$outDir/<name>` and the oracles of
    * exactly these queries to `$outDir/oracle_sql.json`. A query that
    * throws is reported on stderr and leaves no `$outDir/<name>`, so a
    * dump from an earlier run can never be compared in its place.
    * Queries dump on 4 threads through [[graft.util.Branches]]
    * (temp-view names are disjoint per query, so catalog writes don't
    * race). */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
           queries: Seq[(String, (SparkSession, String) => DataFrame)]): Unit = {
    Files.createDirectories(Paths.get(outDir))
    Branches.run(spark, threads = 4) { b =>
      queries.foreach { case (name, fn) =>
        b.fork {
          Runner.deleteTree(Paths.get(s"$outDir/$name"))
          try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
          }
        }
      }
    }
    Runner.reset(spark)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val names = queries.map(_._1).toSet
    val json = SparkEntry.oracleSql.filter { case (k, _) => names(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
