package graft

/** Ad-hoc profiling harness at `local[nproc]`, against SPARK_GRAFT_SF_DIR.
  *  - `Prof <queryName> [n]` runs a registered query n times (noop sink,
  *    cache reset before each) and prints per-iteration seconds.
  *  - `Prof explain <name>` prints the formatted physical plan.
  *  - `Prof explainAll <outDir> <suffix> <name>...` writes one formatted
  *    plan per query to `<outDir>/<name><suffix>.txt` (the untracked
  *    `plans/` dumps).
  * Developer tool, not a driver contract. */
object Prof {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")

    args.toList match {
      case "explain" :: name :: Nil =>
        println(SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      case "explainAll" :: outDir :: suffix :: names if names.nonEmpty =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
        names.foreach { n =>
          val p = SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(outDir, s"$n$suffix.txt"), p)
          println(s"[prof] wrote $outDir/$n$suffix.txt")
        }
      case name :: rest =>
        val n = rest.headOption.map(_.toInt).getOrElse(3)
        val fn = SparkEntry.queries(name)
        (1 to n).foreach { i =>
          Runner.reset(spark)
          val (secs, _) = Runner.timed(Runner.noop(fn(spark, sfDir)))
          println(f"[prof] $name iter $i: $secs%.2f s")
        }
      case Nil => sys.error(
        "usage: Prof <queryName> [n] | explain <name> | explainAll <outDir> <suffix> <name>...")
    }
    spark.stop()
  }
}
