package graft

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

class VerifySpec extends SparkSpec {

  test("dump: a throwing query leaves no stale dir; the JSON holds exactly the dumped oracles") {
    val out = Files.createTempDirectory("verify-spec")
    try {
      val names = Seq("j01_left_outer", "j02_full_outer")
      // an earlier run's dumps of both queries
      names.foreach { n =>
        Files.createDirectories(out.resolve(n))
        Files.writeString(out.resolve(s"$n/part-stale.parquet"), "stale")
      }
      Verify.dump(spark, sfDir, out.toString, Seq(
        names(0) -> SparkEntry.queries(names(0)),
        names(1) -> ((_, _) => throw new IllegalStateException("build failed"))))
      def files(p: Path): Seq[String] = {
        val s = Files.list(p)
        try s.iterator().asScala.map(_.getFileName.toString).toSeq finally s.close()
      }
      assert(files(out.resolve(names(0))).exists(_.endsWith(".parquet")))
      assert(!files(out.resolve(names(0))).contains("part-stale.parquet"))
      assert(!Files.exists(out.resolve(names(1))),
        "a failed query must not leave an earlier run's dump to be compared")
      val json = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(out.resolve("oracle_sql.json").toFile)
      assert(json.fieldNames().asScala.toSet == names.toSet)
    } finally Runner.deleteTree(out)
  }
}
