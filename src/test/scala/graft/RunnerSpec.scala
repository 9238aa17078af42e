package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

class RunnerSpec extends AnyFunSuite {

  test("measurement plumbing lives only in Runner.scala") {
    // A harness with its own iteration count, query filter, sink or cache
    // reset drifts from the others (a reset that forgets the shared
    // frames, a clamp one copy lacks). Go through graft.Runner instead.
    val plumbing = ("""GraftSqlBridge\.releaseShared\(\)|catalog\.clearCache\(\)|""" +
      """format\("noop"\)|"SPARK_GRAFT_(ITERS|ONLY|BENCH_ONLY)"""").r
    val mains = SourceScan.mainSources
    val offenders = SourceScan.overLimit(plumbing, mains) { p =>
      if (p.endsWith("graft/Runner.scala")) Int.MaxValue else 0
    }
    assert(offenders.isEmpty, s"measurement plumbing outside Runner: ${offenders.mkString(", ")}")
    assert(mains.exists(_.endsWith("graft/Runner.scala")), "scan found no Runner.scala")
  }

  test("minOf runs before n times outside the timed window and returns the minimum") {
    val events = scala.collection.mutable.ArrayBuffer.empty[String]
    val sleeps = Iterator(60L, 20L, 40L)
    val (best, last) = Runner.minOf(3) { events += "before"; Thread.sleep(200) } {
      val ms = sleeps.next()
      events += s"body$ms"
      Thread.sleep(ms)
      ms
    }
    assert(events == Seq("before", "body60", "before", "body20", "before", "body40"))
    assert(last == 40L, "the result is the last run's")
    // the 20 ms run wins; the 200 ms `before` is never inside the window
    assert(best >= 0.020 && best < 0.200, s"min was $best s")
  }

  test("deleteTree removes a nested tree and does nothing on a missing path") {
    val root = Files.createTempDirectory("runner-spec")
    Files.createDirectories(root.resolve("a/b/c"))
    Files.writeString(root.resolve("a/top.txt"), "x")
    Files.writeString(root.resolve("a/b/c/leaf.txt"), "y")
    Runner.deleteTree(root)
    assert(!Files.exists(root))
    Runner.deleteTree(root) // already gone: no exception
  }
}
