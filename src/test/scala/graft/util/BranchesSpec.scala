package graft.util

import graft.{SourceScan, SparkSpec}
import java.util.concurrent.atomic.AtomicBoolean
import org.apache.spark.sql.SparkSession

class BranchesSpec extends SparkSpec {

  test("driver threads are started only in Branches.scala") {
    // A second pool is a second place where a branch can lose the
    // caller's job group or outlive its call.
    val threads = """Executors\.|new Thread\(|ExecutionContext|ForkJoinPool|\bFuture\b""".r
    val mains = SourceScan.mainSources
    val owner = (p: java.nio.file.Path) => p.endsWith("graft/util/Branches.scala")
    val offenders = SourceScan.overLimit(threads, mains)(p => if (owner(p)) Int.MaxValue else 0)
    assert(offenders.isEmpty, s"thread pools outside Branches: ${offenders.mkString(", ")}")
    assert(mains.exists(owner), "scan found no Branches.scala")
  }

  test("a branch's own exception is rethrown once every other branch has finished") {
    val slowDone = new AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Branches.run(spark, threads = 2) { b =>
        val fails = b.fork[Int](throw new IllegalStateException("branch failed"))
        b.fork { Thread.sleep(300); slowDone.set(true) }
        fails.join()
      }
    }
    assert(e.getMessage == "branch failed")
    assert(slowDone.get, "run threw before its other branch finished")
    assert(branchThreads.isEmpty, "a branch thread outlived run")
  }

  test("a branch sees the caller's local properties and session as of its fork") {
    val sc = spark.sparkContext
    val key = "graft.branches.spec"
    try {
      val seen = Branches.run(spark, threads = 1) { b =>
        // one thread for both: the second branch's property is the one
        // captured at its fork, not the one the thread started with
        sc.setLocalProperty(key, "first")
        val first = b.fork((sc.getLocalProperty(key), SparkSession.getActiveSession)).join()
        sc.setLocalProperty(key, "second")
        val second = b.fork((sc.getLocalProperty(key), SparkSession.getActiveSession)).join()
        Seq(first, second)
      }
      assert(seen == Seq("first" -> Some(spark), "second" -> Some(spark)))
    } finally sc.setLocalProperty(key, null)
    assert(branchThreads.isEmpty, "a branch thread outlived run")
  }
}
