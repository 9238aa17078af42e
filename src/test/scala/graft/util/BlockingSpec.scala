package graft.util

import graft.SourceScan
import org.scalatest.funsuite.AnyFunSuite

class BlockingSpec extends AnyFunSuite {

  test("band explodes are written only in Blocking.scala") {
    // A hand-rolled band explode is a second copy of the band layout,
    // and the copies drift (a width-64 mask of 0 joined every pair).
    // Cut signatures with Blocking.bands / Blocking.packed instead.
    val explode = """withColumn\("(band|chunk)", explode\(array\(""".r
    val mains = SourceScan.mainSources
    val owner = (p: java.nio.file.Path) => p.endsWith("graft/util/Blocking.scala")
    val offenders = SourceScan.overLimit(explode, mains)(p => if (owner(p)) Int.MaxValue else 0)
    assert(offenders.isEmpty, s"band explodes outside Blocking: ${offenders.mkString(", ")}")
    assert(mains.filter(owner).exists(p =>
      explode.findFirstIn(java.nio.file.Files.readString(p)).nonEmpty),
      "scan found no band explode in Blocking.scala")
  }
}
