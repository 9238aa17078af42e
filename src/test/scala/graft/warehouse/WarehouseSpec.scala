package graft.warehouse

import graft.SourceScan
import org.scalatest.funsuite.AnyFunSuite

class WarehouseSpec extends AnyFunSuite {

  test("warehouse table names are spelled only in Warehouse.scala") {
    // A table name as a whole string literal or a path segment is a
    // second copy of the layout, which drifts from the first (a renamed
    // directory, a lost partition column). Go through Warehouse instead.
    val tableName = """["/](hospitals|hospital_locations|hospital_bed_information|hospital_quality_information)["/]""".r
    val mains = SourceScan.mainSources
    val offenders = SourceScan.overLimit(tableName, mains) { p =>
      if (p.endsWith("warehouse/Warehouse.scala")) Int.MaxValue else 0
    }
    assert(offenders.isEmpty, s"table names outside Warehouse: ${offenders.mkString(", ")}")
    assert(mains.exists(_.endsWith("warehouse/Warehouse.scala")), "scan found no Warehouse.scala")
  }
}
