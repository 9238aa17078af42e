package graft.warehouse

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

class WarehouseSpec extends AnyFunSuite {

  test("warehouse table names are spelled only in Warehouse.scala") {
    // A table name as a whole string literal or a path segment is a
    // second copy of the layout, which drifts from the first (a renamed
    // directory, a lost partition column). Go through Warehouse instead.
    val tableName = """["/](hospitals|hospital_locations|hospital_bed_information|hospital_quality_information)["/]""".r
    val walk = Files.walk(Paths.get("src/main/scala"))
    val mains = try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    val offenders = mains.filterNot(_.endsWith("warehouse/Warehouse.scala")).flatMap { p =>
      val n = tableName.findAllIn(Files.readString(p)).size
      if (n > 0) Some(s"$p ($n)") else None
    }
    assert(offenders.isEmpty, s"table names outside Warehouse: ${offenders.mkString(", ")}")
    assert(mains.exists(_.endsWith("warehouse/Warehouse.scala")), "scan found no Warehouse.scala")
  }
}
