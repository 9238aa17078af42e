package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

/** The source scan behind the one-owner guards: each guard names a
  * pattern and how many matches each file may hold. */
object SourceScan {
  /** Every `.scala` file under src/main/scala. */
  def mainSources: List[Path] = {
    val walk = Files.walk(Paths.get("src/main/scala"))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  /** "path (n)" for each file holding more than `allowed(file)` matches. */
  def overLimit(pattern: Regex, files: Seq[Path])(allowed: Path => Int): Seq[String] =
    files.flatMap { p =>
      val n = pattern.findAllIn(Files.readString(p)).size
      if (n > allowed(p)) Some(s"$p ($n)") else None
    }
}
