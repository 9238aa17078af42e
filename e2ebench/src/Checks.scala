package e2ebench

import java.io.File
import java.nio.file.Files
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row

/** Output checks that need no Spark: the rendered report page, reject
  * CSVs and warehouse files on disk, and result digests. */
object Checks {

  /** A report page as sections: title -> (header, body rows). */
  final case class Section(title: String, header: Seq[String], rows: Seq[Seq[String]],
                           truncated: Boolean)

  def parsePage(text: String): Seq[Section] =
    text.split("\n\n").toSeq.filter(_.startsWith("== ")).map { block =>
      val lines = block.split("\n").toSeq
      def cells(l: String) = l.stripPrefix("|").stripSuffix("|").split('|').toSeq.map(_.trim)
      val body = lines.drop(3).filter(_.startsWith("|"))
      Section(lines.head.stripPrefix("== ").stripSuffix(" =="), cells(lines(1)),
        body.map(cells), lines.exists(_.startsWith("... (truncated")))
    }

  /** Mismatches between a page and the ledger: R1 and R2 counts must be
    * exact, R3 sums within 0.01 + 1e-9 relative (the report rounds
    * double sums to 2 places; the ledger sums exact decimals). */
  def pageMismatches(page: Seq[Section], ledger: Ledger): Seq[String] = {
    if (page.size != 9) return Seq(s"page has ${page.size} sections, expected 9")
    val lastWeek = ledger.weekRows.keys.max
    val wk = Inputs.FirstWeek.plusWeeks(lastWeek.toLong).toString
    val out = Seq.newBuilder[String]
    val r1 = page(0)
    if (!r1.title.contains(wk)) out += s"R1 is for '${r1.title}', expected week $wk"
    if (r1.rows != Seq(Seq(ledger.weekRows(lastWeek).toString)))
      out += s"R1 ${r1.rows} != ${ledger.weekRows(lastWeek)}"
    val expectR2 = ledger.weekRows.toSeq.map { case (w, n) =>
      Seq(Inputs.FirstWeek.plusWeeks(w.toLong).toString, n.toString) }
    val r2 = page(1)
    val shown = if (r2.truncated) expectR2.take(r2.rows.size) else expectR2
    if (r2.rows != shown) out += s"R2 differs from ledger (${r2.rows.size} rows shown, ${expectR2.size} weeks)"
    val r3 = page(2).rows.headOption.getOrElse(Nil)
    val exp3 = ledger.weekSums(lastWeek).map(t => BigDecimal(t) / 10)
    if (r3.size != exp3.length) out += s"R3 has ${r3.size} cells, expected ${exp3.length}"
    else r3.zip(exp3).zipWithIndex.foreach { case ((got, exp), i) =>
      val g = BigDecimal(got)
      if ((g - exp).abs > BigDecimal("0.01") + exp.abs * BigDecimal("1e-9"))
        out += s"R3 column $i: $got != $exp"
    }
    out.result()
  }

  private def partFiles(dir: File, suffix: String): Seq[File] =
    if (!dir.exists) Nil
    else {
      val walk = Files.walk(dir.toPath)
      try walk.iterator().asScala.map(_.toFile).filter(f =>
        f.isFile && f.getName.startsWith("part-") && f.getName.endsWith(suffix)).toList
      finally walk.close()
    }

  /** Data rows in a directory of CSV part files written with a header. */
  def csvRows(dir: File): Long = partFiles(dir, ".csv").map { f =>
    val n = Files.lines(f.toPath)
    try math.max(0L, n.count() - 1) finally n.close()
  }.sum

  /** Parquet data files under a warehouse directory. */
  def dataFiles(dir: File): Long = partFiles(dir, ".parquet").size.toLong

  /** Order-independent digest of a result: every row rendered as text,
    * rows sorted, MD5 over the lines. */
  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map(r => r.toSeq.map(cell).mkString("\u0001")).sorted.foreach { l =>
      md.update(l.getBytes("UTF-8")); md.update('\n'.toByte)
    }
    md.digest().map("%02x".format(_)).mkString
  }

  private def cell(v: Any): String = v match {
    case null => "NULL"
    case r: Row => r.toSeq.map(cell).mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => s"${cell(k)}=${cell(x)}" }.sorted.mkString("{", ",", "}")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case other => other.toString
  }
}
