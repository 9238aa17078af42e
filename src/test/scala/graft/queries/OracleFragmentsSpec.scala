package graft.queries

import graft.SourceScan
import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite

class OracleFragmentsSpec extends AnyFunSuite {

  private val mains = SourceScan.mainSources
  private def in(file: String)(p: Path) = p.endsWith(s"graft/queries/$file")

  test("the token-position CTE and the lang-ID fold are spelled only in their generators") {
    // An inlined copy of a shared oracle fragment drifts from its
    // generator. TextQueries.sqlTok owns the token-position CTE (em01's
    // per-dimension index is the one other subscript walk); the marker
    // argmax fold is TextQueries.sqlLangId's.
    val subscripts = """generate_subscripts\(""".r
    val fold = """CASE WHEN s_""".r
    val overSubscripts = SourceScan.overLimit(subscripts, mains) { p =>
      if (in("TextQueries.scala")(p) || in("VectorQueries.scala")(p)) 1 else 0 }
    val overFold = SourceScan.overLimit(fold, mains)(p => if (in("TextQueries.scala")(p)) 1 else 0)
    assert(overSubscripts.isEmpty, s"generate_subscripts outside its generator: $overSubscripts")
    assert(overFold.isEmpty, s"lang-ID fold outside its generator: $overFold")
    val text = Files.readString(mains.find(in("TextQueries.scala")).get)
    assert(subscripts.findFirstIn(text).nonEmpty && fold.findFirstIn(text).nonEmpty,
      "scan found no generator in TextQueries.scala")
  }

  test("the bigram self-join is spelled only in its generator") {
    // TextQueries.sqlBigrams owns the next-token self-join over a
    // token-position CTE.
    val bigram = """b\.i = a\.i \+ 1""".r
    val over = SourceScan.overLimit(bigram, mains)(p => if (in("TextQueries.scala")(p)) 1 else 0)
    assert(over.isEmpty, s"bigram self-join outside its generator: $over")
    assert(bigram.findFirstIn(Files.readString(mains.find(in("TextQueries.scala")).get)).nonEmpty,
      "scan found no generator in TextQueries.scala")
  }

  test("the ADC top-n cut is spelled only in its generator") {
    // VectorQueries.sqlAdcCut owns the per-query ranked cut by ADC
    // distance (adist ascending, ties to the smaller vec_id).
    val cut = """PARTITION BY q_id ORDER BY adist, vec_id""".r
    val over = SourceScan.overLimit(cut, mains)(p => if (in("VectorQueries.scala")(p)) 1 else 0)
    assert(over.isEmpty, s"ADC cut outside its generator: $over")
    assert(cut.findFirstIn(Files.readString(mains.find(in("VectorQueries.scala")).get)).nonEmpty,
      "scan found no generator in VectorQueries.scala")
  }

  /** Guard: `pattern` matches only in the file ending `owner`, at most
    * `max` times, and does match there. */
  private def ownedBy(pattern: scala.util.matching.Regex, owner: String, max: Int = 1) = {
    val over = SourceScan.overLimit(pattern, mains)(p => if (p.endsWith(owner)) max else 0)
    assert(over.isEmpty, s"$pattern outside $owner: $over")
    assert(pattern.findFirstIn(Files.readString(mains.find(_.endsWith(owner)).get)).nonEmpty,
      s"scan found no $pattern in $owner")
  }

  test("session_window is spelled only in s02's operator, Sessions.sessionWindowAgg") {
    // A stream runs the batch operator on a watermarked frame; a second
    // session_window grouping would drift from the oracle-checked one.
    ownedBy("""session_window\(""".r, "graft/events/Sessions.scala")
  }

  test("the [PII] replacement is spelled only in pii01's operator, TextFunctions.redactPii") {
    // The oracle's single-quoted '[PII]' is SQL, not a Scala literal.
    ownedBy("\"\\[PII\\]\"".r, "graft/text/TextFunctions.scala")
  }

  test("the curation reason precedence is spelled only in CurationPipeline.filterStage") {
    ownedBy("""lit\("lang_filtered"\)""".r, "graft/text/CurationPipeline.scala")
  }

  test("query-file comments state invariants, not review rounds") {
    // Provenance (which review round asked for what) lives in
    // CHANGES.md; a comment states what holds. Every file under
    // src/main/scala, not just the query files.
    val tag = """\bVERDICT\b|\bADVICE\b|\bNOTES_r|\bround \d+\b|\br\d{1,2}\b""".r
    val comment = """^\s*(?://|/\*|\*)(.*)$|\s//\s(.*)$""".r.unanchored
    val offenders = mains.flatMap { p =>
      Files.readString(p).split("\n").zipWithIndex.collect {
        case (comment(a, b), i) if tag.findFirstIn(Option(a).getOrElse(b)).nonEmpty =>
          s"$p:${i + 1}"
      }
    }
    assert(offenders.isEmpty, s"round-narrating comments: ${offenders.mkString(", ")}")
  }
}
