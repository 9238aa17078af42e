package e2ebench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.time.LocalDate
import java.util.SplittableRandom
import scala.collection.mutable

/** Seeded generator of reference-shaped HHS weekly-capacity and CMS
  * quality CSVs (FIXTURES.md §A), plus the ledger that says what loading
  * each file must do to the warehouse.
  *
  * Every row is a pure function of (seed, week, hospital, copy), so the
  * same seed gives byte-identical files in any generation order, and the
  * ledger can replay a file's rows without reading it back.
  *
  * Dirty mix per HHS file: `-999999` sentinels and empty metric cells
  * (both load as NULL), a negative metric (reject), the valid `-0.5`
  * truncation quirk, a null `hospital_name` (reject), in-file duplicate
  * (hospital_pk, collection_week) rows (dropped, first valid row wins)
  * and a ~1% replay of the prior week's rows at the head of the file
  * (dropped against the warehouse, or rejected again if the original
  * was). Quality files carry `Not Available` ratings, Yes/No emergency
  * services, negative ratings and empty facility ids (rejects).
  */
final class Inputs(seed: Long, baseHospitals: Int) {
  import Inputs._

  /** Hospitals that report in week `w`: the base set plus a few new
    * hospitals every week. */
  def activeHospitals(w: Int): Int = baseHospitals + w * newPerWeek
  private val newPerWeek = math.max(1, baseHospitals / 1000)

  private def rng(parts: Long*): SplittableRandom =
    new SplittableRandom(parts.foldLeft(seed * 0x9E3779B97F4A7C15L) { (h, p) =>
      java.lang.Long.rotateLeft(h ^ (p * 0xBF58476D1CE4E5B9L), 31) * 0x94D049BB133111EBL
    })

  // State of hospital h: skewed (Zipf-like) over the 50 states.
  private val stateCdf: Array[Double] = {
    val w = States.indices.map(i => 1.0 / math.pow(i + 1, 0.8))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }
  private val hospitalState = mutable.ArrayBuffer.empty[Int]
  private val hospitalKey = mutable.ArrayBuffer.empty[String]
  private val perStateSerial = new Array[Int](States.length)

  /** CCN-style key: two-digit state code (leading zero kept) and a
    * four-digit serial that is unique within the state. */
  def key(h: Int): String = { grow(h); hospitalKey(h) }
  def state(h: Int): String = { grow(h); States(hospitalState(h)) }

  private def grow(h: Int): Unit = while (hospitalKey.size <= h) {
    val i = hospitalKey.size
    val u = rng(1, i).nextDouble()
    val s = stateCdf.indexWhere(_ >= u) max 0
    perStateSerial(s) += 1
    hospitalState += s
    hospitalKey += f"${s + 1}%02d${perStateSerial(s) + 17 * (s % 5)}%04d"
  }

  def weekDate(w: Int): LocalDate = FirstWeek.plusWeeks(w.toLong)

  /** One HHS row: (hospital, week, copy); copy 0 is the primary row,
    * copy 1 the in-file duplicate that trails the file. */
  def hhsRow(w: Int, h: Int, copy: Int): HhsRow = {
    val r = rng(2, w, h, copy)
    val metrics = Array.tabulate[Cell](MetricCount) { m =>
      val tenths = r.nextLong(MetricLoTenths(m), MetricHiTenths(m))
      val u = r.nextDouble()
      if (u < 0.02) Sentinel else if (u < 0.03) Empty else Value(tenths)
    }
    val u = r.nextDouble()
    val quirkCol = r.nextInt(MetricCount)
    if (u < 0.004) metrics(quirkCol) = Value(-10L * (1 + r.nextInt(50)) - r.nextInt(10))
    else if (u < 0.009) metrics(quirkCol) = Value(-5L)
    val nameNull = r.nextDouble() < 0.003
    HhsRow(h, w, if (nameNull) None else Some(s"Hospital ${key(h)}"), metrics)
  }

  /** The rows of the week-`w` file in file order: replays of week w-1
    * first, then every active hospital, then in-file duplicates. */
  def weekRows(w: Int): Iterator[HhsRow] = {
    val r = rng(3, w)
    val n = activeHospitals(w)
    val replays =
      if (w == 0) Seq.empty
      else (0 until activeHospitals(w - 1)).filter(_ => r.nextDouble() < 0.01)
    val dups = (0 until n).filter(_ => r.nextDouble() < 0.005)
    replays.iterator.map(hhsRow(w - 1, _, 0)) ++
      (0 until n).iterator.map(hhsRow(w, _, 0)) ++
      dups.iterator.map(hhsRow(w, _, 1))
  }

  /** state, address, city, zip, fips_code, geocoded_hospital_address */
  def location(h: Int): Seq[String] = {
    val r = rng(4, h)
    Seq(state(h), s"${1 + r.nextInt(9999)} Main St", s"City ${r.nextInt(400)}",
      f"${r.nextInt(100000)}%05d", f"${r.nextInt(100000)}%05d",
      f"POINT (-${70 + r.nextInt(50)}.${r.nextInt(1000)}%03d ${25 + r.nextInt(24)}.${r.nextInt(1000)}%03d)")
  }

  def hhsLine(row: HhsRow): String =
    ((key(row.hospital) +: row.name.getOrElse("") +: location(row.hospital)) ++
      (weekDate(row.week).toString +: row.metrics.toSeq.map(_.text))).mkString(",")

  /** Write weeks `from until to` as one CSV; returns the rows written. */
  def writeHhs(file: File, from: Int, to: Int): Seq[HhsRow] = {
    val rows = (from until to).flatMap(weekRows)
    writeLines(file, HhsHeader, rows.iterator.map(hhsLine))
    rows
  }

  /** Quality snapshot `q`: ~90% of the hospitals active at week `w`
    * plus a few facilities unknown to the HHS feed. */
  def qualityRows(q: Int, w: Int): Seq[QualityRow] = {
    val r = rng(5, q)
    val known = (0 until activeHospitals(w)).filter(_ => r.nextDouble() < 0.9).map(key)
    val unknown = (0 until math.max(1, known.size / 100)).map(i => f"99${q % 100}%02d$i%04d")
    (known ++ unknown).map { id =>
      val u = r.nextDouble()
      val rating =
        if (u < 0.1) "Not Available" else if (u < 0.105) "-1" else (1 + r.nextInt(5)).toString
      val facility = if (r.nextDouble() < 0.005) None else Some(id)
      val own = Ownerships(math.min(Ownerships.length - 1, (math.pow(r.nextDouble(), 2) * Ownerships.length).toInt))
      QualityRow(facility, rating, if (r.nextDouble() < 0.8) "Yes" else "No",
        HospitalTypes(r.nextInt(HospitalTypes.length)), own)
    }
  }

  def writeQuality(file: File, rows: Seq[QualityRow]): Unit =
    writeLines(file, QualityHeader, rows.iterator.map(q => Seq(
      q.facility.getOrElse(""), s"Facility ${q.facility.getOrElse("unknown")}",
      q.hospitalType, q.ownership, q.emergency, q.rating).mkString(",")))
}

object Inputs {
  val FirstWeek: LocalDate = LocalDate.of(2021, 1, 3)
  val MetricCount = 8
  // per-metric value ranges in tenths (beds, occupied, icu, covid, ...)
  private val MetricLoTenths = Array(100L, 0L, 50L, 0L, 0L, 0L, 0L, 0L)
  private val MetricHiTenths = Array(8000L, 800L, 7000L, 600L, 1500L, 1200L, 2000L, 500L)

  sealed trait Cell { def text: String; def tenths: Option[Long] }
  case object Sentinel extends Cell { val text = "-999999"; val tenths = None }
  case object Empty extends Cell { val text = ""; val tenths = None }
  final case class Value(t: Long) extends Cell {
    def text: String = BigDecimal(t, 1).bigDecimal.toPlainString
    def tenths: Option[Long] = Some(t)
  }

  final case class HhsRow(hospital: Int, week: Int, name: Option[String], metrics: Array[Cell]) {
    /** The loader's validation: name NOT NULL, then every metric >= 0
      * after `int()` truncation (so -0.5 passes). */
    def valid: Boolean = name.isDefined && metrics.forall(_.tenths.forall(_ > -10L))
  }
  final case class QualityRow(facility: Option[String], rating: String, emergency: String,
                              hospitalType: String, ownership: String) {
    def valid: Boolean = facility.isDefined && rating != "-1"
  }

  val HhsHeader: String = (Seq("hospital_pk", "hospital_name", "state", "address", "city",
    "zip", "fips_code", "geocoded_hospital_address", "collection_week") ++
    graft.warehouse.Schemas.hhsMetricColumns).mkString(",")
  val QualityHeader = "Facility ID,Facility Name,Hospital Type,Hospital Ownership," +
    "Emergency Services,Hospital overall rating"

  private val States = Array("CA", "TX", "FL", "NY", "PA", "IL", "OH", "GA", "NC", "MI",
    "NJ", "VA", "WA", "AZ", "MA", "TN", "IN", "MO", "MD", "WI", "CO", "MN", "SC", "AL",
    "LA", "KY", "OR", "OK", "CT", "UT", "IA", "NV", "AR", "MS", "KS", "NM", "NE", "ID",
    "WV", "HI", "NH", "ME", "MT", "RI", "DE", "SD", "ND", "AK", "VT", "WY")
  private val Ownerships = Array("Voluntary non-profit - Private", "Proprietary",
    "Government - Hospital District or Authority", "Government - Local",
    "Voluntary non-profit - Church", "Government - State", "Government - Federal")
  private val HospitalTypes = Array("Acute Care Hospitals", "Critical Access Hospitals",
    "Childrens", "Psychiatric")

  def writeLines(file: File, header: String, lines: Iterator[String]): Unit = {
    file.getParentFile.mkdirs()
    val out = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(file),
      StandardCharsets.UTF_8), 1 << 16)
    try {
      out.write(header); out.write('\n')
      lines.foreach { l => out.write(l); out.write('\n') }
    } finally out.close()
  }
}

/** What the warehouse must hold after each load, replayed from the
  * generated rows with the loaders' documented semantics: validate,
  * then first valid occurrence per key wins, then drop keys the
  * warehouse already has. */
final class Ledger {
  import Inputs._

  /** `accepted`: the rows that became bed information; `newHospitals`:
    * the row that introduced each new hospital. */
  final case class HhsOutcome(input: Long, rejected: Long, duplicate: Long,
                              accepted: Seq[HhsRow], newHospitals: Seq[HhsRow])
  final case class QualityOutcome(input: Long, added: Long, rejected: Long)

  private val bedKeys = mutable.HashSet.empty[(Int, Int)]
  private val hospitals = mutable.HashSet.empty[Int]
  /** week -> loaded row count */
  val weekRows: mutable.Map[Int, Long] = mutable.TreeMap.empty
  /** week -> exact sums (tenths) of the five R3 report columns */
  val weekSums: mutable.Map[Int, Array[Long]] = mutable.HashMap.empty
  /** data date -> loaded quality rows */
  val qualityRows: mutable.Map[String, Long] = mutable.TreeMap.empty
  private val qualityKeys = mutable.HashSet.empty[(String, String)]

  def hospitalCount: Long = hospitals.size.toLong

  def loadHhs(rows: Seq[HhsRow]): HhsOutcome = {
    var rejected, dup = 0L
    val accepted = mutable.ArrayBuffer.empty[HhsRow]
    val newHosp = mutable.LinkedHashMap.empty[Int, HhsRow]
    rows.foreach { r =>
      if (!r.valid) rejected += 1
      else {
        if (!hospitals(r.hospital) && !newHosp.contains(r.hospital)) newHosp(r.hospital) = r
        if (bedKeys.add((r.hospital, r.week))) {
          accepted += r
          weekRows(r.week) = weekRows.getOrElse(r.week, 0L) + 1
          val s = weekSums.getOrElseUpdate(r.week, new Array[Long](R3Columns.length))
          R3Columns.indices.foreach(i => r.metrics(R3Columns(i)).tenths.foreach(s(i) += _))
        } else dup += 1
      }
    }
    hospitals ++= newHosp.keys
    HhsOutcome(rows.size.toLong, rejected, dup, accepted.toSeq, newHosp.values.toSeq)
  }

  def loadQuality(date: String, rows: Seq[QualityRow]): QualityOutcome = {
    var added, rejected = 0L
    rows.foreach { q =>
      if (q.valid && qualityKeys.add((date, q.facility.get))) added += 1 else rejected += 1
    }
    qualityRows(date) = qualityRows.getOrElse(date, 0L) + added
    QualityOutcome(rows.size.toLong, added, rejected)
  }

  /** Indices into the eight HHS metrics of the five columns R3 sums:
    * adult beds, pediatric beds, total ICU, ICU used, covid inpatients. */
  val R3Columns: Array[Int] = Array(0, 1, 4, 5, 6)
}
