package graft.queries

import graft.SparkSpec
import graft.text.TextFunctions
import org.apache.spark.sql.functions._

/** Independent-reimplementation checks for the analytics batch
  * (gn01/vg01/co02/mk01/ab01/qc02). The DuckDB oracle proves
  * cross-engine parity; these specs re-derive the same numbers a
  * DIFFERENT way (driver-side brute force, definitional identities),
  * so a shared mistake in both SQL formulations would still be
  * caught. Assertions are identities, not distributional bands —
  * the SamplingSpec lesson. */
class AnalyticsQueriesSpec extends SparkSpec {
  import spark.implicits._

  test("gn01: closed-form Gini equals the brute-force ascending-rank computation") {
    val row = ProfilingQueries.gn01GiniConcentration.fn(spark, sfDir).collect().head
    val (nTerms, total, gini, top10) =
      (row.getLong(0), row.getLong(1), row.getDouble(2), row.getDouble(3))

    // Brute force: collect every bigram count, sort ascending, apply
    // the textbook definition with explicit ranks.
    val counts = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(explode(TextFunctions.shinglesAll(col("text"), 2)).as("t"))
      .groupBy("t").count().as[(String, Long)].collect()
    val asc = counts.sortBy { case (t, c) => (c, t) }.map(_._2)
    val n = asc.length.toLong
    val tot = asc.sum
    val ric = asc.zipWithIndex.map { case (c, i) => (i + 1) * c }.sum
    val expGini = (2.0 * ric - (n + 1) * tot) / (n.toDouble * tot)
    val expTop10 = asc.takeRight(10).sum.toDouble / tot

    assert(nTerms == n && total == tot)
    assert(math.abs(gini - expGini) < 1e-6, s"gini $gini vs brute $expGini")
    assert(math.abs(top10 - expTop10) < 1e-6, s"top10 $top10 vs brute $expTop10")
    assert(gini > 0.0 && gini < 1.0)
  }

  test("vg01: batches partition the vocabulary; cumulative ends at the distinct-bigram total") {
    val rows = ProfilingQueries.vg01VocabGrowth.fn(spark, sfDir)
      .as[(Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    // cum_vocab is the running sum of new_terms (definitional)
    val runningSum = rows.map(_._2).scanLeft(0L)(_ + _).drop(1)
    assert(rows.map(_._3).toSeq == runningSum.toSeq)
    // and the final cumulative equals the corpus' distinct bigram count
    val vocab = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(explode(TextFunctions.shinglesAll(col("text"), 2)).as("t"))
      .distinct().count()
    assert(rows.last._3 == vocab, s"cum ${rows.last._3} != vocab $vocab")
    // batch 0 dominates on a saturating corpus: monotone non-increasing
    // is NOT asserted (not definitional); first-batch > 0 is.
    assert(rows.head._2 > 0)
  }

  test("co02: day-0 retention is exactly 1.0 for every cohort (definitional)") {
    val rows = co02Rows()
    val day0 = rows.filter(_._2 == 0L)
    assert(day0.nonEmpty)
    // every user is active on the day of their first event
    assert(day0.forall { case (_, _, n, active, r) => active == n && r == 1.0 },
      s"day-0 rows must have n_active == cohort_n: $day0")
    // n_active never exceeds the cohort size on any offset
    assert(rows.forall { case (_, _, n, active, _) => active <= n })
    // cohort sizes sum to the distinct-user total
    val users = spark.read.parquet(s"$sfDir/events.parquet")
      .select("user_id").distinct().count()
    assert(day0.map(_._3).sum == users)
  }

  private def co02Rows(): Seq[(java.sql.Date, Long, Long, Long, Double)] =
    EventQueries.co02CohortRetention.fn(spark, sfDir)
      .as[(java.sql.Date, Long, Long, Long, Double)].collect().toSeq

  test("mk01: per-from transition counts sum to the lead-pair total; p row-normalizes") {
    val rows = EventQueries.mk01MarkovTransitions.fn(spark, sfDir)
      .as[(String, String, Long, Double)].collect()
    assert(rows.nonEmpty)
    // total transitions = total events − distinct users (each user's
    // stream of length m yields m−1 lead pairs) — definitional
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
    val expected = ev.count() - ev.select("user_id").distinct().count()
    assert(rows.map(_._3).sum == expected)
    // probabilities row-normalize to 1 within rounding (25 terms × 5e-7)
    rows.groupBy(_._1).foreach { case (from, rs) =>
      val s = rs.map(_._4).sum
      assert(math.abs(s - 1.0) < 1e-5, s"$from row sums to $s")
    }
    assert(rows.forall(r => r._4 > 0.0 && r._4 <= 1.0))
  }

  test("ab01: z statistic recomputes from the emitted counts") {
    val row = EventQueries.ab01AbTest.fn(spark, sfDir).collect().head
    val (n0, k0, n1, k1) =
      (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3))
    val (p0, p1, z) = (row.getDouble(4), row.getDouble(5), row.getDouble(6))
    assert(n0 > 0 && n1 > 0 && k0 <= n0 && k1 <= n1)
    val pool = (k0 + k1).toDouble / (n0 + n1).toDouble
    val expZ = (k0.toDouble / n0 - k1.toDouble / n1) /
      math.sqrt(pool * (1.0 - pool) * (1.0 / n0 + 1.0 / n1))
    assert(math.abs(z - expZ) < 1e-6, s"z $z vs recomputed $expZ")
    assert(math.abs(p0 - k0.toDouble / n0) < 1e-6)
    assert(math.abs(p1 - k1.toDouble / n1) < 1e-6)
  }

  test("ppx01: integer quarter-bit surprisal equals floor(4·log2) on every term") {
    // Re-derive per-term quarter-bits with FLOATING-POINT log2 and
    // compare against the engine's all-integer computation — the two
    // must agree exactly (the integer form IS floor(4·log2(tc/c))).
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val terms = docs
      .select(explode(TextFunctions.shinglesAll(col("text"), 2)).as("t"))
      .select(split(col("t"), " ").getItem(0).as("ctx"), col("t"))
      .groupBy("ctx", "t").count()
      .as[(String, String, Long)].collect()
    val ctxTotal = terms.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    def intQbits(c: Long, tc: Long): Long = {
      var b = 0L
      while ((1L << (b + 1)) <= tc && c * (1L << (b + 1)) <= tc) b += 1
      val (c4, p4, t4) = (BigInt(c).pow(4), BigInt(1L << b).pow(4), BigInt(tc).pow(4))
      val f = if (c4 * p4 * 8 <= t4) 3 else if (c4 * p4 * 4 <= t4) 2
              else if (c4 * p4 * 2 <= t4) 1 else 0
      4 * b + f
    }
    terms.foreach { case (ctx, t, c) =>
      val tc = ctxTotal(ctx)
      val viaLog = math.floor(4.0 * (math.log(tc.toDouble / c) / math.log(2.0)) + 1e-9).toLong
      assert(intQbits(c, tc) == viaLog, s"term $t c=$c tc=$tc")
    }
    // and the query's per-doc average reproduces from the term table
    val out = IndexQueries.ppx01QuantizedSurprisal.fn(spark, sfDir)
      .as[(Long, Long, Long, Double)].collect()
    assert(out.nonEmpty)
    out.foreach { case (_, n, sum, avg) =>
      assert(math.abs(avg - sum.toDouble / (4.0 * n)) < 1e-6)
      assert(n > 0 && sum >= 0)
    }
  }

  test("cs01: checksum recomputes from a driver-side Java MD5 reimplementation") {
    val got = ProfilingQueries.cs01TableChecksum.fn(spark, sfDir)
      .as[(String, Long, String)].collect()
    // independent recomputation for the customer table
    val cust = spark.read.parquet(s"$sfDir/customer.parquet")
      .as[(Long, String, Int, Double, String)].collect()
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(s: String): BigInt = {
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      BigInt(hex.substring(0, 15), 16)
    }
    val expected = cust.map { case (k, n, nk, bal, seg) =>
      val balS = new java.math.BigDecimal(bal)
        .setScale(2, java.math.RoundingMode.HALF_UP).toPlainString
      h(s"$k|$n|$nk|$balS|$seg")
    }.sum
    val custRow = got.find(_._1 == "customer").get
    assert(custRow._2 == cust.length.toLong)
    assert(custRow._3 == expected.toString,
      s"checksum ${custRow._3} != independent ${expected}")
    // order independence is structural (commutative sum) — assert the
    // same over a reversed recomputation to catch accidental ordering
    assert(cust.reverse.map { case (k, n, nk, bal, seg) =>
      val balS = new java.math.BigDecimal(bal)
        .setScale(2, java.math.RoundingMode.HALF_UP).toPlainString
      h(s"$k|$n|$nk|$balS|$seg")
    }.sum.toString == custRow._3)
  }

  test("wa01: DAU/WAU/MAU reproduce from a driver-side brute-force recount") {
    val got = EventQueries.wa01RollingActive.fn(spark, sfDir)
      .as[(java.sql.Date, Long, Long, Long, Double)].collect()
    assert(got.nonEmpty)
    val presence = graft.Tables.events(spark, sfDir)
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .distinct().as[(java.sql.Date, Long)].collect()
      .map { case (d, u) => (d.toLocalDate, u) }
    val days = presence.map(_._1).distinct.sorted
    got.foreach { case (dayD, dau, wau, mau, stick) =>
      val day = dayD.toLocalDate
      def active(win: Int) = presence.collect {
        case (d, u) if !d.isAfter(day) && d.isAfter(day.minusDays(win)) => u
      }.distinct.size.toLong
      assert(dau == active(1), s"$day dau")
      assert(wau == active(7), s"$day wau")
      assert(mau == active(30), s"$day mau")
      assert(dau <= wau && wau <= mau)
      assert(math.abs(stick - dau.toDouble / mau.toDouble) < 1e-6)
    }
    assert(got.length == days.length, "one row per observed day")
  }

  test("ts05: max drawdown reproduces from a per-user driver-side scan") {
    val got = EventQueries.ts05Drawdown.fn(spark, sfDir)
      .as[(Long, Long)].collect().toMap
    val ev = graft.Tables.events(spark, sfDir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"),
        (col("value").cast("decimal(12,2)") * 100).cast("long").as("cents"))
      .as[(Long, Long, Long, Long)].collect()
    val expected = ev.groupBy(_._1).map { case (u, rows) =>
      var cum = 0L; var peak = Long.MinValue; var dd = Long.MinValue
      rows.sortBy(r => (r._2, r._3)).foreach { r =>
        cum += r._4; peak = math.max(peak, cum); dd = math.max(dd, peak - cum)
      }
      u -> dd
    }
    assert(got == expected)
    // drawdown is non-negative by construction (peak ≥ cum at the peak row)
    assert(got.values.forall(_ >= 0))
  }

  test("lr01: slope/intercept/r reproduce from a driver-side OLS over the weekly points") {
    val got = ProfilingQueries.lr01LinearFit.fn(spark, sfDir)
      .as[(String, Long, Double, Double, Double)].collect()
    assert(got.nonEmpty)
    val weekly = spark.read.parquet(s"$sfDir/orders.parquet")
      .join(spark.read.parquet(s"$sfDir/customer.parquet"),
        col("o_custkey") === col("c_custkey"))
      .join(spark.read.parquet(s"$sfDir/nation.parquet"),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"),
        expr("datediff(o_orderdate, date'1970-01-01') div 7").as("wk"))
      .agg(sum((col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("long")).as("cents"))
      .as[(String, Long, Long)].collect()
    val byNation = weekly.groupBy(_._1)
    got.foreach { case (nation, nWeeks, slope, intercept, r) =>
      val pts = byNation(nation).map(p => (p._2.toDouble, p._3.toDouble))
      val n = pts.length.toDouble
      assert(nWeeks == pts.length.toLong, s"$nation n_weeks")
      val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
      val sxy = pts.map(p => p._1 * p._2).sum
      val sxx = pts.map(p => p._1 * p._1).sum
      val syy = pts.map(p => p._2 * p._2).sum
      val slopeRaw = (n * sxy - sx * sy) / (n * sxx - sx * sx)
      assert(math.abs(slope - slopeRaw) < 5e-4, s"$nation slope $slope vs $slopeRaw")
      assert(math.abs(intercept - (sy - slopeRaw * sx) / n) < 0.5, s"$nation intercept")
      val rRaw = (n * sxy - sx * sy) /
        math.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
      assert(math.abs(r - rRaw) < 5e-4, s"$nation r $r vs $rRaw")
      assert(r >= -1.0 - 1e-9 && r <= 1.0 + 1e-9)
    }
  }

  test("bf01: hop distances reproduce from a driver-side BFS") {
    val got = GraphQueries.bf01BfsHops.fn(spark, sfDir)
      .as[(Long, Long)].collect().toMap
    assert(got.nonEmpty)
    val edges = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey"), (col("o_custkey") * 2).as("src"))
      .join(spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select(col("l_orderkey"), (col("l_suppkey") * 2 + 1).as("dst")),
        col("o_orderkey") === col("l_orderkey"))
      .select("src", "dst").distinct()
      .as[(Long, Long)].collect()
    val adj = (edges ++ edges.map(e => (e._2, e._1)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val seed = edges.map(_._1).min
    var dist = Map(seed -> 0L)
    var frontier = Set(seed)
    (1 to 4).foreach { d =>
      frontier = frontier.flatMap(adj.getOrElse(_, Set.empty))
        .filterNot(dist.contains)
      dist ++= frontier.map(_ -> d.toLong)
    }
    assert(got == dist, "BFS distances diverge from the driver-side recount")
    assert(got(seed) == 0L)
    // every non-seed node at dist d has a neighbor at d-1 (BFS invariant)
    got.filter(_._2 > 0).foreach { case (id, d) =>
      assert(adj(id).exists(nb => got.get(nb).contains(d - 1)), s"node $id")
    }
  }

  test("ts04: TWAP reproduces from a driver-side segment walk") {
    val got = EventQueries.ts04Twap.fn(spark, sfDir)
      .as[(Long, java.sql.Date, Long, Double)].collect()
      .map { case (u, d, n, t) => ((u, d.toLocalDate), (n, t)) }.toMap
    assert(got.nonEmpty)
    val ev = graft.Tables.events(spark, sfDir)
      .select(col("user_id"),
        to_date(col("ts")).as("day"),
        unix_micros(col("ts")).as("us"), col("event_id"),
        floor(col("value") * 1000000L).cast("long").as("vq"))
      .as[(Long, java.sql.Date, Long, Long, Long)].collect()
    val expected = ev.groupBy(r => (r._1, r._2.toLocalDate)).flatMap {
      case (k, rows) =>
        val sorted = rows.sortBy(r => (r._3, r._4))
        val num = sorted.sliding(2).collect { case Array(a, b) =>
          BigInt(a._5) * BigInt(b._3 - a._3) }.sum
        val den = sorted.last._3 - sorted.head._3
        if (den > 0)
          Some(k -> (rows.length.toLong,
            BigDecimal((BigDecimal(num) / den / 1000000L).toDouble)
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
        else None
    }
    assert(got.keySet == expected.keySet)
    got.foreach { case (k, (n, t)) =>
      val (en, et) = expected(k)
      assert(n == en, s"$k n_events")
      assert(math.abs(t - et) < 2e-6, s"$k twap $t vs $et")
    }
  }

  test("em01: per-dim stats reproduce from a driver-side quantized scan") {
    val got = VectorQueries.em01DimStats.fn(spark, sfDir)
      .as[(Long, Long, Double, Double, Double, Double)].collect()
    assert(got.nonEmpty)
    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("embedding").as[Array[Float]].collect()
    val dims = vecs.head.length
    assert(got.length == dims)
    got.foreach { case (dim, n, mean, variance, minV, maxV) =>
      val xs = vecs.map(v => math.floor(v(dim.toInt).toDouble * 1e6).toLong)
      assert(n == xs.length.toLong)
      val sx = xs.map(BigInt(_)).sum
      val sxx = xs.map(x => BigInt(x) * BigInt(x)).sum
      val nD = xs.length.toDouble
      assert(math.abs(mean - sx.toDouble / nD / 1e6) < 2e-6, s"dim $dim mean")
      assert(math.abs(variance -
        (nD * sxx.toDouble - sx.toDouble * sx.toDouble) / nD / nD / 1e12) < 2e-6,
        s"dim $dim variance")
      assert(minV == xs.min / 1e6 && maxV == xs.max / 1e6, s"dim $dim min/max")
      assert(variance >= -1e-9)
    }
  }

  test("s04: top paths reproduce from a driver-side sessionization walk") {
    val got = EventQueries.s04TopPaths.fn(spark, sfDir)
      .as[(String, Long)].collect()
    assert(got.nonEmpty && got.length <= 20)
    val ev = graft.Tables.events(spark, sfDir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"),
        col("event_type"))
      .as[(Long, Long, Long, String)].collect()
    val paths = ev.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
      val sorted = rows.sortBy(r => (r._2, r._3))
      // split at >30min gaps, then cap each session's path at 8 steps
      val sessions = sorted.foldLeft(List.empty[List[(Long, Long, String)]]) {
        case (acc, r) => acc match {
          case (h :: t) if r._2 - h.head._1 <= 1800000000L =>
            ((r._2, r._3, r._4) :: h) :: t
          case _ => List((r._2, r._3, r._4)) :: acc
        }
      }
      sessions.map(_.reverse.take(8).map(_._3).mkString(">"))
    }
    val counts = paths.groupBy(identity).view.mapValues(_.size.toLong).toMap
    // every reported row restates the brute-force count, and the list
    // is the true top-20 under (count DESC, path ASC)
    got.foreach { case (p, n) => assert(counts(p) == n, s"path $p") }
    val want = counts.toSeq.sortBy { case (p, n) => (-n, p) }.take(20)
    assert(got.toSeq == want)
  }

  test("qc02: flags restate their defining inequalities; classes partition the table") {
    val rows = PipelineQueries.qc02KAnonymity.fn(spark, sfDir)
      .as[(Int, String, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (_, _, n, l, kv, lv) =>
      assert(kv == (if (n < 10) 1L else 0L))
      assert(lv == (if (l < 4) 1L else 0L))
      assert(l >= 1 && l <= n)
    }
    val total = spark.read.parquet(s"$sfDir/customer.parquet").count()
    assert(rows.map(_._3).sum == total, "QI classes must partition the table")
  }

  test("gn02 == gn01 on an engineered corpus with counts AT the log2 bucket edges") {
    // gn02's rank elimination buckets the count histogram by
    // length(bin(c)) — integer log2, chosen over libm log2 precisely
    // because 2.999… at powers of two would misbucket. The sf corpus's
    // Zipf histogram doesn't guarantee boundary coverage, so this
    // fixture engineers it: one unique bigram per target count, with
    // counts at 2^k − 1 / 2^k / 2^k + 1 for every bucket up to 128,
    // plus duplicate-count tie groups (three bigrams at c=8, two at
    // c=16) to exercise the m>1 tie-run closed form across an edge.
    val counts = Seq(1L, 2L, 3L, 4L, 5L, 7L, 8L, 8L, 8L, 9L, 15L, 16L,
      16L, 17L, 31L, 32L, 33L, 63L, 64L, 65L, 127L, 128L, 129L)
    val docs = counts.zipWithIndex.flatMap { case (c, i) =>
      (0L until c).map(r => (i * 1000L + r, s"t${i}a t${i}b"))
    }
    val dir = tempDir("gn_edge")
    try {
      docs.toDF("doc_id", "text")
        .withColumn("n_chars", length(col("text")))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")

      val a = ProfilingQueries.gn01GiniConcentration.fn(spark, dir).collect()
      val b = ProfilingQueries.gn02GiniBucketed.fn(spark, dir).collect()
      assert(a.toSeq == b.toSeq, s"gn01 ${a.toSeq} != gn02 ${b.toSeq}")
      // and both match the closed form computed from the known histogram
      val asc = counts.sorted
      val n = asc.length.toLong
      val tot = asc.sum
      val ric = asc.zipWithIndex.map { case (c, i) => (i + 1) * c }.sum
      val expGini = BigDecimal((2.0 * ric - (n + 1) * tot) / (n.toDouble * tot))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val row = a.head
      assert(row.getLong(0) == n && row.getLong(1) == tot)
      assert(math.abs(row.getDouble(2) - expGini) < 1e-6,
        s"gini ${row.getDouble(2)} vs engineered $expGini")
      assert(math.abs(row.getDouble(3) -
        asc.takeRight(10).sum.toDouble / tot) < 1e-6)
    } finally {
      // repeated runs would otherwise accumulate ~3k-row parquet dirs
      // under target/ (ADVICE r13)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }
}
