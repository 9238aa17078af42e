package graft

import org.apache.spark.sql.functions._

/** Pins the ScaleUp replica discipline — the properties that make a
  * scaled corpus a legitimate SCALING measurement rather than a
  * degenerate one. Factor 70 deliberately crosses dim=64: the original
  * rotation scheme repeated there (replica 64's i·7 mod 64 = 0 was a
  * verbatim coordinate copy of replica 0 — cross-replica EXACT
  * duplicate vectors), which the affine index map fixes. */
class ScaleUpSpec extends SparkSpec {

  private lazy val dest = {
    val dir = tempDir("scaleup_spec")
    ScaleUp.run(spark, sfDir, dir, factor = 70)
    dir
  }
  private def t(name: String) = spark.read.parquet(s"$dest/$name.parquet")

  test("row counts scale by the factor; dimensions stay fixed") {
    val srcDocs = spark.read.parquet(s"$sfDir/documents.parquet").count()
    assert(t("documents").count() == 70 * srcDocs)
    val srcNation = spark.read.parquet(s"$sfDir/nation.parquet").count()
    assert(t("nation").count() == srcNation)
  }

  test("key bands are disjoint: ids unique across all replicas") {
    val docs = t("documents")
    assert(docs.select("doc_id").distinct().count() == docs.count())
    val emb = t("embeddings")
    assert(emb.select("vec_id").distinct().count() == emb.count())
  }

  test("embeddings: every replica's permutation is distinct past dim=64 (no exact-dup vectors)") {
    val emb = t("embeddings")
    val n = emb.count()
    // vectors distinct across the WHOLE corpus: the affine map family
    // never repeats under the enforced factor bound, so replica 64+
    // cannot shadow replica 0 (the rotation scheme's failure mode)
    val distinctVecs = emb.select(col("embedding").cast("string")).distinct().count()
    assert(distinctVecs == n,
      s"$n vectors but only $distinctVecs distinct - replica permutations collided")
  }

  test("documents: cross-replica token-set Jaccard stays below the 4/5 near-dup gate") {
    // Check replica 0 against EVERY other replica's copy of the same
    // source doc. The bijective vocabulary rename makes cross-replica
    // type sets disjoint — Jaccard exactly 0 for every pair. Two
    // weaker schemes failed this gate: positional tagging measured
    // 0.9 (nearly every TYPE also appeared at an untagged position),
    // and hash-parity type tagging left a binomial tail (0.69 on a
    // doc with few types in the tagged class).
    val docs = t("documents")
    val srcDocs = spark.read.parquet(s"$sfDir/documents.parquet").count()
    val d = 1000000L
    val sets = docs.select(col("doc_id"),
      pmod(col("doc_id"), lit(d)).as("src_id"),
      array_distinct(split(col("text"), " ")).as("toks"))
    val pairs = sets.filter(col("doc_id") < srcDocs)
      .select(col("src_id"), col("toks").as("t0"))
      .join(sets.filter(col("doc_id") >= d)
        .select(col("src_id"), col("toks").as("ti")), "src_id")
      .select(
        (size(array_intersect(col("t0"), col("ti"))).cast("double") /
          size(array_union(col("t0"), col("ti")))).as("j"))
    val maxJ = pairs.agg(max(col("j"))).head.getDouble(0)
    assert(maxJ == 0.0,
      s"cross-replica Jaccard $maxJ != 0 - the bijective rename " +
        "no longer makes replica vocabularies disjoint")
  }

  test("documents: token sets are disjoint between NON-ZERO replica pairs too (i vs j)") {
    // The 0-vs-i gate alone would miss an i-vs-j collision (replica 0
    // is the only un-prefixed one, so 0-vs-i disjointness is trivially
    // strong). The delimited zr${i}_ prefix makes the replica id
    // parseable up to the first '_' for ANY token vocabulary — gate it
    // on every (i, j) pair over a source-doc sample.
    val docs = t("documents")
    val d = 1000000L
    val sets = docs
      .filter(col("doc_id") >= d)               // non-zero replicas only
      .filter(pmod(col("doc_id"), lit(d)) % 25 === 0) // source-doc sample
      .select(col("doc_id"),
        pmod(col("doc_id"), lit(d)).as("src_id"),
        array_distinct(split(col("text"), " ")).as("toks"))
    val pairs = sets.select(col("src_id"), col("doc_id").as("ida"), col("toks").as("ta"))
      .join(sets.select(col("src_id"), col("doc_id").as("idb"), col("toks").as("tb")),
        "src_id")
      .filter(col("ida") < col("idb"))
      .select(size(array_intersect(col("ta"), col("tb"))).as("inter"))
    val maxInter = pairs.agg(max(col("inter"))).head.getInt(0)
    assert(maxInter == 0,
      s"replica i-vs-j token overlap $maxInter != 0 - the delimited " +
        "prefix no longer separates non-zero replica vocabularies")
  }

  test("supplier: names are globally unique and cipher preserves intra-replica edit structure") {
    val sup = t("supplier")
    val n = sup.count()
    // any verbatim cross-replica name copy collapses the distinct count
    val distinctNames = sup.select("s_name").distinct().count()
    assert(distinctNames == n,
      s"$n suppliers but only $distinctNames distinct names - the " +
        "per-replica cipher repeated an alphabet rotation")
    // a substitution cipher is a bijection on characters, so each
    // replica's name multiset has the same length profile as replica 0
    val lens = sup.groupBy((col("s_suppkey") / 100000L).cast("long").as("rep"))
      .agg(countDistinct(length(col("s_name"))).as("nl"),
        min(length(col("s_name"))).as("lo"), max(length(col("s_name"))).as("hi"))
      .select("nl", "lo", "hi").distinct().collect()
    assert(lens.length == 1, s"replicas disagree on name-length profile: ${lens.toSeq}")
  }

  test("supplier: fuzzy matches (Levenshtein<=1) never cross replicas") {
    // THE semantic gate for the fz family: on the scaled corpus every
    // within-distance-1 pair must be intra-replica — cross-replica
    // copies of a source name differ in every rotated position
    // (distance >= 8), so any cross-replica pair here means the cipher
    // leaked a near-identical name and the fz exponents would measure
    // the replication artifact again.
    val sup = t("supplier")
    val pairs = graft.text.FuzzyJoin.pairsWithin1(sup, "s_suppkey", "s_name")
    val cross = pairs
      .filter((col("id1") / 100000L).cast("long") =!=
        (col("id2") / 100000L).cast("long"))
      .count()
    assert(cross == 0, s"$cross cross-replica fuzzy pairs - verbatim or " +
      "near-verbatim names leaked across replicas")
  }

  test("stretch-time mode: replicas translate the event axis at constant density") {
    // the round-12 corpus proposal, pinned on landing: with
    // stretchTime=true each replica's events are a PURE TIME
    // TRANSLATION of the source — disjoint day windows (so fixed-eps
    // proximity pairs can never cross replicas), identical per-replica
    // row counts and span (constant density), identical event-type
    // histograms (translation touches nothing else). Default-off mode
    // is what every recorded corpus fingerprint was built with.
    val dir = tempDir("scaleup_stretch")
    ScaleUp.run(spark, sfDir, dir, factor = 3, stretchTime = true)
    val ev = spark.read.parquet(s"$dir/events.parquet")
      .withColumn("rep", (col("event_id") / ScaleUp.E).cast("long"))
    val src = spark.read.parquet(s"$sfDir/events.parquet")
    val windows = ev.groupBy("rep").agg(
        min(col("ts")).as("lo"), max(col("ts")).as("hi"),
        count(lit(1)).as("n"),
        datediff(max(col("ts").cast("date")), min(col("ts").cast("date"))).as("spanDays"))
      .orderBy("rep").collect()
    assert(windows.length == 3)
    // constant density: every replica has the source's count and span
    val srcN = src.count()
    val srcSpan = src.agg(datediff(max(col("ts").cast("date")),
      min(col("ts").cast("date")))).head.getInt(0)
    windows.foreach { r =>
      assert(r.getAs[Long]("n") == srcN, s"replica ${r.get(0)} lost rows")
      assert(r.getAs[Int]("spanDays") == srcSpan,
        s"replica ${r.get(0)} span ${r.getAs[Int]("spanDays")} != source $srcSpan")
    }
    // disjoint windows, in replica order
    windows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[java.time.LocalDateTime]("hi")
        .isBefore(b.getAs[java.time.LocalDateTime]("lo")),
        s"replica windows overlap: ${a.toSeq} vs ${b.toSeq}")
    }
    // translation-only: per-type counts identical across replicas
    val hist = ev.groupBy("rep", "event_type").count()
      .groupBy("event_type").agg(countDistinct(col("count")).as("variants"))
      .filter(col("variants") =!= 1).count()
    assert(hist == 0, "event-type histogram differs across replicas")
    // completion marker: the LAST artifact of a build — rebuild guards
    // key on this one file, so a finished run must have written it
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "_GRAFT_SCALEUP_SUCCESS")),
      "finished ScaleUp.run left no _GRAFT_SCALEUP_SUCCESS marker")
  }

  test("stretch-time on an all-null-ts events source fails fast, before any write") {
    // ADVICE r11: the stride aggregate returned a null row on an
    // empty/all-null ts column and .getInt NPE'd mid-build, leaving a
    // half-written destDir. Now it must be an explicit require BEFORE
    // the first table is written.
    val srcDir = tempDir("scaleup_nullts")
    for (tbl <- Seq("region", "nation", "customer", "supplier", "part",
                    "orders", "lineitem", "events", "documents", "embeddings")) {
      val df = spark.read.parquet(s"$sfDir/$tbl.parquet")
      val out =
        if (tbl == "events")
          df.withColumn("ts", lit(null).cast(df.schema("ts").dataType))
        else df
      out.write.parquet(s"$srcDir/$tbl.parquet")
    }
    val destDir = tempDir("scaleup_nullts_out")
    val e = intercept[IllegalArgumentException] {
      ScaleUp.run(spark, srcDir, destDir, factor = 2, stretchTime = true)
    }
    assert(e.getMessage.contains("cannot derive the replica time stride"),
      e.getMessage)
    // fail-fast means fail BEFORE the first table write
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(destDir, "region.parquet")),
      "guard fired only after tables were already written")
  }

  test("stretch-all mode: one common stride translates every date axis coherently") {
    // the round-12 proposal for ov01's stacked-order-date artifact,
    // landed default-off like stretch-time was in r11: ALL
    // transactional date columns (o_orderdate, l_shipdate, events ts)
    // translate by the SAME i·stride days, so every table's replica
    // windows are disjoint AND within-replica cross-column
    // relationships (ship lag) are preserved exactly.
    val dir = tempDir("scaleup_stretchall")
    ScaleUp.run(spark, sfDir, dir, factor = 3, stretchAll = true)
    val axes = Seq(
      ("events", "event_id", ScaleUp.E, "ts"),
      ("orders", "o_orderkey", ScaleUp.O, "o_orderdate"),
      ("lineitem", "l_orderkey", ScaleUp.O, "l_shipdate"))
    // the common stride, recomputed the way run() derives it
    val stride = axes.map { case (t, _, _, dc) =>
        spark.read.parquet(s"$sfDir/$t.parquet")
          .select(col(dc).cast("date").as("d"))
      }.reduce(_ unionAll _)
      .agg(datediff(max(col("d")), min(col("d")))).head.getInt(0) + 1
    for ((t, key, band, dc) <- axes) {
      val lo = spark.read.parquet(s"$sfDir/$t.parquet")
        .agg(date_format(min(col(dc).cast("date")), "yyyy-MM-dd")).head.getString(0)
      val hi = spark.read.parquet(s"$sfDir/$t.parquet")
        .agg(date_format(max(col(dc).cast("date")), "yyyy-MM-dd")).head.getString(0)
      val offs = spark.read.parquet(s"$dir/$t.parquet")
        .withColumn("rep", (col(key) / band).cast("long"))
        .groupBy("rep").agg(
          datediff(min(col(dc).cast("date")), to_date(lit(lo))).as("offLo"),
          datediff(max(col(dc).cast("date")), to_date(lit(hi))).as("offHi"))
        .orderBy("rep").collect()
      assert(offs.length == 3, s"$t: expected 3 replicas")
      offs.foreach { r =>
        val i = r.getAs[Long]("rep")
        // min AND max shift by exactly i*stride: pure translation,
        // constant span, disjoint windows (stride covers every axis)
        assert(r.getAs[Int]("offLo") == i * stride,
          s"$t replica $i: min($dc) offset ${r.getAs[Int]("offLo")} != ${i * stride}")
        assert(r.getAs[Int]("offHi") == i * stride,
          s"$t replica $i: max($dc) offset ${r.getAs[Int]("offHi")} != ${i * stride}")
      }
    }
    // cross-column coherence: the ship-lag (l_shipdate − o_orderdate)
    // histogram is IDENTICAL across replicas — equal translation
    // commutes with differences, so the join semantics are untouched
    val lag = spark.read.parquet(s"$dir/lineitem.parquet").alias("l")
      .join(spark.read.parquet(s"$dir/orders.parquet").alias("o"),
        col("l.l_orderkey") === col("o.o_orderkey"))
      .select((col("l.l_orderkey") / ScaleUp.O).cast("long").as("rep"),
        datediff(col("l.l_shipdate").cast("date"),
          col("o.o_orderdate").cast("date")).as("lag"))
    val bad = lag.groupBy("rep", "lag").count()
      .groupBy("lag").agg(countDistinct(col("count")).as("variants"),
        count(lit(1)).as("reps"))
      .filter(col("variants") =!= 1 || col("reps") =!= 3).count()
    assert(bad == 0, "ship-lag histogram differs across replicas")
  }
}
