package graft.etl

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.ExplainMode

class ScaleSpec extends SparkSpec {
  import spark.implicits._

  test("salted join: identical result to plain join under heavy skew") {
    // 90% of rows share one hot key
    val large = (1 to 2000).map(i =>
      (if (i % 10 == 0) s"k$i" else "HOT", i.toDouble)).toDF("k", "v")
    val small = (Seq("HOT") ++ (1 to 2000 by 10).map(i => s"k$i"))
      .zipWithIndex.map { case (k, i) => (k, i) }.toDF("k", "dim")
    val plain = large.join(small, Seq("k")).agg(
      count(lit(1)), sum($"v"), sum($"dim")).head()
    val salted = Scale.saltedJoin(large, small, "k", salts = 8).agg(
      count(lit(1)), sum($"v"), sum($"dim")).head()
    assert(plain == salted)
  }

  test("salted two-phase sum equals direct sum") {
    val df = (1 to 5000).map(i => (if (i % 3 == 0) "HOT" else s"k${i % 50}", i.toLong))
      .toDF("k", "v")
    val direct = df.groupBy("k").agg(sum($"v").as("sum_v"))
    val salted = Scale.saltedSum(df, "k", "v", salts = 8)
    assert(direct.exceptAll(salted).count() == 0)
    assert(salted.exceptAll(direct).count() == 0)
  }

  test("bucketed tables join without a shuffle (no Exchange in plan)") {
    val wh = tempDir("buckets")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    Scale.writeBucketed(Tables.orders(spark, sfDir), "b_orders",
      "o_orderkey", 4, s"$wh/b_orders")
    Scale.writeBucketed(
      Tables.lineitem(spark, sfDir).withColumnRenamed("l_orderkey", "o_orderkey"),
      "b_lineitem", "o_orderkey", 4, s"$wh/b_lineitem")
    // disable broadcast so the plan shows the bucket-join shape large
    // tables would take (local test data is small enough to broadcast)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("b_orders")
        .join(spark.table("b_lineitem"), Seq("o_orderkey"))
      val plan = joined.queryExecution.explainString(ExplainMode.fromString("formatted"))
      assert(plan.contains("SortMergeJoin"))
      assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n$plan")
      // and it's not just a plan: the join returns the full fact rowcount
      assert(joined.count() == Tables.lineitem(spark, sfDir).count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("partitioned warehouse writes give partition pruning on week filters") {
    val dir = tempDir("prune")
    // write events partitioned by day (the bedInfo-by-week layout, SURVEY §4)
    graft.Tables.events(spark, sfDir)
      .withColumn("day", col("ts").cast("date"))
      .write.mode("overwrite").partitionBy("day").parquet(s"$dir/events_by_day")
    val pruned = spark.read.parquet(s"$dir/events_by_day")
      .filter(col("day") === "2024-01-02")
    val plan = pruned.queryExecution.explainString(ExplainMode.fromString("formatted"))
    // the date filter must land in PartitionFilters (scan skips other days)
    assert(plan.contains("PartitionFilters: [isnotnull(day"), plan)
    assert(pruned.count() ==
      graft.Tables.events(spark, sfDir).filter(col("ts").cast("date") === "2024-01-02").count())
  }

  test("ORC round-trip preserves rows and types; predicate reaches the ORC scan") {
    val dir = tempDir("orc")
    val li = graft.Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_partkey", "l_quantity", "l_shipdate")
    li.write.mode("overwrite").orc(s"$dir/li")
    val back = spark.read.orc(s"$dir/li")
    assert(back.schema == li.schema)
    assert(back.count() == li.count())
    assert(back.exceptAll(li).count() == 0 && li.exceptAll(back).count() == 0)
    val filtered = back.filter(col("l_quantity") >= 30)
    val plan = filtered.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(plan.contains("Scan orc") && plan.contains("PushedFilters"), plan)
    assert(filtered.count() == li.filter(col("l_quantity") >= 30).count())
  }

  test("dynamic partition pruning: a dim-side filter prunes fact partitions at runtime") {
    val dir = tempDir("dpp")
    val ev = graft.Tables.events(spark, sfDir)
      .withColumn("day", col("ts").cast("date"))
    ev.write.mode("overwrite").partitionBy("day").parquet(s"$dir/fact")
    // dim carries a NON-partition attribute; only the filtered join can
    // reveal which fact partitions matter — static pruning can't fire
    val hot = ev.agg(min(col("day"))).head().getDate(0)
    ev.select(col("day")).distinct()
      .withColumn("is_hot", (col("day") === lit(hot)).cast("int"))
      .write.mode("overwrite").parquet(s"$dir/dim")
    val fact = spark.read.parquet(s"$dir/fact")
    val dim = spark.read.parquet(s"$dir/dim").filter(col("is_hot") === 1)
    val joined = fact.join(dim, Seq("day")).groupBy("day")
      .agg(count(lit(1)).as("n"))
    val plan = joined.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    // runtime pruning shows up as a dynamic expression in the fact
    // scan's PartitionFilters (fed by a reused/subquery broadcast)
    assert(plan.contains("dynamicpruningexpression"), plan)
    val got = joined.as[(java.sql.Date, Long)].collect().toMap
    val want = ev.filter(col("day") === lit(hot)).count()
    assert(got == Map(hot -> want))
  }

  test("SQL surface: vec_dot and minhashes usable from spark.sql after install") {
    graft.GraftExtensions.install(spark)
    val out = spark.sql(
      "SELECT vec_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d").head().getDouble(0)
    assert(out == 11.0)
    val mh = spark.sql(
      "SELECT size(minhashes(array(CAST(7 AS BIGINT), CAST(9 AS BIGINT)), 16)) AS n")
      .head().getInt(0)
    assert(mh == 16)
    // shingle_hashes: 3 tokens, k=2 → 2 distinct shingle hashes
    val sh = spark.sql(
      "SELECT size(shingle_hashes(array('a','b','c'), 2)) AS n").head().getInt(0)
    assert(sh == 2)
    // simhash64 of a single hash h = h itself (positive bits win 1-0)
    val sim = spark.sql(
      "SELECT simhash64(array(CAST(5 AS BIGINT))) AS s").head().getLong(0)
    assert(sim == 5L)
    // NULL elements in user-supplied SQL arrays are skipped, not NPEs
    val simNull = spark.sql(
      "SELECT simhash64(array(CAST(5 AS BIGINT), CAST(NULL AS BIGINT))) AS s")
      .head().getLong(0)
    assert(simNull == 5L)
  }

  test("clustered layout: selective key range touches <=2 files, not all") {
    val base = tempDir("clustered")
    val li = graft.Tables.lineitem(spark, sfDir).select("l_orderkey", "l_quantity")
    val maxKey = li.agg(max($"l_orderkey")).head().getLong(0)
    val cond = $"l_orderkey".between(maxKey / 2, maxKey / 2 + maxKey / 50)
    // unclustered: same key range scattered across every file
    li.repartition(16).write.parquet(s"$base/flat")
    val flatFiles = spark.read.parquet(s"$base/flat").filter(cond)
      .select(input_file_name()).distinct().count()
    Scale.writeClustered(li, s"$base/clustered", Seq("l_orderkey"), nFiles = 16)
    val clusteredFiles = spark.read.parquet(s"$base/clustered").filter(cond)
      .select(input_file_name()).distinct().count()
    assert(flatFiles >= 12, s"control: scattered layout should touch ~all files, got $flatFiles")
    assert(clusteredFiles <= 2, s"clustered range should live in <=2 files, got $clusteredFiles")
    // layout changes bytes on disk, never the answer
    assert(spark.read.parquet(s"$base/clustered").filter(cond).count() ==
      spark.read.parquet(s"$base/flat").filter(cond).count())
  }

  test("z-order layout: balanced pruning on BOTH dims; 1-D clustering prunes only its own") {
    val base = tempDir("zorder")
    val li = graft.Tables.lineitem(spark, sfDir)
      .select("l_partkey", "l_suppkey", "l_quantity")
    val dom = li.agg(min($"l_partkey"), max($"l_partkey"),
      min($"l_suppkey"), max($"l_suppkey")).head()
    // a raw interval mapping into scaled band 1 of 4 ([66, 125] of the
    // 8-bit normalized domain, 2-value margin off the [64, 127] band
    // edges) — band-aligned so the expected file set is a clean row or
    // column of the 4x4 z-cell grid, not a straddle of two
    def bandSlice(c: String, lo: Long, hi: Long): org.apache.spark.sql.Column = {
      val a = lo + math.ceil(66.0 * (hi - lo) / 255).toLong
      val b = lo + math.floor(125.0 * (hi - lo) / 255).toLong
      col(c).between(a, b)
    }
    val xCond = bandSlice("l_partkey", dom.getLong(0), dom.getLong(1))
    val yCond = bandSlice("l_suppkey", dom.getLong(2), dom.getLong(3))
    Scale.writeClustered(li, s"$base/by_x", Seq("l_partkey"), nFiles = 16)
    Scale.writeZOrdered(li, s"$base/z", "l_partkey", "l_suppkey", nFiles = 16)
    def files(dir: String, cond: org.apache.spark.sql.Column): Long =
      spark.read.parquet(dir).filter(cond)
        .select(input_file_name()).distinct().count()
    // bounds allow for repartitionByRange's SAMPLED boundaries (seeded
    // off rdd ids — cuts drift a file either way between runs): a band
    // is ~4 of 16 grid cells -> ~4-8 files aligned, +2 sampling slack;
    // the claim that matters is pruned (≤10) vs blind (≥12 of 16)
    // x-selective: both layouts prune (1-D sharply, z to a grid column)
    assert(files(s"$base/by_x", xCond) <= 6,
      "1-D cluster should prune its own key range")
    assert(files(s"$base/z", xCond) <= 10,
      "z-order should prune an x-band to ~a column of the cell grid")
    // y-selective: 1-D layout on x is blind — touches ~all files;
    // z-order still prunes to ~a row of the cell grid
    val byXy = files(s"$base/by_x", yCond)
    val zy = files(s"$base/z", yCond)
    assert(byXy >= 12, s"control: x-clustered layout should scatter a y-slice, got $byXy")
    assert(zy <= 10, s"z-order should prune a y-slice to ~a grid row, got $zy")
    // 2-D conjunction: ~one cell + boundary spill from unaligned cuts
    assert(files(s"$base/z", xCond && yCond) <= 6,
      "z-order should prune a 2-D predicate to ~one cell")
    // layout never changes the answer
    assert(spark.read.parquet(s"$base/z").filter(xCond && yCond).count() ==
      li.filter(xCond && yCond).count())
    assert(li.filter(xCond).count() > 0 && li.filter(yCond).count() > 0,
      "degenerate fixture: empty slices prove nothing")
  }

  test("compact: many small files -> few, same rows, old files gone") {
    val dir = tempDir("compact") + "/t"
    val df = (1 to 10000).map(i => (i.toLong, s"row$i")).toDF("id", "s")
    df.repartition(64).write.parquet(dir) // 64 tiny files
    val sum0 = spark.read.parquet(dir).agg(sum($"id")).head().getLong(0)
    val (before, after) = Scale.compact(spark, dir, targetFileBytes = 64L << 10)
    assert(before == 64)
    assert(after < before, s"expected fewer files, got $after of $before")
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.length == after, "directory holds exactly the compacted files")
    assert(spark.read.parquet(dir).count() == 10000)
    assert(spark.read.parquet(dir).agg(sum($"id")).head().getLong(0) == sum0)
    // idempotent at target size: second pass keeps file count stable
    val (b2, a2) = Scale.compact(spark, dir, targetFileBytes = 64L << 10)
    assert(b2 == after && a2 <= after)
  }

  test("compact: refuses to run over a leftover interrupted-swap dir") {
    val dir = tempDir("compactguard") + "/t"
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").write.parquet(dir)
    // simulate a crash mid-compaction: the tmp dir may hold the only
    // complete copy, so a retry must fail loudly, not destroy it
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(dir + "__compacting"))
    val e = intercept[IllegalArgumentException] {
      Scale.compact(spark, dir, targetFileBytes = 64L << 10)
    }
    assert(e.getMessage.contains("__compacting"))
    assert(spark.read.parquet(dir).count() == 2, "data untouched by the refusal")
  }

  private def withSQLConf[T](pairs: (String, String)*)(body: => T): T = {
    val conf = spark.conf
    val saved = pairs.map { case (k, _) => k -> conf.getOption(k) }
    pairs.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }

  test("join strategy hints steer the physical join (broadcast / merge / shuffle_hash)") {
    // with auto-broadcast off, a plain equi-join of two scans plans as
    // SMJ; each hint must override that default — the knob a 100 TB
    // deployment turns when the optimizer's size estimates are wrong
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      val fact = graft.Tables.lineitem(spark, sfDir)
        .select("l_orderkey", "l_quantity")
      val dim = graft.Tables.orders(spark, sfDir)
        .select("o_orderkey", "o_orderstatus")
      def planOf(j: org.apache.spark.sql.DataFrame) =
        j.queryExecution.explainString(ExplainMode.fromString("formatted"))
      val base = planOf(fact.join(dim, col("l_orderkey") === col("o_orderkey")))
      assert(base.contains("SortMergeJoin"), base)
      val bc = planOf(fact.join(dim.hint("broadcast"),
        col("l_orderkey") === col("o_orderkey")))
      assert(bc.contains("BroadcastHashJoin"), bc)
      val sh = planOf(fact.join(dim.hint("shuffle_hash"),
        col("l_orderkey") === col("o_orderkey")))
      assert(sh.contains("ShuffledHashJoin"), sh)
      val mg = planOf(fact.join(dim.hint("merge"),
        col("l_orderkey") === col("o_orderkey")))
      assert(mg.contains("SortMergeJoin"), mg)
    }
  }

  test("AQE OptimizeSkewedJoin engages on the hot-key shuffle join; salted join stays skew-free structurally") {
    // the sk03 shape: one key carries ~half the fact side. Thresholds
    // are scaled to the test data the way production scales them to
    // executor memory — what's pinned is the MECHANISM (AQE detects the
    // oversized partition and splits it, marking the join skew=true).
    val skewSf = "/root/testdata/sf0.01" // enough bytes for AQE's size stats
    // fold ~90% of keys onto 1: the hot partition must dwarf the median
    // in COMPRESSED shuffle bytes (identical keys compress well, which
    // mutes a 50/50 fold below the detection factor). The dim is a
    // PLAIN PROJECTION — OptimizeSkewedJoin only matches
    // SMJ(Sort(shuffle), Sort(shuffle)); an aggregate-built dim parks
    // a HashAggregate on the shuffle and disqualifies the join.
    // a skewed reduce partition splits at MAP-OUTPUT granularity: with
    // the whole table in one map task (one small parquet file) the hot
    // partition is a single indivisible chunk. repartition(8) stands in
    // for the thousands of mappers a real scan has.
    val fact = Tables.lineitem(spark, skewSf).select(
      when(col("l_partkey") % 10 =!= 0, lit(1L))
        .otherwise(col("l_partkey")).as("k"),
      col("l_quantity").cast("decimal(12,2)").as("qd"))
      .repartition(8)
    val dim = Tables.part(spark, skewSf)
      .select(col("p_partkey").as("k"), col("p_brand"))
    withSQLConf(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8k",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4k") {
      val joined = fact.join(dim, "k")
      joined.collect() // finalize THIS QueryExecution's adaptive plan
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"OptimizeSkewedJoin did not engage; final plan:\n$plan")
      // same query through the salted join under the SAME confs: the
      // hot key spreads over 32 salts (~8 per reducer), so no partition
      // clears 2x the median and the executed plan carries no skew
      // marker — the imbalance was removed structurally, not rescued
      // at runtime
      val salted = Scale.saltedJoin(fact, dim, "k", salts = 32)
      salted.collect()
      val saltedPlan = salted.queryExecution.executedPlan.toString
      assert(!saltedPlan.contains("skew=true"),
        "salted join should not need AQE skew handling")
      // and the two agree row-for-row
      val a = joined.groupBy("k", "p_brand").agg(sum("qd").as("s"))
      val b = salted.groupBy("k", "p_brand").agg(sum("qd").as("s"))
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
    }
  }
}
