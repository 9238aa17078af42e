package graft.queries

import graft.{QueryDef, Tables}
import graft.etl.Scale
import graft.util.Exact._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Scale-pattern queries under the ORACLE gate (not just specs): the
  * shuffle-free bucketed fact⨝fact join and skew-safe salted
  * aggregation. Both hash-match plain-SQL oracles over the same data,
  * proving the scale mechanics change the PLAN, never the answer.
  */
object ScaleQueries {

  /** Once-only cell: computeIfAbsent installs it cheaply under the map
    * lock; the `lazy val` runs the expensive write outside that lock,
    * synchronized on the cell itself, so exactly ONE caller per key ever
    * executes it (Verify builds queries in parallel, and racing
    * DROP+overwrite of the same table paths is NOT idempotent under
    * interleaving — one job can delete files the other just committed). */
  private final class Memo(write: () => Unit) { lazy val done: Unit = write() }
  /** The layout copies written so far, by (session, sfDir, fixture). */
  private val written =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), Memo]()
  private val hooked = java.util.Collections.newSetFromMap(
    new java.util.concurrent.ConcurrentHashMap[SparkSession, java.lang.Boolean]())

  /** Runs `write` once per (session, sfDir, fixture). Entries evict with
    * the session (mirrors Tables' listener): a stopped session must not
    * pin its plans, and a successor session must not inherit table names
    * whose catalog entries died with it. */
  private def once(s: SparkSession, d: String, fixture: String)(write: => Unit): Unit = {
    if (hooked.add(s))
      s.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onApplicationEnd(
            end: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit = {
          hooked.remove(s)
          written.keySet.removeIf(_._1 eq s)
        }
      })
    written.computeIfAbsent((s, d, fixture), _ => new Memo(() => write)).done
  }

  // short path-hash keeps the tag injective: sanitization alone would
  // collide .../sf0.1 with .../sf0_1 and silently overwrite tables
  private def tag(d: String): String =
    d.replaceAll("[^a-zA-Z0-9]", "_") +
      "_" + java.lang.Long.toHexString(
        org.apache.spark.unsafe.hash.Murmur3_x86_32.hashUnsafeBytes(
          d.getBytes("UTF-8"), org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
          d.getBytes("UTF-8").length, 42) & 0xffffffffL)

  /** j03's prepare step: orders and lineitem copies bucketed+sorted
    * 8-ways on the join key, written once per (session, sfDir) — the
    * library analogue of CREATE TABLE ... CLUSTERED BY. */
  private def bucketedTables(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val oT = s"orders_bkt${tag(d)}"
    val lT = s"lineitem_bkt${tag(d)}"
    once(s, d, "bucketed") {
      val root = new java.io.File(s"target/bucketed/${tag(d)}").getAbsolutePath
      s.sql(s"DROP TABLE IF EXISTS $oT")
      s.sql(s"DROP TABLE IF EXISTS $lT")
      Scale.writeBucketed(Tables.orders(s, d).select("o_orderkey", "o_orderpriority"),
        oT, "o_orderkey", buckets = 8, path = s"$root/$oT")
      Scale.writeBucketed(Tables.lineitem(s, d).select("l_orderkey", "l_quantity"),
        lT, "l_orderkey", buckets = 8, path = s"$root/$lT")
    }
    (s.table(oT), s.table(lT))
  }

  /** J-family at warehouse scale: orders⨝lineitem over copies bucketed
    * 8-ways on the join key — the nightly fact-to-fact join with ZERO
    * shuffle on either join side (SortMergeJoin straight over
    * pre-sorted buckets; the only exchanges left are the small
    * post-join aggregate and presentation sort). The merge hint keeps
    * the plan in its at-scale shape — local testdata is broadcast-sized,
    * a 100 TB fact table is not. Oracle: the same join+aggregate in
    * plain SQL over the ORIGINAL parquet — bucketing must not change
    * one row. */
  val j03BucketedJoin = QueryDef.prepared("j03_bucketed_join", bucketedTables)(
    (_, _, tables) => {
      val (orders, lineitem) = tables
      orders.hint("merge")
        .join(lineitem, col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          moneySum(col("l_quantity")).as("sum_qty"))
        .orderBy("o_orderpriority")
    },
    Some(s"""SELECT o_orderpriority, COUNT(*) AS n_items,
           |  ${sqlMoneySum("l_quantity")} AS sum_qty
           |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
           |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin))

  /** j04's prepare step: a range-clustered copy of lineitem, 16 files,
    * each covering a narrow non-overlapping l_orderkey slice
    * (Scale.writeClustered), written once per (session, sfDir). */
  private def clusteredLineitem(s: SparkSession, d: String): DataFrame = {
    val path = new java.io.File(s"target/clustered/${tag(d)}/lineitem").getAbsolutePath
    once(s, d, "clustered") {
      Scale.writeClustered(
        Tables.lineitem(s, d).select("l_orderkey", "l_quantity"),
        path, Seq("l_orderkey"), nFiles = 16)
    }
    s.read.parquet(path)
  }

  /** zo01's prepare step: a z-ordered copy of lineitem, 16 files sorted
    * by the (l_partkey, l_suppkey) Morton interleave, written once per
    * (session, sfDir). */
  private def zorderedLineitem(s: SparkSession, d: String): DataFrame = {
    val path = new java.io.File(s"target/zordered/${tag(d)}/lineitem").getAbsolutePath
    once(s, d, "zordered") {
      Scale.writeZOrdered(
        Tables.lineitem(s, d).select("l_partkey", "l_suppkey", "l_quantity"),
        path, "l_partkey", "l_suppkey", nFiles = 16)
    }
    s.read.parquet(path)
  }

  /** 2-D selective aggregate over the z-ORDERED lineitem copy: the
    * layout for tables with TWO hot filter columns, where 1-D
    * clustering (j04) prunes one dimension perfectly and the other not
    * at all. Bit-interleaved ordering makes each file a compact
    * rectangle of (partkey, suppkey) space — min/max stats prune on
    * both predicates at once (ScaleSpec measures ~√n-file locality per
    * single dimension; the 2-D predicate here intersects). Oracle runs
    * the same aggregate over the ORIGINAL parquet: z-ordering is pure
    * layout and must not change one row. */
  val zo01ZorderRange = QueryDef.prepared("zo01_zorder_range", zorderedLineitem)(
    (_, _, lineitem) => lineitem
      .filter(col("l_partkey").between(10L, 40L) &&
        col("l_suppkey").between(2L, 6L))
      .groupBy("l_partkey", "l_suppkey")
      .agg(count(lit(1)).as("n_items"),
        moneySum(col("l_quantity")).as("sum_qty"))
      .orderBy("l_partkey", "l_suppkey"),
    Some(s"""SELECT l_partkey, l_suppkey, COUNT(*) AS n_items,
           |  ${sqlMoneySum("l_quantity")} AS sum_qty
           |FROM lineitem
           |WHERE l_partkey BETWEEN 10 AND 40 AND l_suppkey BETWEEN 2 AND 6
           |GROUP BY 1, 2 ORDER BY l_partkey, l_suppkey""".stripMargin))

  /** Selective key-range aggregate over the range-CLUSTERED lineitem
    * copy: the layout that turns a predicate into file/row-group
    * skipping (each file holds one narrow l_orderkey slice, so parquet
    * min/max stats exclude ~15 of 16 files before any row is read —
    * ScaleSpec measures the locality; Plans pins the pushed filter).
    * Oracle runs the same aggregate over the ORIGINAL parquet: layout
    * changes bytes on disk, never one row of the answer — the same
    * claim class j03 makes for bucketing. */
  val j04ClusteredRange = QueryDef.prepared("j04_clustered_range", clusteredLineitem)(
    (_, _, lineitem) => lineitem
      .filter(col("l_orderkey").between(100L, 200L))
      .groupBy("l_orderkey")
      .agg(count(lit(1)).as("n_items"),
        moneySum(col("l_quantity")).as("sum_qty"))
      .orderBy("l_orderkey"),
    Some(s"""SELECT l_orderkey, COUNT(*) AS n_items,
           |  ${sqlMoneySum("l_quantity")} AS sum_qty
           |FROM lineitem WHERE l_orderkey BETWEEN 100 AND 200
           |GROUP BY 1 ORDER BY l_orderkey""".stripMargin))

  /** Engineered skew: folding every even orderkey to 0 makes one hot
    * key carry ~50% of lineitem — the shape that melts a single reducer
    * at 100 TB and that AQE cannot always split (custom aggregation,
    * non-SMJ paths). */
  private def skewedQuantities(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).select(
      when(col("l_orderkey") % 2 === 0, lit(0L))
        .otherwise(col("l_orderkey")).as("k"),
      money(col("l_quantity")).as("qd"))

  private val skewOracle =
    s"""SELECT CASE WHEN l_orderkey % 2 = 0 THEN 0 ELSE l_orderkey END AS k,
      |  ${sqlMoneySum("l_quantity")} AS sum_qty
      |FROM lineitem GROUP BY 1 ORDER BY sum_qty DESC, k LIMIT 20""".stripMargin

  /** The straight single-stage aggregate over the hot key (baseline). */
  val sk01SkewPlain = QueryDef("sk01_skew_plain",
    (s, d) => skewedQuantities(s, d)
      .groupBy("k").agg(exactSum(col("qd")).as("sum_qty"))
      .orderBy(col("sum_qty").desc, col("k")).limit(20),
    Some(skewOracle))

  /** The same aggregate through Scale.saltedSum: partial sums on
    * (k, salt in [0,8)) cap any single reducer at ~1/8 of the hot key,
    * then a final tiny reduce on k. Decimal partials keep the two-stage
    * sum EXACT and order-independent — which is why this hash-matches
    * the identical oracle as sk01. */
  val sk02SkewSalted = QueryDef("sk02_skew_salted",
    (s, d) => Scale.saltedSum(skewedQuantities(s, d), "k", "qd", salts = 8)
      .select(col("k"), col("sum_qd").cast(DoubleType).as("sum_qty"))
      .orderBy(col("sum_qty").desc, col("k")).limit(20),
    Some(skewOracle))

  /** Fact side for the skewed JOIN pair: every even l_partkey folds
    * onto key 1, so one hot key carries ~half of lineitem INTO THE
    * JOIN SHUFFLE. Folding to 1 (not 0) keeps the hot key inside the
    * dim's key range. */
  private def skewedByPart(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).select(
      when(col("l_partkey") % 2 === 0, lit(1L))
        .otherwise(col("l_partkey")).as("k"),
      money(col("l_quantity")).as("qd"))

  /** Dim side: the part table, key-unique, a PLAIN PROJECTION — no
    * aggregate between its shuffle and the join, which is exactly the
    * shape AQE's OptimizeSkewedJoin can split (the rule only matches
    * SMJ(Sort(shuffle), Sort(shuffle)); a dim built by aggregation
    * parks a HashAggregate on the shuffle and disqualifies the join
    * from runtime skew splitting — a real 100 TB design rule:
    * pre-materialize dim aggregates BEFORE a skewed join). */
  private def partDim(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d).select(col("p_partkey").as("k"), col("p_brand"))

  private val skewJoinOracle =
    s"""WITH sk AS (SELECT CASE WHEN l_partkey % 2 = 0 THEN 1 ELSE l_partkey END AS k,
      |             ${sqlMoney("l_quantity")} AS qd FROM lineitem),
      |dim AS (SELECT p_partkey AS k, p_brand FROM part)
      |SELECT sk.k, ${sqlExactSum("sk.qd")} AS sum_qty, dim.p_brand
      |FROM sk JOIN dim ON sk.k = dim.k
      |GROUP BY sk.k, dim.p_brand
      |ORDER BY sum_qty DESC, sk.k LIMIT 20""".stripMargin

  /** Skewed JOIN, plain: the hot key carries ~50% of the fact side
    * into one join partition. THIS is the shape AQE's
    * OptimizeSkewedJoin exists for — at cluster scale the hot
    * partition exceeds the skew threshold and AQE splits it into
    * advisory-sized chunks, replicating the matching dim rows
    * (ScaleSpec pins `skew=true` in the executed plan with thresholds
    * scaled to test data). Semantics are untouched either way — same
    * oracle as the salted variant. */
  val sk03SkewJoinPlain = QueryDef("sk03_skew_join_plain",
    (s, d) => skewedByPart(s, d).join(partDim(s, d), "k")
      .groupBy("k", "p_brand")
      .agg(exactSum(col("qd")).as("sum_qty"))
      .select(col("k"), col("sum_qty"), col("p_brand"))
      .orderBy(col("sum_qty").desc, col("k")).limit(20),
    Some(skewJoinOracle))

  /** The same join through [[Scale.saltedJoin]]: the fact side salts
    * in [0,8), the dim side explodes 8×, so the hot key's rows spread
    * over 8 reducers STRUCTURALLY — the mitigation for paths where AQE
    * can't re-plan (aggregate-fed dims as above, custom operators,
    * non-SMJ joins). Hash-matches the identical oracle: salting never
    * changes a row. */
  val sk04SkewJoinSalted = QueryDef("sk04_skew_join_salted",
    (s, d) => Scale.saltedJoin(
      skewedByPart(s, d), partDim(s, d), "k", salts = 8)
      .groupBy("k", "p_brand")
      .agg(exactSum(col("qd")).as("sum_qty"))
      .select(col("k"), col("sum_qty"), col("p_brand"))
      .orderBy(col("sum_qty").desc, col("k")).limit(20),
    Some(skewJoinOracle))

  /** INCREMENTAL AGGREGATE MAINTENANCE: the standing-aggregate pattern
    * for append-only facts — aggregate ONLY the new batch, then merge
    * per-key algebraic states (count/decimal-sum/min/max; avg derived
    * at read). Here "history" and "delta" split lineitem 6:1 by
    * orderkey; merged state must equal the from-scratch aggregate over
    * the WHOLE table, which is exactly what the oracle computes — one
    * plain GROUP BY, no split anywhere. Decimal sums make the merge
    * bit-identical, not approximately equal. At 100 TB: the nightly
    * shuffle is sized by the delta + the state table, never a rescan
    * of raw history. */
  val ia01IncrementalAgg = QueryDef("ia01_incremental_agg",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      val hist = li.filter(pmod(col("l_orderkey"), lit(7)) =!= 0)
      val delta = li.filter(pmod(col("l_orderkey"), lit(7)) === 0)
      val merged = graft.etl.IncrementalAgg.merge(
        graft.etl.IncrementalAgg.state(hist, Seq("l_returnflag"), "l_quantity"),
        graft.etl.IncrementalAgg.state(delta, Seq("l_returnflag"), "l_quantity"),
        Seq("l_returnflag"))
      graft.etl.IncrementalAgg.result(merged).orderBy("l_returnflag")
    },
    Some(s"""SELECT l_returnflag, COUNT(l_quantity) AS n_rows,
           |  ${sqlExactSum(sqlMoneyState("l_quantity"))} AS sum_v,
           |  MIN(l_quantity) AS min_v, MAX(l_quantity) AS max_v,
           |  ${sqlExactSum(sqlMoneyState("l_quantity"))}
           |    / COUNT(l_quantity) AS avg_v
           |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin))

  /** INCREMENTAL DISTINCT-COUNT maintenance via mergeable HLL sketch
    * STATE (the approximate sibling of ia01): per key, build a sketch
    * over history and delta separately, union the sketch states, and
    * pin BOTH the merged and the from-scratch estimates inside the ±5%
    * bound vs the exact distinct count (the x04 pattern). The two
    * estimates are close but NOT pinned equal: DataSketches' union
    * promotes a below-saturation sparse sketch to dense HLL, whose
    * estimator differs slightly from the sparse one (measured 1991 vs
    * 1999 on 2000 exact at sf0.01) — the merge is lossless in register
    * space but not in estimator mode. At 100 TB the nightly job
    * touches only the delta and a key-sized sketch table — never a
    * re-scan of raw history for a distinct count. */
  val ia02SketchMerge = QueryDef("ia02_sketch_merge",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      val hist = li.filter(pmod(col("l_orderkey"), lit(7)) =!= 0)
        .groupBy("l_returnflag")
        .agg(expr("hll_sketch_agg(l_partkey)").as("sk_h"))
      val delta = li.filter(pmod(col("l_orderkey"), lit(7)) === 0)
        .groupBy("l_returnflag")
        .agg(expr("hll_sketch_agg(l_partkey)").as("sk_d"))
      val full = li.groupBy("l_returnflag").agg(
        expr("hll_sketch_estimate(hll_sketch_agg(l_partkey))").as("est_direct"),
        countDistinct(col("l_partkey")).as("n_exact"))
      // broadcast hints: all three frames are |distinct flag|
      // rows (3 here) of sketch blobs — group-count-sized at ANY corpus
      // scale — but the blobs inflate Catalyst's size estimate past the
      // auto-broadcast threshold, so unhinted these planned as TWO
      // sort-merge joins (sort + merge + an exchange per side). The
      // hints pin the shape a key-count-sized sketch table warrants.
      hist.join(broadcast(delta), "l_returnflag")
        .join(broadcast(full), "l_returnflag")
        .select(col("l_returnflag"), col("n_exact"),
          (abs(expr("hll_sketch_estimate(hll_union(sk_h, sk_d))")
            .cast(DoubleType) - col("n_exact")) <=
            col("n_exact") * 0.05).as("merge_bound_ok"),
          (abs(col("est_direct").cast(DoubleType) - col("n_exact")) <=
            col("n_exact") * 0.05).as("bound_ok"))
        .orderBy("l_returnflag")
    },
    Some("""SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_exact,
           |  TRUE AS merge_bound_ok, TRUE AS bound_ok
           |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin))

  val all: Seq[QueryDef] = Seq(j03BucketedJoin, j04ClusteredRange,
    zo01ZorderRange, ia01IncrementalAgg, ia02SketchMerge,
    sk01SkewPlain, sk02SkewSalted, sk03SkewJoinPlain, sk04SkewJoinSalted)
}
