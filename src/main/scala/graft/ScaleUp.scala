package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-replica builder (developer tool, the SCALE.md measurement
  * apparatus): synthesizes an sfN directory from a driver-generated
  * sf directory by key-shifted `factor`× self-union — the standard way
  * to add a measured decade to the scaling curve when the upstream
  * generator isn't available at the target SF.
  *
  * `runMain graft.ScaleUp <srcDir> <destDir> [factor=10]`
  *
  * Replica discipline (what makes the result a legitimate SCALING
  * corpus rather than a degenerate one):
  *  - FACT/DIM keys shift by replica i × a round offset above the
  *    source max, consistently across every table that joins on them
  *    (custkey, orderkey, partkey, suppkey, event_id, user_id, doc_id,
  *    vec_id) — join fan-outs and group cardinalities scale the way a
  *    real bigger corpus would. region/nation stay fixed (TPC-H
  *    semantics: dimensions don't grow with SF).
  *  - DOCUMENT text gets a per-replica BIJECTIVE VOCABULARY RENAME
  *    (replica i prefixes every token) so cross-replica token sets
  *    are DISJOINT — Jaccard exactly 0 between any two replicas at
  *    any factor — while intra-replica similarity structure is
  *    preserved exactly (a bijective rename commutes with Jaccard,
  *    shingling, minhash banding): without this, docs acquire
  *    synthetic cross-replica near-duplicates and the output-bound
  *    dedup families measure the replication artifact, not scaling
  *    (two weaker schemes measurably leaked — see the substitution
  *    site). n_chars is recomputed.
  *  - EMBEDDINGS permute their coordinates by replica with per-replica
  *    affine index maps (a permutation of an isotropic vector is
  *    equally distributed; cosine between distinct permutations is
  *    ≈ 0): intra-replica similarity structure is preserved exactly,
  *    cross-replica pairs look like fresh random vectors — a
  *    factor× ANN corpus, not factor copies.
  *  - SUPPLIER NAMES get a per-replica substitution cipher (letter /
  *    digit alphabet rotation): character bijections commute with
  *    Levenshtein and Jaro-Winkler, so the fuzzy-join families measure
  *    factor× the same edit-distance workload with NO cross-replica
  *    identical-name cliques (the verbatim replication they'd otherwise
  *    inflate output with).
  *  - Everything else (timestamps, values, statuses) replicates
  *    verbatim: the value distributions ARE the workload.
  */
object ScaleUp {

  // round offsets comfortably above every source max key.
  // private[graft] (not private): ScaleUpSpec derives each row's
  // replica id as key/offset and must reference THESE constants, not
  // re-typed literals that could drift (ADVICE r12).
  private[graft] val C = 1000000L   // custkey
  private[graft] val O = 10000000L  // orderkey
  private[graft] val P = 1000000L   // partkey
  private[graft] val S = 100000L    // suppkey
  private[graft] val E = 10000000L  // event_id
  private[graft] val U = 100000L    // user_id
  private[graft] val D = 1000000L   // doc_id
  private[graft] val V = 100000L    // vec_id

  private def replicate(src: DataFrame, factor: Int)
                       (mod: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until factor).map(i => mod(src, i)).reduce(_.unionByName(_))

  // Per-replica SUBSTITUTION CIPHER over [a-z][A-Z][0-9] (letters
  // rotate by i mod 26 case-preserving, digits by i mod 10, everything
  // else fixed): a character bijection commutes with Levenshtein and
  // Jaro-Winkler EXACTLY (both depend only on per-position character
  // equality), so intra-replica edit structure — the fuzzy-join
  // workload — is preserved bit-for-bit while cross-replica copies of
  // the same source name differ in EVERY rotated position (distance ≥ 8
  // on the supplier domain; JW ≤ ~0.80, far under the 0.985 gate).
  // Without this the names replicated verbatim and every source name
  // grew a factor-sized identical clique — fz01/fz03 then measured the
  // replication artifact (~45 zero-distance pairs per clique at
  // factor 10), not scaling. Two replicas share the identity map iff
  // i ≡ j (mod lcm(26,10) = 130) — enforced by the factor bound.
  private val Lower = "abcdefghijklmnopqrstuvwxyz"
  private val Upper = Lower.toUpperCase
  private val Digits = "0123456789"
  private[graft] def cipherAlphabets(i: Int): (String, String) = {
    val li = i % 26
    val di = i % 10
    def rot(s: String, n: Int) = s.drop(n) + s.take(n)
    (Lower + Upper + Digits,
      rot(Lower, li) + rot(Upper, li) + rot(Digits, di))
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: ScaleUp <srcDir> <destDir> [factor] [stretch-time|stretch-all]")
    val (srcDir, destDir) = (args(0), args(1))
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val mode = args.lift(3)
    require(mode.forall(m => m == "stretch-time" || m == "stretch-all"),
      s"unknown mode ${mode.get}: expected stretch-time or stretch-all")
    val stretchTime = mode.contains("stretch-time")
    val stretchAll = mode.contains("stretch-all")
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    run(spark, srcDir, destDir, factor, stretchTime, stretchAll)
    println(s"""{"scaleup":"done","src":"$srcDir","dest":"$destDir","factor":$factor,"stretchTime":$stretchTime,"stretchAll":$stretchAll}""")
    spark.stop()
  }

  /** The whole build, on a caller-owned session (main wraps this;
    * ScaleUpSpec drives it on the shared test session). `stretchTime`
    * switches the events table from density replication to
    * time-axis translation — see the events block below. `stretchAll`
    * extends the SAME per-replica translation (one COMMON stride) to
    * every transactional date column — o_orderdate, l_shipdate, and
    * events ts — so the whole calendar grows at constant density while
    * within-replica cross-column relationships (ship lag, order↔event
    * alignment) are preserved exactly (equal translation commutes with
    * differences). This is the round-12 proposal for retiring ov01's
    * stacked-order-date artifact; adopting it re-shapes weekly-
    * aggregate outputs (a04/a08/t02/…), so it ships default-OFF and
    * unadopted until a round budgets the one-time re-baselining. */
  def run(spark: SparkSession, srcDir: String, destDir: String,
          factor: Int, stretchTime: Boolean = false,
          stretchAll: Boolean = false): Unit = {
    // ALL factor bounds up front — an oversized factor must fail before
    // the first table is written, not leave a half-built destDir:
    //  - names: the letter/digit rotation family repeats at
    //    lcm(26,10) = 130 (two replicas would share the identity map →
    //    verbatim name cliques, the exact artifact the cipher removes);
    //  - embeddings: (a,b) affine index maps give 32·64 = 2048 distinct
    //    coordinate permutations at dim 64.
    require(factor <= 130,
      s"factor=$factor exceeds the 130 distinct name-cipher maps " +
        "(letter rotation mod 26 x digit rotation mod 10) - replicas " +
        "would repeat verbatim supplier names; extend the map family first")
    val dim = 64
    require(factor.toLong * 2 <= (dim / 2).toLong * dim,
      s"factor=$factor exceeds the ${dim / 2 * dim} distinct affine " +
        "coordinate permutations at dim 64 — raise the map family first")
    def read(t: String) = spark.read.parquet(s"$srcDir/$t.parquet")
    // Replica i occupies key band [i*off, i*off + srcMax]; bands are
    // disjoint iff srcMax < off. A source that is itself a ScaleUp
    // output (keys already shifted toward factor*off) would silently
    // collide — fail loudly instead (scale from the ORIGINAL SF with a
    // larger factor; the replica discipline composes that way, not by
    // re-scaling an output).
    def assertBands(df: DataFrame, table: String, keys: (String, Long)*): DataFrame = {
      keys.foreach { case (k, off) =>
        val r = df.agg(max(col(k)).cast("long")).head
        require(!r.isNullAt(0),
          s"$table at $srcDir is empty (or $k all-null): nothing to scale")
        val mx = r.getLong(0)
        require(mx < off,
          s"$table.$k max $mx >= replica offset $off: key bands would overlap" +
            " (source looks like a ScaleUp output; scale from the original SF)")
      }
      df
    }
    def write(df: DataFrame, t: String, parts: Int): Unit =
      df.repartition(parts).write.mode("overwrite")
        .parquet(s"$destDir/$t.parquet")

    def shift(df: DataFrame, i: Int, shifts: (String, Long)*): DataFrame =
      shifts.foldLeft(df) { case (d, (c, off)) =>
        d.withColumn(c, col(c) + lit(i * off)) }

    // stretch stride — derived UP FRONT, before the first table is
    // written, so an empty or all-null source fails with an explicit
    // message like the factor bounds above (the aggregate returns a
    // null row in that case; .getInt on it was an NPE mid-build that
    // left a half-written destDir). stretch-all uses ONE stride over
    // the union of every date axis (events ts, o_orderdate,
    // l_shipdate): a stride covering the widest combined span keeps
    // every table's replica windows disjoint, and translating all
    // columns by the SAME amount preserves within-replica
    // cross-column relationships exactly.
    val srcEv = assertBands(read("events"), "events",
      "event_id" -> E, "user_id" -> U)
    val stretchEvents = stretchTime || stretchAll
    val evStrideDays: Int =
      if (!stretchEvents) 0
      else {
        val axes = srcEv.select(col("ts").cast("date").as("d")) +:
          (if (!stretchAll) Seq.empty
           else Seq(
             read("orders").select(col("o_orderdate").cast("date").as("d")),
             read("lineitem").select(col("l_shipdate").cast("date").as("d"))))
        val r = axes.reduce(_ unionAll _)
          .agg(datediff(max(col("d")), min(col("d")))).head
        require(!r.isNullAt(0),
          s"stretch: date axes at $srcDir have no non-null rows - " +
            "cannot derive the replica time stride")
        r.getInt(0) + 1
      }
    def stretchDate(df: DataFrame, i: Int, c: String): DataFrame =
      if (!stretchAll || i == 0) df
      else df.withColumn(c, col(c) + make_dt_interval(lit(i * evStrideDays)))

    // dimensions: fixed, verbatim
    write(read("region"), "region", 1)
    write(read("nation"), "nation", 1)

    write(replicate(assertBands(read("customer"), "customer",
      "c_custkey" -> C), factor)(shift(_, _, "c_custkey" -> C)),
      "customer", 4)
    // supplier: shift key AND cipher the name (replica 0 verbatim) —
    // keys alone left every s_name replicated verbatim, and the fuzzy
    // families (fz01/fz03) then measured factor-sized identical-name
    // cliques instead of scaling; see cipherAlphabets.
    write(replicate(assertBands(read("supplier"), "supplier",
      "s_suppkey" -> S), factor) { (df, i) =>
      val renamed =
        if (i == 0) df
        else {
          val (from, to) = cipherAlphabets(i)
          df.withColumn("s_name", translate(col("s_name"), from, to))
        }
      shift(renamed, i, "s_suppkey" -> S)
    }, "supplier", 1)
    write(replicate(assertBands(read("part"), "part",
      "p_partkey" -> P), factor)(shift(_, _, "p_partkey" -> P)),
      "part", 2)
    write(replicate(assertBands(read("orders"), "orders",
      "o_orderkey" -> O, "o_custkey" -> C), factor) { (df, i) =>
      shift(stretchDate(df, i, "o_orderdate"), i,
        "o_orderkey" -> O, "o_custkey" -> C)
    }, "orders", 8)
    write(replicate(assertBands(read("lineitem"), "lineitem",
      "l_orderkey" -> O, "l_partkey" -> P, "l_suppkey" -> S), factor) { (df, i) =>
      shift(stretchDate(df, i, "l_shipdate"), i,
        "l_orderkey" -> O, "l_partkey" -> P, "l_suppkey" -> S)
    }, "lineitem", 16)
    // events: key shift; optionally TIME-STRETCHED (stretchTime=true):
    // replica i's timestamps translate by i·(spanDays+1) DAYS, so the
    // event axis grows with the corpus at CONSTANT density — how real
    // event volume accumulates — instead of multiplying density over a
    // fixed span. Density replication is why fixed-eps proximity /
    // overlap pair counts (bj01/ov01) measured ~quadratic at sf10: a
    // corpus-construction artifact, not those operators (SCALE.md
    // §round 11 triage). Day-granular translation keeps replica
    // windows disjoint for any source span, preserves the source ts
    // type (day-time interval addition is type-preserving incl.
    // TIMESTAMP_NTZ), and commutes exactly with session windows,
    // eps-buckets, and
    // inter-event deltas (a pure translation). Default OFF as a flag
    // (callers must opt in explicitly so a corpus's construction is
    // visible at the call site and in the completion marker); the
    // round-12 decade corpora are built WITH stretch-time — the
    // pre-r12 fingerprints in bench/history.jsonl are density-scaled,
    // so cross-round event-family comparisons must mind the corpus id.
    write(replicate(srcEv, factor) { (df, i) =>
      val moved =
        if (!stretchEvents || i == 0) df
        else df.withColumn("ts",
          col("ts") + make_dt_interval(lit(i * evStrideDays)))
      shift(moved, i, "event_id" -> E, "user_id" -> U)
    }, "events", 8)

    // documents: shift doc_id; per-replica BIJECTIVE VOCABULARY RENAME
    // (replica 0 verbatim; replica i prefixes EVERY token with zr$i):
    // cross-replica token sets are DISJOINT (Jaccard exactly 0, at any
    // factor, for every doc — no probabilistic tail), while
    // intra-replica structure is preserved exactly (a bijective type
    // rename commutes with token-set Jaccard, shingles, minhash
    // banding), so the dedup/fuzzy families measure factor× the SAME
    // workload — the cleanest scaling semantics. n_chars recomputed.
    // History of this discipline (both prior schemes caught by
    // ScaleUpSpec's cross-replica gate): tagging every 5th POSITION
    // bounded position overlap but not TYPE overlap — the generator's
    // ~31-type/lang vocabulary put nearly every type at some untagged
    // position too, and measured cross-replica Jaccard hit 0.9, above
    // the 4/5 dedup gate; hash-parity TYPE tagging fixed the bulk but
    // left a binomial tail (a doc with few types in the tagged class
    // measured 0.69). Vocabulary growth is ~types/replica either way
    // (the fq01 k-sizing margin already budgets it).
    write(replicate(assertBands(read("documents"), "documents",
      "doc_id" -> D), factor) { (df, i) =>
      val tagged =
        if (i == 0) df
        else df.withColumn("text",
          // delimited prefix zr${i}_ — self-delimiting for ANY token
          // vocabulary: the replica id is the digit run before the
          // first '_', so zr1_ + "1x" can never equal zr11_ + "x"
          // (the undelimited zr$i form relied on the generator's
          // purely-alphabetic vocab for i-vs-j disjointness)
          array_join(
            transform(split(col("text"), " "), t => concat(lit(s"zr${i}_"), t)),
            " "))
          .withColumn("n_chars", length(col("text")))
      shift(tagged, i, "doc_id" -> D)
    }, "documents", 8)

    // embeddings: shift vec_id; permute coordinates by replica with an
    // AFFINE index map idx -> (a·idx + b) mod n, a odd (hence coprime
    // to the power-of-two dim, so it IS a permutation). A permutation
    // of an isotropic vector is equally distributed, and distinct
    // permutations make cross-replica cosines look like fresh random
    // pairs. Affine (not plain rotation, the factor<=10 original):
    // rotations repeat at factor > dim (replica 64's i*7 mod 64 = 0
    // would have been a verbatim coordinate copy of replica 0 —
    // cross-replica EXACT dup vectors), while (a,b) pairs give
    // 32*64 = 2048 distinct maps at dim 64 — enforced below.
    // The affine-map coprimality argument (odd a, power-of-two modulus)
    // and the factor bound both assume dim = 64; the permutation is
    // applied mod the RUNTIME array length, so a corpus with any other
    // dimension would silently break the bijection (odd a need not be
    // coprime to a non-power-of-two n). Verify the assumption against
    // the data before writing anything.
    val srcEmb = assertBands(read("embeddings"), "embeddings", "vec_id" -> V)
    val (minDim, maxDim) = {
      val r = srcEmb.agg(min(size(col("embedding"))),
        max(size(col("embedding")))).head
      (r.getInt(0), r.getInt(1))
    }
    require(minDim == dim && maxDim == dim,
      s"embeddings dim in [$minDim,$maxDim] != $dim: the affine index " +
        "maps assume 64-dim vectors (odd stride coprime to a power of " +
        "two) — re-derive the map family for this corpus first")
    write(replicate(srcEmb, factor) { (df, i) =>
      val a = 2 * (i % (dim / 2)) + 1     // odd stride, 32 values
      val b = (7 * i + i / (dim / 2)) % dim // shift, varies across i
      val permuted =
        if (i == 0) df
        else df.withColumn("embedding", {
          val n = size(col("embedding"))
          transform(col("embedding"),
            (_, idx) => element_at(col("embedding"),
              (pmod(idx * lit(a) + lit(b), n) + lit(1)).cast("int")))
        })
      shift(permuted, i, "vec_id" -> V)
    }, "embeddings", 4)

    // Completion marker — the LAST artifact of the build. Rebuild
    // guards key on this ONE file: a destDir without it is a partial
    // build to be wiped and re-run (per-table _SUCCESS heuristics let
    // a mid-write death masquerade as a finished corpus — ADVICE r11).
    val marker = new org.apache.hadoop.fs.Path(destDir, "_GRAFT_SCALEUP_SUCCESS")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(marker, true)
    try out.write(
      s"""{"src":"$srcDir","factor":$factor,"stretchTime":$stretchTime,"stretchAll":$stretchAll}\n"""
        .getBytes("UTF-8"))
    finally out.close()
  }
}
