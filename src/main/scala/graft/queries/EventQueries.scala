package graft.queries

import graft.{QueryDef, Tables}
import graft.events.Sessions
import graft.util.Exact._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Sessionization and event-stream analytics (batch form; the streaming
  * form shares operators via graft.streaming). Gap rule: 30 minutes. */
object EventQueries {

  /** Per-user session counts (lag → boundary flag → running sum).
    * Epoch comparison in integer microseconds — exact in both engines. */
  val s01SessionCounts = QueryDef("s01_session_counts",
    (s, d) => Sessions.sessionCounts(Tables.events(s, d), gapSeconds = 1800)
      .orderBy("user_id"),
    Some("""WITH e AS (
           |  SELECT user_id, epoch_us(ts) AS us,
           |    LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
           |  FROM events)
           |SELECT user_id,
           |  CAST(SUM(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions
           |FROM e GROUP BY user_id ORDER BY user_id""".stripMargin))

  /** Per-session aggregates via Spark's session_window operator; the
    * oracle reconstructs sessions with the equivalent lag/cumsum SQL.
    * total_value aggregated in decimal for cross-engine exactness. */
  val s02SessionWindow = QueryDef("s02_session_window",
    (s, d) => Tables.events(s, d)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"),
        moneySum(col("value")).as("total_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("n_events"), col("total_value"))
      .orderBy("user_id", "session_start"),
    Some(s"""WITH e AS (
           |  SELECT user_id, ts, value,
           |    CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
           |           OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
           |         THEN 1 ELSE 0 END AS new_s
           |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
           |g AS (SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
           |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM e)
           |SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events,
           |  ${sqlMoneySum("value")} AS total_value
           |FROM g GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin))

  /** Event-type funnel counts per day — V4-style equality filters over a
    * derived date with decimal-exact value sums. */
  val s03DailyByType = QueryDef("s03_daily_by_type",
    (s, d) => Tables.events(s, d)
      .groupBy(col("ts").cast("date").as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        moneySum(col("value")).as("total_value"))
      .orderBy("day", "event_type"),
    Some(s"""SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS n,
           |  ${sqlMoneySum("value")} AS total_value
           |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin))

  /** TOP SESSION PATHS (clickstream path analysis): sessionize under
    * the 30-minute gap rule, render each session as its ordered
    * event-type sequence capped at the first 8 steps (the path-tool
    * convention — long tails collapse into their prefix), count
    * sessions per path, top-20 with deterministic (count DESC, path)
    * tie-break. Ordering inside a session is (ts, event_id) — total,
    * so the collected sequence is unique in both engines.
    *
    * 100 TB: sessionization is one (user)-keyed window; the per-
    * session collect is bounded by the 8-step cap BEFORE the path
    * string leaves the aggregate; path counting shuffles short
    * strings; the final top-k is TakeOrdered, never a global sort. */
  val s04TopPaths = QueryDef("s04_top_paths",
    (s, d) => {
      val sess = Sessions.sessionize(Tables.events(s, d), gapSeconds = 1800)
        .select(col("user_id"), col("session_id"),
          unix_micros(col("ts")).as("us"), col("event_id"), col("event_type"))
      sess.groupBy("user_id", "session_id")
        .agg(expr("""concat_ws('>', slice(transform(
          sort_array(collect_list(struct(us, event_id, event_type))),
          x -> x.event_type), 1, 8))""").as("path"))
        .groupBy("path").agg(count(lit(1)).as("n_sessions"))
        .orderBy(col("n_sessions").desc, col("path")).limit(20)
    },
    Some("""WITH e AS (
           |  SELECT user_id, ts, event_id, event_type,
           |    CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
           |           OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
           |         THEN 1 ELSE 0 END AS new_s
           |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
           |g AS (SELECT *, SUM(new_s) OVER (PARTITION BY user_id
           |        ORDER BY ts, event_id
           |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM e),
           |p AS (SELECT user_id, sid,
           |        array_to_string(list(event_type ORDER BY ts, event_id)[1:8], '>') AS path
           |      FROM g GROUP BY user_id, sid)
           |SELECT path, COUNT(*) AS n_sessions FROM p GROUP BY path
           |ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin))

  /** As-of join: each purchase event gets the most recent prior (or
    * simultaneous) signup of the same user. Right side deduped per
    * (user, ts) so equal-instant ties are deterministic in both engines.
    * Oracle uses DuckDB's native ASOF JOIN; the engine composes the
    * operator from a union + range-frame window (graft.events.AsOfJoin). */
  val aj01AsOf = QueryDef("aj01_asof_join",
    (s, d) => {
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val signups = graft.etl.Dedup.firstOccurrenceWins(
        ev.filter(col("event_type") === "signup"), Seq("user_id", "ts"), "event_id")
        .select("user_id", "ts", "value")
      graft.events.AsOfJoin.asof(purchases, signups, Seq("user_id"), "ts", "ts")
        .orderBy("event_id")
    },
    Some("""WITH s AS (
           |  SELECT user_id, ts, value FROM (
           |    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id) AS rn
           |    FROM events WHERE event_type = 'signup') t WHERE rn = 1),
           |p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
           |SELECT p.event_id, p.user_id, p.ts, s.ts AS right_ts, s.value AS right_value
           |FROM p ASOF LEFT JOIN s ON p.user_id = s.user_id AND p.ts >= s.ts
           |ORDER BY p.event_id""".stripMargin))

  /** FORWARD as-of join: each signup gets the user's FIRST purchase at
    * or after it — the "time to convert" lookup, aj01's mirror. Oracle
    * uses DuckDB's native ASOF with the <= direction; the engine's
    * union + forward-range-frame window must match row-for-row. */
  val aj02AsOfForward = QueryDef("aj02_asof_forward",
    (s, d) => {
      val ev = Tables.events(s, d)
      val signups = ev.filter(col("event_type") === "signup")
        .select("event_id", "user_id", "ts")
      val purchases = graft.etl.Dedup.firstOccurrenceWins(
        ev.filter(col("event_type") === "purchase"), Seq("user_id", "ts"), "event_id")
        .select("user_id", "ts", "value")
      graft.events.AsOfJoin.asofForward(signups, purchases, Seq("user_id"), "ts", "ts")
        .orderBy("event_id")
    },
    Some("""WITH p AS (
           |  SELECT user_id, ts, value FROM (
           |    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id) AS rn
           |    FROM events WHERE event_type = 'purchase') t WHERE rn = 1),
           |s AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'signup')
           |SELECT s.event_id, s.user_id, s.ts, p.ts AS right_ts, p.value AS right_value
           |FROM s ASOF LEFT JOIN p ON s.user_id = p.user_id AND s.ts <= p.ts
           |ORDER BY s.event_id""".stripMargin))

  /** As-of join with a TOLERANCE bound (pandas merge_asof
    * `tolerance`): aj01's attribution lookup, but a signup older than
    * 1 day no longer claims the purchase — the match degrades to the
    * null (no-attribution) branch. Same join-free window composition;
    * the staleness test compares timestamps as INTERVALs (exact µs
    * integer arithmetic — no float epoch to drift). */
  val aj03AsOfTolerance = QueryDef("aj03_asof_tolerance",
    (s, d) => {
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val signups = graft.etl.Dedup.firstOccurrenceWins(
        ev.filter(col("event_type") === "signup"), Seq("user_id", "ts"), "event_id")
        .select("user_id", "ts", "value")
      graft.events.AsOfJoin.asofWithin(purchases, signups, Seq("user_id"),
        "ts", "ts", expr("INTERVAL '1' DAY"))
        .orderBy("event_id")
    },
    Some("""WITH s AS (
           |  SELECT user_id, ts, value FROM (
           |    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id) AS rn
           |    FROM events WHERE event_type = 'signup') t WHERE rn = 1),
           |p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
           |SELECT p.event_id, p.user_id, p.ts,
           |  CASE WHEN p.ts - s.ts <= INTERVAL 1 DAY THEN s.ts END AS right_ts,
           |  CASE WHEN p.ts - s.ts <= INTERVAL 1 DAY THEN s.value END AS right_value
           |FROM p ASOF LEFT JOIN s ON p.user_id = s.user_id AND p.ts >= s.ts
           |ORDER BY p.event_id""".stripMargin))

  /** POINT-IN-TIME JOIN (the feature-store lookup): each purchase is
    * joined to the user's state AS OF the purchase instant, where
    * state is the SCD-2 interval history built from a sparse change
    * log ([[graft.etl.Upsert.scd2]]). Using the latest valid_from ≤ ts
    * (the as-of composition, join-free) is point-in-time CORRECT by
    * the interval construction — valid_to is the next change's
    * valid_from, so the picked row's interval always covers ts. This
    * is the leakage-safe alternative to joining "current" state onto
    * historical facts. The oracle is the INDEPENDENT interval
    * formulation — an explicit valid_from ≤ ts < valid_to theta join —
    * so parity proves the as-of shortcut equals interval semantics. */
  val pt01PointInTime = QueryDef("pt01_pointintime_join",
    (s, d) => {
      val ev = Tables.events(s, d)
      val log = graft.etl.Dedup.firstOccurrenceWins(
        ev.filter(col("event_id") % 7 === 0), Seq("user_id", "ts"), "event_id")
        .select("user_id", "ts", "event_type")
      val hist = graft.etl.Upsert.scd2(log, Seq("user_id"), "ts")
        .select(col("user_id"), col("valid_from"), col("event_type"))
      val facts = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      graft.events.AsOfJoin.asof(facts, hist, Seq("user_id"),
        "ts", "valid_from")
        .select(col("event_id"), col("user_id"), col("ts"),
          col("right_event_type").as("state"))
        .orderBy("event_id")
    },
    Some("""WITH log AS (
           |  SELECT user_id, ts, event_type FROM (
           |    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id) AS rn
           |    FROM events WHERE event_id % 7 = 0) t WHERE rn = 1),
           |h AS (SELECT user_id, event_type, ts AS valid_from,
           |        LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts) AS valid_to
           |      FROM log),
           |p AS (SELECT event_id, user_id, ts FROM events
           |      WHERE event_type = 'purchase')
           |SELECT p.event_id, p.user_id, p.ts, h.event_type AS state
           |FROM p LEFT JOIN h ON p.user_id = h.user_id
           |  AND h.valid_from <= p.ts
           |  AND (h.valid_to IS NULL OR p.ts < h.valid_to)
           |ORDER BY p.event_id""".stripMargin))

  /** Band join: error events from DIFFERENT users within 10 minutes of
    * each other (co-occurring incidents) — a no-equi-key proximity join
    * done via eps-bucketing (graft.events.BandJoin), not a quadratic
    * nested loop. Oracle is the plain theta join (DuckDB plans IEJoin). */
  val bj01BandJoin = QueryDef("bj01_band_join",
    (s, d) => {
      val errs = Tables.events(s, d).filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), col("ts"))
      graft.events.BandJoin.bandPairs(
        errs.select(col("event_id").as("id1"), col("user_id").as("u1"), col("ts").as("ts1")),
        errs.select(col("event_id").as("id2"), col("user_id").as("u2"), col("ts").as("ts2")),
        "ts1", "ts2", epsSeconds = 600)
        .filter(col("id1") < col("id2") && col("u1") =!= col("u2"))
        .groupBy("u1", "u2").agg(count(lit(1)).as("n_cooccur"))
        .orderBy("u1", "u2")
    },
    Some("""SELECT a.user_id AS u1, b.user_id AS u2, COUNT(*) AS n_cooccur
           |FROM events a JOIN events b
           |  ON a.event_id < b.event_id AND a.user_id <> b.user_id
           | AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 600000000
           |WHERE a.event_type = 'error' AND b.event_type = 'error'
           |GROUP BY 1, 2 ORDER BY u1, u2""".stripMargin))

  /** Calendar gap-fill: weekly order counts for a sparse customer
    * cohort, resampled onto the FULL business calendar (every week
    * between corpus min/max appears; empty weeks as 0) — the
    * time-series correctness the reference's week-over-week reports
    * silently lack. */
  val ts01GapFill = QueryDef("ts01_gap_fill",
    (s, d) => {
      import graft.events.Resample
      val ords = Tables.orders(s, d)
      val week = date_trunc("week", col("o_orderdate")).cast("date")
      val bounds = ords.agg(
        date_trunc("week", min(col("o_orderdate"))).cast("date").as("mn"),
        date_trunc("week", max(col("o_orderdate"))).cast("date").as("mx"))
      val cal = Resample.calendar(bounds, "mn", "mx", 7, "week")
      val cohort = ords.filter(col("o_custkey") % 500 === 0)
        .groupBy(week.as("week")).agg(count(lit(1)).as("n_orders"))
      Resample.gapFill(cal, cohort, "week", Map("n_orders" -> 0L))
        .orderBy("week")
    },
    Some("""WITH b AS (SELECT CAST(date_trunc('week', MIN(o_orderdate)) AS DATE) AS mn,
           |               CAST(date_trunc('week', MAX(o_orderdate)) AS DATE) AS mx
           |        FROM orders),
           |cal AS (SELECT CAST(unnest(generate_series(mn, mx, INTERVAL 7 DAY)) AS DATE) AS week
           |        FROM b),
           |wk AS (SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS week,
           |         COUNT(*) AS n_orders
           |       FROM orders WHERE o_custkey % 500 = 0 GROUP BY 1)
           |SELECT cal.week, COALESCE(wk.n_orders, 0) AS n_orders
           |FROM cal LEFT JOIN wk USING (week) ORDER BY week""".stripMargin))

  /** Integer-quantized EWMA (α = 1/4) of event values per user —
    * [[graft.events.Ewma]]'s sequential fold, grouped-and-ordered by
    * (ts, event_id). The oracle replays the identical integer
    * recursion with DuckDB's list_reduce and `//`: quantization makes
    * an inherently order-sensitive recursion bit-portable. */
  val ts02Ewma = QueryDef("ts02_ewma",
    (s, d) => {
      val ev = Tables.events(s, d).select(col("user_id"), col("ts"),
        col("event_id"),
        floor(col("value") * lit(1e6)).cast(LongType).as("xq"))
      graft.events.Ewma.quantized(ev, "user_id", Seq("ts", "event_id"),
        "xq", num = 1, den = 4)
        .select(col("user_id"), col("n_events"), col("ewma_q"),
          (col("ewma_q").cast(DoubleType) / lit(1e6)).as("ewma"))
        .orderBy("user_id")
    },
    Some("""WITH q AS (SELECT user_id, ts, event_id,
           |    CAST(FLOOR(value * 1000000.0) AS BIGINT) AS xq FROM events),
           |f AS (SELECT user_id, COUNT(*) AS n_events,
           |    list_reduce(list(xq ORDER BY ts, event_id),
           |      (acc, x) -> (x * 1 + acc * 3) // 4) AS ewma_q
           |  FROM q GROUP BY 1)
           |SELECT user_id, n_events, ewma_q,
           |  CAST(ewma_q AS DOUBLE) / 1000000.0 AS ewma
           |FROM f ORDER BY user_id""".stripMargin))

  /** Funnel conversion: per user, first signup → first purchase AT OR
    * AFTER it; conversion split by whether it happened within 7 days.
    * One pass per stage (min-aggregates), one join — no event-by-event
    * state. Epoch-microsecond arithmetic keeps the 7-day window exact
    * in both engines. */
  val fn01Funnel = QueryDef("fn01_funnel",
    (s, d) => {
      val ev = Tables.events(s, d)
      val signups = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min(col("ts")).as("signup_ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("p_ts"))
      // the >= condition must live in the join ON clause: filtering
      // after a left join would also drop users whose purchases all
      // precede signup, but they belong in the no_purchase bucket
      val firstConv = signups.alias("s")
        .join(purchases.alias("p"),
          expr("s.user_id = p.user_id AND p.p_ts >= s.signup_ts"), "left")
        .groupBy(col("s.user_id"), col("signup_ts"))
        .agg(min(col("p_ts")).as("conv_ts"))
      firstConv.select(
        when(col("conv_ts").isNull, "no_purchase")
          .when(unix_micros(col("conv_ts")) - unix_micros(col("signup_ts"))
            <= 7L * 86400L * 1000000L, "within_7d")
          .otherwise("after_7d").as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n_users"))
        .orderBy("bucket")
    },
    Some("""WITH su AS (SELECT user_id, MIN(ts) AS signup_ts FROM events
           |        WHERE event_type = 'signup' GROUP BY user_id),
           |conv AS (SELECT su.user_id, su.signup_ts, MIN(p.ts) AS conv_ts
           |  FROM su LEFT JOIN events p
           |    ON p.user_id = su.user_id AND p.event_type = 'purchase'
           |   AND p.ts >= su.signup_ts
           |  GROUP BY 1, 2)
           |SELECT CASE WHEN conv_ts IS NULL THEN 'no_purchase'
           |            WHEN epoch_us(conv_ts) - epoch_us(signup_ts)
           |                 <= 604800000000 THEN 'within_7d'
           |            ELSE 'after_7d' END AS bucket,
           |  COUNT(*) AS n_users
           |FROM conv GROUP BY bucket ORDER BY bucket""".stripMargin))

  /** TIME-WEIGHTED AVERAGE (TWAP) of event value per user-day — the
    * billing/market convention where a value HOLDS until the next
    * observation: Σ vᵢ·(tᵢ₊₁−tᵢ) / (t_last−t_first) over consecutive
    * pairs. Values quantize to integer micro-units and gaps are exact
    * epoch-microsecond integers, so each summand is an exact integer
    * (DECIMAL(38) — vq·Δt can reach ~10¹⁹ and would clip BIGINT) and
    * the division at the end runs over exactly-determined doubles.
    * Same-timestamp-only days (zero total span) are excluded by the
    * denominator guard, not left to divide-by-zero semantics.
    *
    * 100 TB: ONE window shuffle keyed by (user, day) — bounded
    * partitions by construction — then one partial-agg shuffle on the
    * same key; nothing else is wide. */
  val ts04Twap = QueryDef("ts04_twap",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id", "day").orderBy(col("ts"), col("event_id"))
      val seg = Tables.events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day"), col("ts"),
          col("event_id"), floor(col("value") * 1000000L).cast(LongType).as("vq"))
        .withColumn("dt", unix_micros(lead(col("ts"), 1).over(w)) -
          unix_micros(col("ts")))
      seg.groupBy("user_id", "day")
        .agg(count(lit(1)).as("n_events"),
          sum(int128(col("vq")) * int128(col("dt"))).as("num"),
          sum(col("dt")).cast(LongType).as("den"))
        .filter(col("den") > 0)
        .select(col("user_id"), col("day"), col("n_events"),
          round(col("num").cast(DoubleType) / col("den").cast(DoubleType)
            / 1e6, 6).as("twap"))
        .orderBy("user_id", "day")
    },
    Some(s"""WITH seg AS (SELECT user_id, CAST(ts AS DATE) AS day, ts, event_id,
           |    CAST(FLOOR(value * 1000000.0) AS BIGINT) AS vq,
           |    epoch_us(LEAD(ts, 1) OVER (PARTITION BY user_id, CAST(ts AS DATE)
           |      ORDER BY ts, event_id)) - epoch_us(ts) AS dt
           |  FROM events),
           |a AS (SELECT user_id, day, COUNT(*) AS n_events,
           |    SUM(${sqlInt128("vq")} * ${sqlInt128("dt")}) AS num,
           |    CAST(SUM(dt) AS BIGINT) AS den
           |  FROM seg GROUP BY 1, 2)
           |SELECT user_id, day, n_events,
           |  ROUND(CAST(num AS DOUBLE) / CAST(den AS DOUBLE) / 1e6, 6) AS twap
           |FROM a WHERE den > 0 ORDER BY user_id, day""".stripMargin))

  /** THREE-STEP FUNNEL with PER-STEP windows (signup → activation
    * within 7d → purchase within 14d of activating): the multi-stage
    * generalization of fn01. Each stage is one min-aggregate with the
    * window condition in the join ON clause (filtering after the left
    * join would evict users who belong in the drop-off bucket), so N
    * funnel stages cost N joins over stage-filtered slices — never an
    * event-by-event state walk. Counts come from ONE final aggregate;
    * stage-to-stage conversion divides exactly-determined doubles.
    *
    * 100 TB: every join is keyed by user_id over slices pre-filtered
    * to one event type; no window functions, no self-join of the raw
    * stream against itself without a type filter. */
  val fn02FunnelSteps = QueryDef("fn02_funnel_steps",
    (s, d) => {
      val ev = Tables.events(s, d)
      val su = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min(col("ts")).as("t1"))
      val act = su.alias("s").join(
          ev.filter(col("event_type") === "activation")
            .select(col("user_id"), col("ts").as("a_ts")).alias("a"),
          expr("s.user_id = a.user_id AND a.a_ts >= s.t1 AND " +
            "unix_micros(a.a_ts) - unix_micros(s.t1) <= 604800000000"), "left")
        .groupBy(col("s.user_id"), col("t1")).agg(min(col("a_ts")).as("t2"))
      val pur = act.alias("x").join(
          ev.filter(col("event_type") === "purchase")
            .select(col("user_id"), col("ts").as("p_ts")).alias("p"),
          expr("x.user_id = p.user_id AND p.p_ts >= x.t2 AND " +
            "unix_micros(p.p_ts) - unix_micros(x.t2) <= 1209600000000"), "left")
        .groupBy(col("x.user_id"), col("t1"), col("t2"))
        .agg(min(col("p_ts")).as("t3"))
      pur.agg(count(lit(1)).as("n1"),
          sum(when(col("t2").isNotNull, 1L).otherwise(0L)).as("n2"),
          sum(when(col("t3").isNotNull, 1L).otherwise(0L)).as("n3"))
        .selectExpr("""stack(3,
          '1_signup',        n1, CAST(NULL AS DOUBLE),
          '2_activation_7d', n2, CASE WHEN n1 > 0 THEN round(CAST(n2 AS DOUBLE) / n1, 6) END,
          '3_purchase_14d',  n3, CASE WHEN n2 > 0 THEN round(CAST(n3 AS DOUBLE) / n2, 6) END)
          as (stage, n_users, conv_from_prev)""")
        .orderBy("stage")
    },
    Some("""WITH su AS (SELECT user_id, MIN(ts) AS t1 FROM events
           |        WHERE event_type = 'signup' GROUP BY user_id),
           |a AS (SELECT su.user_id, su.t1, MIN(e.ts) AS t2
           |  FROM su LEFT JOIN events e
           |    ON e.user_id = su.user_id AND e.event_type = 'activation'
           |   AND e.ts >= su.t1
           |   AND epoch_us(e.ts) - epoch_us(su.t1) <= 604800000000
           |  GROUP BY 1, 2),
           |p AS (SELECT a.user_id, a.t2, MIN(e.ts) AS t3
           |  FROM a LEFT JOIN events e
           |    ON e.user_id = a.user_id AND e.event_type = 'purchase'
           |   AND e.ts >= a.t2
           |   AND epoch_us(e.ts) - epoch_us(a.t2) <= 1209600000000
           |  GROUP BY 1, 2),
           |c AS (SELECT COUNT(*) AS n1,
           |    CAST(SUM(CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n2,
           |    CAST(SUM(CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n3
           |  FROM p)
           |SELECT stage, n_users, conv_from_prev FROM (
           |  SELECT '1_signup' AS stage, n1 AS n_users,
           |    CAST(NULL AS DOUBLE) AS conv_from_prev FROM c
           |  UNION ALL SELECT '2_activation_7d', n2,
           |    CASE WHEN n1 > 0 THEN ROUND(CAST(n2 AS DOUBLE) / n1, 6) END FROM c
           |  UNION ALL SELECT '3_purchase_14d', n3,
           |    CASE WHEN n2 > 0 THEN ROUND(CAST(n3 AS DOUBLE) / n2, 6) END FROM c)
           |ORDER BY stage""".stripMargin))

  /** INTERVAL-OVERLAP join (graft.events.IntervalJoin): 30-day order
    * windows of one customer cohort against 21-day windows of another —
    * "which fulfillment windows ran concurrently". The engine executes
    * a bucketized EQUI-join (each interval covers ≤2 width-32 buckets,
    * pairs emitted once at the overlap's left-edge bucket); the oracle
    * replays the naive quadratic theta join — the plan must differ, the
    * rows must not. Per-left-order overlap count and total shared days
    * (inclusive, integer-exact). */
  val ov01IntervalOverlap = QueryDef("ov01_interval_overlap",
    (s, d) => {
      import graft.events.IntervalJoin
      def cohort(rem: Int, len: Int) = Tables.orders(s, d)
        .filter(col("o_custkey") % 100 === rem)
        .select(col("o_orderkey"),
          datediff(col("o_orderdate").cast("date"), lit("1970-01-01").cast("date"))
            .cast("long").as("lo"))
        .withColumn("hi", col("lo") + (len - 1))
      val a = cohort(0, 30)
      val b = cohort(1, 21).select(col("o_orderkey").as("b_orderkey"),
        col("lo").as("b_lo"), col("hi").as("b_hi"))
      IntervalJoin.overlapPairs(a, b, "lo", "hi", "b_lo", "b_hi", bucketWidth = 32)
        .groupBy("o_orderkey")
        .agg(count(lit(1)).as("n_overlaps"),
          sum(least(col("hi"), col("b_hi")) - greatest(col("lo"), col("b_lo")) + 1)
            .as("overlap_days"))
        .orderBy("o_orderkey")
    },
    Some("""WITH a AS (SELECT o_orderkey,
           |    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS lo,
           |    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) + 29 AS hi
           |  FROM orders WHERE o_custkey % 100 = 0),
           |b AS (SELECT o_orderkey,
           |    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS lo,
           |    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) + 20 AS hi
           |  FROM orders WHERE o_custkey % 100 = 1)
           |SELECT a.o_orderkey, COUNT(*) AS n_overlaps,
           |  CAST(SUM(LEAST(a.hi, b.hi) - GREATEST(a.lo, b.lo) + 1) AS BIGINT) AS overlap_days
           |FROM a JOIN b ON a.lo <= b.hi AND b.lo <= a.hi
           |GROUP BY a.o_orderkey ORDER BY a.o_orderkey""".stripMargin))

  /** INTERVAL-OVERLAP on the EVENTS time axis — the constant-density
    * companion to ov01 (same [[graft.events.IntervalJoin]] bucketized
    * equi-join kernel, same 30d×21d cohort shape), with intervals
    * anchored at each user's FIRST ACTIVITY DAY instead of order
    * dates. The point is a measurement, not a new operator (the nn13
    * pattern): ov01's order-date axis is stacked `factor` deep by the
    * scale corpora, so its overlap-pair count — the OUTPUT — grows
    * ~quadratically and the query measures output size, not the
    * kernel. The stretch-time corpora grow the events axis at
    * constant density, so ov02's pair count is linear in corpus and
    * the decade exponent isolates the kernel itself: bucket explode +
    * equi-join + left-edge emit-once, one shuffle keyed by an 8-byte
    * bucket, never a nested loop (plan-pinned like ov01). */
  val ov02IntervalOverlapEvents = QueryDef("ov02_interval_overlap_events",
    (s, d) => {
      import graft.events.IntervalJoin
      def cohort(rem: Int, len: Int) = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(min(to_date(col("ts"))).as("fd"))
        .filter(col("user_id") % 100 === rem)
        .select(col("user_id"),
          datediff(col("fd"), lit("1970-01-01").cast("date"))
            .cast("long").as("lo"))
        .withColumn("hi", col("lo") + (len - 1))
      val a = cohort(0, 30)
      val b = cohort(1, 21).select(col("user_id").as("b_user_id"),
        col("lo").as("b_lo"), col("hi").as("b_hi"))
      IntervalJoin.overlapPairs(a, b, "lo", "hi", "b_lo", "b_hi", bucketWidth = 32)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_overlaps"),
          sum(least(col("hi"), col("b_hi")) - greatest(col("lo"), col("b_lo")) + 1)
            .as("overlap_days"))
        .orderBy("user_id")
    },
    Some("""WITH f AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS fd
           |  FROM events GROUP BY user_id),
           |a AS (SELECT user_id,
           |    date_diff('day', DATE '1970-01-01', fd) AS lo,
           |    date_diff('day', DATE '1970-01-01', fd) + 29 AS hi
           |  FROM f WHERE user_id % 100 = 0),
           |b AS (SELECT user_id,
           |    date_diff('day', DATE '1970-01-01', fd) AS lo,
           |    date_diff('day', DATE '1970-01-01', fd) + 20 AS hi
           |  FROM f WHERE user_id % 100 = 1)
           |SELECT a.user_id, COUNT(*) AS n_overlaps,
           |  CAST(SUM(LEAST(a.hi, b.hi) - GREATEST(a.lo, b.lo) + 1) AS BIGINT) AS overlap_days
           |FROM a JOIN b ON a.lo <= b.hi AND b.lo <= a.hi
           |GROUP BY a.user_id ORDER BY a.user_id""".stripMargin))

  /** EXACT-INTEGER STREAMING-STYLE ANOMALY DETECTION: flag events whose
    * value deviates > 3σ from the TRAILING window of the user's 10
    * preceding events (self-exclusive frame — the score never sees the
    * candidate, so one outlier cannot mask itself). The z-test is
    * cross-multiplied into integers — value quantized to exact cents
    * via DECIMAL, then (n·v − S)² > 9·(n·ΣV² − S²) — so no sqrt, no
    * float variance, and both engines evaluate identical integer
    * arithmetic (the f10 MAD query is the batch/global sibling; this is
    * the sequential/trailing form).
    *
    * 100 TB: one shuffle by user_id, one sort per partition, frame
    * bounded at 10 rows — state is O(frame), the same shape Structured
    * Streaming keeps per key, which is why the trailing (not centered)
    * frame is the production choice. */
  val ts03Anomaly = QueryDef("ts03_anomaly",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(-10, -1)
      Tables.events(s, d)
        .withColumn("v_cents",
          cents(col("value")))
        .withColumn("n_win", count(lit(1)).over(w))
        .withColumn("s_win", sum(col("v_cents")).over(w))
        .withColumn("ss_win", sum(col("v_cents") * col("v_cents")).over(w))
        .filter(col("n_win") >= 5 &&
          (col("n_win") * col("v_cents") - col("s_win")) *
            (col("n_win") * col("v_cents") - col("s_win")) >
            lit(9L) * (col("n_win") * col("ss_win") - col("s_win") * col("s_win")))
        .select(col("user_id"), col("event_id"), col("v_cents"),
          col("n_win"), col("s_win"), col("ss_win"))
        .orderBy("user_id", "event_id")
    },
    Some(s"""WITH e AS (
           |  SELECT user_id, event_id,
           |    ${sqlCents("value")} AS v_cents,
           |    COUNT(*) OVER w AS n_win,
           |    CAST(SUM(${sqlCents("value")}) OVER w AS BIGINT) AS s_win,
           |    CAST(SUM(${sqlCents("value")}
           |             * ${sqlCents("value")}) OVER w AS BIGINT) AS ss_win
           |  FROM events
           |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
           |               ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING))
           |SELECT user_id, event_id, v_cents, n_win, s_win, ss_win
           |FROM e
           |WHERE n_win >= 5
           |  AND (n_win * v_cents - s_win) * (n_win * v_cents - s_win)
           |      > 9 * (n_win * ss_win - s_win * s_win)
           |ORDER BY user_id, event_id""".stripMargin))

  /** COHORT RETENTION MATRIX: users are grouped by the DAY of their
    * first event (the cohort); each (cohort, day-offset) cell counts
    * distinct users active that many days later, with the cohort size
    * and the retention rate. The product-analytics staple (and, for a
    * training pipeline, the "does this source keep contributing docs
    * over time" view when applied to source×ingest-date). Day
    * arithmetic is integer date subtraction — exact in both engines;
    * the rate divides two exactly-determined doubles.
    *
    * 100 TB: first-event is a mergeable min per user (partial agg);
    * the activity join is user-keyed (co-partitioned with the min's
    * shuffle under AQE); the matrix itself is cohorts × horizon rows
    * — tiny. No window over raw events anywhere. */
  val co02CohortRetention = QueryDef("co02_cohort_retention",
    (s, d) => {
      val ev = Tables.events(s, d)
      val first = ev.groupBy("user_id")
        .agg(to_date(min(col("ts"))).as("cohort_day"))
      val size = first.groupBy("cohort_day")
        .agg(countDistinct(col("user_id")).as("cohort_n"))
      ev.join(first, Seq("user_id"))
        .select(col("user_id"), col("cohort_day"),
          datediff(to_date(col("ts")), col("cohort_day")).cast(LongType).as("day_offset"))
        .groupBy("cohort_day", "day_offset")
        .agg(countDistinct(col("user_id")).as("n_active"))
        .join(size, Seq("cohort_day"))
        .select(col("cohort_day"), col("day_offset"), col("cohort_n"), col("n_active"),
          round(col("n_active").cast(DoubleType) / col("cohort_n").cast(DoubleType), 6)
            .as("retention"))
        .orderBy("cohort_day", "day_offset")
    },
    Some("""WITH f AS (SELECT user_id, CAST(MIN(ts) AS DATE) AS cohort_day
           |          FROM events GROUP BY user_id),
           |sz AS (SELECT cohort_day, COUNT(DISTINCT user_id) AS cohort_n
           |       FROM f GROUP BY cohort_day),
           |act AS (SELECT f.cohort_day,
           |          CAST(datediff('day', f.cohort_day, CAST(e.ts AS DATE)) AS BIGINT) AS day_offset,
           |          COUNT(DISTINCT e.user_id) AS n_active
           |        FROM events e JOIN f USING (user_id) GROUP BY 1, 2)
           |SELECT a.cohort_day, a.day_offset, s.cohort_n, a.n_active,
           |  ROUND(CAST(a.n_active AS DOUBLE) / CAST(s.cohort_n AS DOUBLE), 6) AS retention
           |FROM act a JOIN sz s USING (cohort_day)
           |ORDER BY cohort_day, day_offset""".stripMargin))

  /** EVENT-TYPE TRANSITION MATRIX (first-order Markov chain): per-user
    * event streams ordered by (ts, event_id) yield (from→to) counts
    * and the row-normalized transition probability — the session-path
    * model behind next-action prediction and behavioral anomaly
    * scoring. Counts are exact; the probability divides two
    * exactly-determined doubles (the s01 discipline).
    *
    * 100 TB: the lead() window partitions BY USER — thousands of rows
    * per partition, never a global sort; the transition table itself
    * is |types|² rows. The from-type totals ride a broadcast-size
    * second aggregate, not a window over the pair table. */
  val mk01MarkovTransitions = QueryDef("mk01_markov_transitions",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val pairs = Tables.events(s, d)
        .select(col("user_id"), col("event_type").as("from_type"),
          lead(col("event_type"), 1).over(w).as("to_type"))
        .filter(col("to_type").isNotNull)
        .groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
      val totals = pairs.groupBy("from_type").agg(sum(col("n")).as("tot"))
      pairs.join(broadcast(totals), Seq("from_type"))
        .select(col("from_type"), col("to_type"), col("n"),
          round(col("n").cast(DoubleType) / col("tot").cast(DoubleType), 6).as("p"))
        .orderBy("from_type", "to_type")
    },
    Some("""WITH o AS (SELECT user_id, event_type AS from_type,
           |    LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
           |  FROM events),
           |p AS (SELECT from_type, to_type, COUNT(*) AS n FROM o
           |      WHERE to_type IS NOT NULL GROUP BY 1, 2),
           |t AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS tot FROM p GROUP BY 1)
           |SELECT p.from_type, p.to_type, p.n,
           |  ROUND(CAST(p.n AS DOUBLE) / CAST(t.tot AS DOUBLE), 6) AS p
           |FROM p JOIN t USING (from_type)
           |ORDER BY from_type, to_type""".stripMargin))

  /** TWO-PROPORTION A/B TEST: users split by id parity; conversion =
    * "purchased within 24h of first event" (activation, not lifetime
    * purchase — on a month of dense events every user eventually
    * buys, so the lifetime rate is degenerate 100%). Emits both arms'
    * exact counts, the rates, and the pooled two-proportion z
    * statistic. Float discipline: every input to the z formula is an
    * exactly-determined double (integer counts), the expression tree
    * is written IDENTICALLY in both engines (same parenthesization →
    * same IEEE-754 op sequence), and sqrt is correctly rounded by
    * standard — so even the z statistic hash-matches.
    *
    * 100 TB: one min-per-user partial agg, one user-keyed join, one
    * conditional-count agg — all mergeable; the final row is scalar. */
  val ab01AbTest = QueryDef("ab01_ab_test",
    (s, d) => {
      val ev = Tables.events(s, d)
      val first = ev.groupBy("user_id").agg(min(col("ts")).as("ft"))
      val conv = ev.join(first, Seq("user_id"))
        .groupBy(col("user_id"), (col("user_id") % 2).as("variant"))
        .agg(max(when(col("event_type") === "purchase" &&
          unix_micros(col("ts")) - unix_micros(col("ft")) <= 86400000000L, 1L)
          .otherwise(0L)).as("conv"))
      val arms = conv.groupBy("variant")
        .agg(count(lit(1)).as("n"), sum(col("conv")).as("k"))
      val wide = arms.agg(
        sum(when(col("variant") === 0, col("n")).otherwise(0L)).as("n0"),
        sum(when(col("variant") === 0, col("k")).otherwise(0L)).as("k0"),
        sum(when(col("variant") === 1, col("n")).otherwise(0L)).as("n1"),
        sum(when(col("variant") === 1, col("k")).otherwise(0L)).as("k1"))
      wide.select(col("n0"), col("k0"), col("n1"), col("k1"),
          round(col("k0").cast(DoubleType) / col("n0").cast(DoubleType), 6).as("p0"),
          round(col("k1").cast(DoubleType) / col("n1").cast(DoubleType), 6).as("p1"),
          round((col("k0").cast(DoubleType) / col("n0").cast(DoubleType) -
                 col("k1").cast(DoubleType) / col("n1").cast(DoubleType)) /
            sqrt(((col("k0") + col("k1")).cast(DoubleType) /
                  (col("n0") + col("n1")).cast(DoubleType)) *
              (lit(1.0) - (col("k0") + col("k1")).cast(DoubleType) /
                          (col("n0") + col("n1")).cast(DoubleType)) *
              (lit(1.0) / col("n0").cast(DoubleType) +
               lit(1.0) / col("n1").cast(DoubleType))), 6).as("z"))
    },
    Some("""WITH f AS (SELECT user_id, MIN(ts) AS ft FROM events GROUP BY user_id),
           |c AS (SELECT e.user_id, e.user_id % 2 AS variant,
           |        MAX(CASE WHEN e.event_type = 'purchase'
           |              AND epoch_us(e.ts) - epoch_us(f.ft) <= 86400000000
           |            THEN 1 ELSE 0 END) AS conv
           |      FROM events e JOIN f USING (user_id) GROUP BY 1, 2),
           |a AS (SELECT variant, COUNT(*) AS n, SUM(conv) AS k FROM c GROUP BY 1),
           |w AS (SELECT
           |  CAST(SUM(CASE WHEN variant = 0 THEN n ELSE 0 END) AS BIGINT) AS n0,
           |  CAST(SUM(CASE WHEN variant = 0 THEN k ELSE 0 END) AS BIGINT) AS k0,
           |  CAST(SUM(CASE WHEN variant = 1 THEN n ELSE 0 END) AS BIGINT) AS n1,
           |  CAST(SUM(CASE WHEN variant = 1 THEN k ELSE 0 END) AS BIGINT) AS k1
           |  FROM a)
           |SELECT n0, k0, n1, k1,
           |  ROUND(CAST(k0 AS DOUBLE) / CAST(n0 AS DOUBLE), 6) AS p0,
           |  ROUND(CAST(k1 AS DOUBLE) / CAST(n1 AS DOUBLE), 6) AS p1,
           |  ROUND((CAST(k0 AS DOUBLE) / CAST(n0 AS DOUBLE) -
           |         CAST(k1 AS DOUBLE) / CAST(n1 AS DOUBLE)) /
           |    sqrt((CAST(k0 + k1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE)) *
           |      (1.0 - CAST(k0 + k1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE)) *
           |      (1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE))), 6) AS z
           |FROM w""".stripMargin))

  /** ROLLING ACTIVE USERS (DAU / WAU / MAU + stickiness): the
    * engagement dashboard's backbone. Distinct-over-sliding-window is
    * NOT decomposable, so the classic scale shape is used instead:
    * dedupe to a (day, user) presence table first (partial agg), then
    * each presence row CONTRIBUTES to the ≤7 / ≤30 target days it
    * makes active, and a plain countDistinct per target day finishes.
    * Fan-out is bounded by the window length and runs over the
    * deduped presence table, not raw events. Target days are
    * restricted to the observed calendar (semi join). Stickiness =
    * DAU/MAU divides two exactly-determined doubles.
    *
    * 100 TB: presence is the only event-sized shuffle; the ×7/×30
    * explode happens post-dedup (typically 100-1000× smaller), and
    * the final aggregates shuffle (day, user) pairs — 16 B keys. */
  /** DAU/WAU/MAU + stickiness from an already-deduped (day, user)
    * presence table — shared by the batch query below and the
    * streaming materialization parity path (the presence table is
    * exactly what incremental state maintenance keeps current, so the
    * dashboard recomputes from state without touching raw history). */
  def rollingActiveFromPresence(presence: DataFrame): DataFrame = {
    val cal = presence.select(col("day")).distinct()
    def rolling(win: Int, out: String) = presence
      .select(explode(sequence(lit(0), lit(win - 1))).as("k"),
        col("day"), col("user_id"))
      .select(date_add(col("day"), col("k")).as("day"), col("user_id"))
      .join(cal, Seq("day"), "left_semi")
      .groupBy("day").agg(countDistinct(col("user_id")).as(out))
    val dau = presence.groupBy("day").agg(countDistinct(col("user_id")).as("dau"))
    dau.join(rolling(7, "wau"), Seq("day"))
      .join(rolling(30, "mau"), Seq("day"))
      .select(col("day"), col("dau"), col("wau"), col("mau"),
        round(col("dau").cast(DoubleType) / col("mau").cast(DoubleType), 6)
          .as("stickiness"))
      .orderBy("day")
  }

  val wa01RollingActive = QueryDef("wa01_rolling_active",
    (s, d) => rollingActiveFromPresence(Tables.events(s, d)
      .select(to_date(col("ts")).as("day"), col("user_id")).distinct()),
    Some("""WITH p AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
           |cal AS (SELECT DISTINCT day FROM p),
           |dau AS (SELECT day, COUNT(DISTINCT user_id) AS dau FROM p GROUP BY day),
           |wau AS (SELECT t.day, COUNT(DISTINCT t.user_id) AS wau FROM (
           |    SELECT p.day + CAST(k.k AS INTEGER) AS day, p.user_id
           |    FROM p, (SELECT unnest(range(0, 7)) AS k) k) t
           |  WHERE t.day IN (SELECT day FROM cal) GROUP BY t.day),
           |mau AS (SELECT t.day, COUNT(DISTINCT t.user_id) AS mau FROM (
           |    SELECT p.day + CAST(k.k AS INTEGER) AS day, p.user_id
           |    FROM p, (SELECT unnest(range(0, 30)) AS k) k) t
           |  WHERE t.day IN (SELECT day FROM cal) GROUP BY t.day)
           |SELECT d.day, d.dau, w.wau, m.mau,
           |  ROUND(CAST(d.dau AS DOUBLE) / CAST(m.mau AS DOUBLE), 6) AS stickiness
           |FROM dau d JOIN wau w USING (day) JOIN mau m USING (day)
           |ORDER BY day""".stripMargin))

  /** PER-USER MAXIMUM DRAWDOWN of cumulative event value — running
    * peak minus running total, maximized; the burn/regression signal
    * for any monotone-ish cumulative series. Values ride as integer
    * cents (decimal→int, exact), the running sums and maxes are
    * integer window aggregates, and the output is the max gap — no
    * float enters at all.
    *
    * 100 TB: both windows partition BY USER and evaluate in one pass
    * over each user's (sorted) slice; the result is one row per user. */
  val ts05Drawdown = QueryDef("ts05_drawdown",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
      Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"),
          cents(col("value")).as("cents"))
        .withColumn("cum", sum(col("cents")).over(w))
        .withColumn("peak", max(col("cum")).over(w))
        .groupBy("user_id")
        .agg(max(col("peak") - col("cum")).as("max_drawdown_cents"))
        .orderBy("user_id")
    },
    Some(s"""WITH c AS (SELECT user_id, ts, event_id,
           |    CAST(SUM(${sqlCents("value")})
           |      OVER (PARTITION BY user_id ORDER BY ts, event_id
           |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
           |  FROM events),
           |e AS (SELECT user_id, cum,
           |    CAST(MAX(cum) OVER (PARTITION BY user_id ORDER BY ts, event_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS peak
           |  FROM c)
           |SELECT user_id, MAX(peak - cum) AS max_drawdown_cents
           |FROM e GROUP BY user_id ORDER BY user_id""".stripMargin))

  val all: Seq[QueryDef] = Seq(s01SessionCounts, s02SessionWindow, s03DailyByType,
    s04TopPaths,
    aj01AsOf, aj02AsOfForward, aj03AsOfTolerance, pt01PointInTime,
    bj01BandJoin, ov01IntervalOverlap, ov02IntervalOverlapEvents,
    ts01GapFill, ts02Ewma, ts03Anomaly,
    ts04Twap,
    fn01Funnel, fn02FunnelSteps, co02CohortRetention, mk01MarkovTransitions,
    ab01AbTest, wa01RollingActive, ts05Drawdown)
}
