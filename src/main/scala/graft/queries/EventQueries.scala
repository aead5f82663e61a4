package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables
import graft.streaming.EventStreams

/** Event-time windowing surface over `events`: tumbling/sliding windows via
  * the native `window()` function, gap-based sessions via `session_window()`,
  * a funnel join, and a Structured Streaming run of the tumbling aggregate —
  * every one oracle-checked against window-free ANSI SQL (date_trunc /
  * gaps-and-islands). The reference has no event-time semantics (SURVEY
  * §2.10) — this is the north-star streaming surface.
  */
object EventQueries extends QueryPack {

  /** Tumbling 1-hour windows: native window() aligned to epoch ==
    * date_trunc('hour'). */
  private val q50 = Q(
    "q50_hourly_windows",
    (s, dir) => Tables(s, dir).events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n"), col("total"))
      .orderBy(col("window_start"), col("event_type")),
    Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
      event_type, count(*) AS n, round(sum(value), 2) AS total
      FROM events GROUP BY 1, 2 ORDER BY window_start, event_type"""))

  /** Sliding 2h/1h windows — each event lands in exactly two windows;
    * oracle reconstructs them as a union of shifted hourly truncs. */
  private val q51 = Q(
    "q51_sliding_windows",
    (s, dir) => Tables(s, dir).events
      .groupBy(window(col("ts"), "2 hours", "1 hour"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("n"), col("total"))
      .orderBy(col("window_start")),
    Some("""WITH w AS (
        SELECT date_trunc('hour', ts) AS ws, value FROM events
        UNION ALL
        SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR AS ws, value FROM events)
      SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
        count(*) AS n, round(sum(value), 2) AS total
      FROM w GROUP BY ws ORDER BY window_start"""))

  /** Gap-based session windows (30 min) per user via native
    * session_window(); oracle is the classic gaps-and-islands rewrite.
    * A new session starts when ts - prev_ts >= gap (session end is
    * exclusive last_ts + gap). */
  private val q52 = Q(
    "q52_session_windows",
    (s, dir) => Tables(s, dir).events
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("total"))
      .select(col("user_id"),
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        col("n_events"), col("total"))
      .orderBy(col("user_id"), col("session_start")),
    Some("""WITH g AS (
        SELECT user_id, ts, value,
          CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
            >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
        FROM events),
      s AS (SELECT user_id, ts, value,
        sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM g)
      SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        count(*) AS n_events, round(sum(value), 2) AS total
      FROM s GROUP BY user_id, sid ORDER BY user_id, session_start"""))

  /** Conversion funnel: first signup per user, then purchases at-or-after
    * it (min-agg + self-join — the event-sequence join pattern). */
  private val q53 = Q(
    "q53_signup_purchase_funnel",
    (s, dir) => {
      val t = Tables(s, dir)
      val ev = t.events
      val signups = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("ts")).as("first_signup"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("value"))
      signups.join(purchases,
          col("p_user") === col("user_id") && col("p_ts") >= col("first_signup"), "left")
        .groupBy(col("user_id"))
        .agg(count(col("p_ts")).as("n_purchases_after"),
          round(sum(coalesce(col("value"), lit(0.0))), 2).as("purchase_value"))
        .orderBy(col("user_id"))
    },
    Some("""WITH s AS (SELECT user_id, min(ts) AS first_signup FROM events
        WHERE event_type = 'signup' GROUP BY user_id)
      SELECT s.user_id, count(e.ts) AS n_purchases_after,
        round(sum(coalesce(e.value, 0.0)), 2) AS purchase_value
      FROM s LEFT JOIN events e ON e.user_id = s.user_id
        AND e.event_type = 'purchase' AND e.ts >= s.first_signup
      GROUP BY s.user_id ORDER BY s.user_id"""))

  /** The tumbling aggregate executed as a Structured Streaming query
    * (AvailableNow micro-batches, watermark, complete-mode memory sink) —
    * same oracle as the batch form modulo the different agg. */
  private val q54 = Q(
    "q54_stream_tumbling",
    (s, dir) => EventStreams.tumblingAggToTable(s, dir, "q54_stream_out"),
    Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
      event_type, count(*) AS n, round(sum(value), 2) AS total
      FROM events GROUP BY 1, 2 ORDER BY window_start, event_type"""))

  /** Event-time sessionization as a STREAMING stateful operator
    * (flatMapGroupsWithState + EventTimeTimeout, custom state-store
    * sessions): emits every session the final watermark can flush — i.e.
    * all sessions ending >= gap before max(ts). Oracle = the q52
    * gaps-and-islands sessions restricted by that same predicate, with the
    * rounding applied to the streamed running total (state accumulates raw
    * doubles; IEEE addition order matches event-time order on both sides). */
  private val q55 = Q(
    "q55_stream_sessions",
    (s, dir) => EventStreams.sessionsToTable(s, dir, "q55_stream_out")
      .withColumn("total", round(col("total"), 2)),
    Some("""WITH g AS (
        SELECT user_id, ts, value,
          CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
            >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
        FROM events),
      s AS (SELECT user_id, ts, value,
        sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM g)
      SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        count(*) AS n_events, round(sum(value), 2) AS total
      FROM s GROUP BY user_id, sid
      HAVING max(ts) + INTERVAL 30 MINUTE <= (SELECT max(ts) FROM events)
      ORDER BY user_id, session_start"""))

  /** As-of join: each purchase matched to the user's latest signup at or
    * before it (union + running-last — one shuffle, no non-equi join; see
    * operators.Temporal). Oracle = correlated max-subquery. */
  private val q58 = Q(
    "q58_asof_join",
    (s, dir) => {
      val ev = Tables(s, dir).events
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts"))
      graft.operators.Temporal.asofJoin(
          purchases, signups, Seq("user_id"), "ts", "ts")
        .select(col("user_id"), col("event_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_ts"),
          round(col("value"), 2).as("value"),
          date_format(col("ts_asof"), "yyyy-MM-dd HH:mm:ss").as("signup_ts"))
        .orderBy(col("user_id"), col("event_id"))
    },
    Some("""SELECT e.user_id, e.event_id,
        strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
        round(e.value, 2) AS value,
        strftime((SELECT max(s.ts) FROM events s
          WHERE s.event_type = 'signup' AND s.user_id = e.user_id AND s.ts <= e.ts),
          '%Y-%m-%d %H:%M:%S') AS signup_ts
      FROM events e WHERE e.event_type = 'purchase'
      ORDER BY e.user_id, e.event_id"""))

  /** Stream-stream interval join (watermarked both sides, bounded state):
    * purchases within 60 minutes of the same user's signup, run as a
    * Structured Streaming query into a memory sink. Inner interval joins
    * on complete data emit exactly the batch-join rows, so a full SQL
    * oracle applies. */
  private val q59 = Q(
    "q59_stream_interval_join",
    (s, dir) => EventStreams.purchasesAfterSignupToTable(s, dir, "q59_stream_out")
      .select(col("user_id"), col("purchase_id"),
        date_format(col("purchase_ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_ts"),
        date_format(col("signup_ts"), "yyyy-MM-dd HH:mm:ss").as("signup_ts"))
      .orderBy(col("user_id"), col("purchase_id"), col("signup_ts")),
    Some("""SELECT p.user_id, p.event_id AS purchase_id,
        strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
        strftime(s.ts, '%Y-%m-%d %H:%M:%S') AS signup_ts
      FROM events p JOIN events s
        ON p.user_id = s.user_id
        AND p.event_type = 'purchase' AND s.event_type = 'signup'
        AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 60 MINUTE
      ORDER BY p.user_id, purchase_id, signup_ts"""))

  /** The q55 sessionization re-expressed on Spark 4's transformWithState
    * (StatefulProcessor + explicit event-time timers, RocksDB state store)
    * — same emitted set, same oracle. */
  private val q5a = Q(
    "q5a_stream_sessions_tws",
    (s, dir) => EventStreams.sessionsToTableTws(s, dir, "q5a_stream_out")
      .withColumn("total", round(col("total"), 2)),
    q55.oracle)

  /** Incremental HLL over the event STREAM
    * (EventStreams.hllRegistersForStream): the register table maintained
    * across micro-batches by elementwise max-merge — sketch-sized state on
    * distributed storage, stateless streaming plan. FULL oracle: the final
    * table must equal the BATCH register derivation over all of `events`
    * (HLL merge-exactness), re-derived in DuckDB from the closed-formula
    * XXH64 chain on `user_id` (the q126 device on the events table);
    * StreamingSpec additionally drives the multi-batch merge path
    * (maxFilesPerTrigger=1 over a 3-file copy) against the same batch
    * frame. */
  private val q134 = Q(
    "q134_hll_stream",
    (s, dir) => EventStreams.hllRegistersToParquet(
      s, dir,
      graft.Checkpoints.scratchDir(s, "graft-q134-out"),
      p = 9),
    Some {
      import TextQueries.XxhashSqlGen._
      val base = "base AS (SELECT CASE WHEN user_id < 0" +
        s" THEN user_id + $big ELSE CAST(user_id AS HUGEINT) END AS v" +
        " FROM events WHERE user_id IS NOT NULL)"
      val (c1, last1) = stages("p", "v", "42::HUGEINT", "base")
      (Seq(base) ++ c1).mkString("WITH ", ",\n", ",\n") + s"""
      reg AS (SELECT hp % 512 AS j,
          CASE WHEN hp // 512 = 0 THEN 56
               ELSE 56 - length(bin(hp // 512)) END AS rho
        FROM $last1),
      mx AS (SELECT j, max(rho) AS rho FROM reg GROUP BY j)
      SELECT CAST(g.j AS INTEGER) AS j,
        CAST(coalesce(mx.rho, 0) AS INTEGER) AS rho
      FROM (SELECT unnest(range(0, 512)) AS j) g LEFT JOIN mx ON g.j = mx.j
      ORDER BY j"""
    })

  /** Per-GROUP HLL registers ([[graft.operators.Sketches
    * .hllRegistersGrouped]]): one dense 32-register block per event
    * type over `user_id` — "distinct users per segment" as mergeable
    * sketch state (p = 5 keeps the output segment-count-sized). FULL
    * ORACLE: the q126 closed-formula XXH64 device with the group key
    * carried through — registers, rho bit-lengths, and the dense
    * (group × register) universe all re-derived in DuckDB. */
  private val q155 = Q(
    "q155_hll_grouped",
    (s, dir) => graft.operators.Sketches.hllRegistersGrouped(
        Tables(s, dir).events, col("event_type"), col("user_id"), p = 5)
      .select(col("grp").as("event_type"), col("j"), col("rho"))
      .orderBy(col("event_type"), col("j")),
    Some {
      import TextQueries.XxhashSqlGen._
      val base = "base AS (SELECT event_type AS grp, CASE WHEN user_id < 0" +
        s" THEN user_id + $big ELSE CAST(user_id AS HUGEINT) END AS v" +
        " FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL)"
      val (c1, last1) = stages("p", "v", "42::HUGEINT", "base")
      (Seq(base) ++ c1).mkString("WITH ", ",\n", ",\n") + s"""
      reg AS (SELECT grp, hp % 32 AS j,
          CASE WHEN hp // 32 = 0 THEN 60
               ELSE 60 - length(bin(hp // 32)) END AS rho
        FROM $last1),
      mx AS (SELECT grp, j, max(rho) AS rho FROM reg GROUP BY grp, j),
      uni AS (SELECT gg.grp, g.j
        FROM (SELECT DISTINCT grp FROM base) gg
        CROSS JOIN (SELECT unnest(range(0, 32)) AS j) g)
      SELECT uni.grp AS event_type, CAST(uni.j AS INTEGER) AS j,
        CAST(coalesce(mx.rho, 0) AS INTEGER) AS rho
      FROM uni LEFT JOIN mx ON mx.grp = uni.grp AND mx.j = uni.j
      ORDER BY event_type, j"""
    })

  /** Cohort audience-overlap MATRIX via grouped KMV sketches
    * ([[graft.operators.Sketches.kmvOverlapMatrix]]) — the multiset
    * companion to q155's grouped HLL: q155 answers "distinct users per
    * segment"; this answers "which segments share users", the G²
    * distinct-intersection question, from G sketches built in ONE pass
    * (here: high-value cohorts, events gated value > 190 so each
    * event type covers a PARTIAL user set — ungated, every type
    * saturates the user universe and every Jaccard is 1). The pairing
    * is a nested-loop join of G ≤k·8-byte rows — sketch-level, never
    * corpus-level. Exercises BOTH estimator regimes across the SFs:
    * under k (exact) at sf0.001/sf0.01, estimator path at sf0.1.
    * FULL ORACLE: per-group k-min sets re-derived as row_number over
    * DISTINCT signed hashes from the XXH64 chain; union k-min, shared
    * counts, and the (k−1)/u estimates restated with the q167 devices
    * (string→DOUBLE power-of-two casts, 6dp rounding both sides). */
  private val q169 = Q(
    "q169_kmv_audience_matrix",
    (s, dir) => graft.operators.Sketches.kmvOverlapMatrix(
      Tables(s, dir).events.filter(col("value") > 190),
      col("event_type"), col("user_id"), k = 128),
    Some {
      import TextQueries.XxhashSqlGen._
      val base = "base AS (SELECT event_type AS g, CASE WHEN user_id < 0" +
        s" THEN user_id + $big ELSE CAST(user_id AS HUGEINT) END AS v" +
        " FROM events WHERE value > 190" +
        " AND user_id IS NOT NULL AND event_type IS NOT NULL)"
      val (c1, last1) = stages("q", "v", "42::HUGEINT", "base")
      val p63 = "CAST('9223372036854775808' AS DOUBLE)"
      val p64 = "CAST('18446744073709551616' AS DOUBLE)"
      def est(n: String, kth: String) =
        s"round(CASE WHEN $n < 128 THEN CAST($n AS DOUBLE) " +
          s"ELSE 127.0 / ((CAST($kth AS DOUBLE) + $p63) / $p64) END, 6)"
      (Seq(base) ++ c1).mkString("WITH ", ",\n", ",\n") + s"""
      hh AS (SELECT DISTINCT g,
          CASE WHEN hq >= 9223372036854775808::HUGEINT
               THEN hq - $big ELSE hq END AS h FROM $last1),
      r AS (SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rn
        FROM hh),
      sk AS (SELECT g, h FROM r WHERE rn <= 128),
      cnt AS (SELECT g, count(*) AS n, max(h) AS kth FROM sk GROUP BY g),
      pr AS (SELECT x.g AS ga, y.g AS gb
        FROM (SELECT DISTINCT g FROM sk) x
        JOIN (SELECT DISTINCT g FROM sk) y ON x.g < y.g),
      uh AS (SELECT pr.ga, pr.gb, s.h FROM pr JOIN sk s ON s.g = pr.ga
        UNION
        SELECT pr.ga, pr.gb, s.h FROM pr JOIN sk s ON s.g = pr.gb),
      ur AS (SELECT ga, gb, h,
        row_number() OVER (PARTITION BY ga, gb ORDER BY h) AS rn FROM uh),
      uk AS (SELECT ga, gb, h FROM ur WHERE rn <= 128),
      us AS (SELECT ga, gb, count(*) AS n_u, max(h) AS kth_u
        FROM uk GROUP BY ga, gb),
      sh AS (SELECT uk.ga, uk.gb, count(*) AS shared
        FROM uk
        JOIN sk sa ON sa.g = uk.ga AND sa.h = uk.h
        JOIN sk sb ON sb.g = uk.gb AND sb.h = uk.h
        GROUP BY uk.ga, uk.gb)
      SELECT us.ga AS grp_a, us.gb AS grp_b,
        CAST(ca.n AS INTEGER) AS n_a, CAST(cb.n AS INTEGER) AS n_b,
        ${est("ca.n", "ca.kth")} AS est_a,
        ${est("cb.n", "cb.kth")} AS est_b,
        CAST(us.n_u AS INTEGER) AS n_union,
        ${est("us.n_u", "us.kth_u")} AS est_union,
        CAST(coalesce(sh.shared, 0) AS INTEGER) AS shared,
        round(CAST(coalesce(sh.shared, 0) AS DOUBLE) / us.n_u, 6) AS jaccard,
        round(CAST(coalesce(sh.shared, 0) AS DOUBLE) / us.n_u
          * ${est("us.n_u", "us.kth_u")}, 6) AS est_intersect
      FROM us
      JOIN cnt ca ON ca.g = us.ga
      JOIN cnt cb ON cb.g = us.gb
      LEFT JOIN sh ON sh.ga = us.ga AND sh.gb = us.gb
      ORDER BY grp_a, grp_b"""
    })

  /** Batch point-in-interval range join WITHOUT an equi-key
    * (operators.Temporal.rangeJoin) — q58's as-of join answers "latest
    * left row at or before"; this answers "ALL intervals covering the
    * point": purchases attributed to one-hour incident windows opened by
    * error events, across ALL users (no key to equi-join on). The naive
    * inequality join is BroadcastNestedLoopJoin — quadratic at 100 TB —
    * so the operator quantizes the time axis (1 h buckets ≈ the interval
    * length), explodes each interval into its covered buckets, and
    * equi-joins on the bucket with the exact predicate as residual;
    * PlanSpec's q170 row pins that the executed plan carries NO
    * nested-loop/cartesian node. Exactly-once per match by construction (the point owns one
    * bucket), so the oracle is the plain inequality join DuckDB runs
    * natively (IEJoin). Epoch seconds via cast(ts as long) ↔
    * floor(epoch(ts)) — both floor micros to seconds, UTC sessions. */
  private val q170 = Q(
    "q170_range_join",
    (s, dir) => {
      val ev = Tables(s, dir).events
      val windows = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("incident_id"),
          col("ts").cast("long").as("w_from"),
          (col("ts").cast("long") + 3600L).as("w_to"))
      val points = ev.filter(col("event_type") === "purchase")
        .select(col("ts").as("p_ts"), col("value").as("p_value"))
      // width DERIVED from the interval-span distribution (GK quantile
      // pass, Temporal.deriveBucketWidth) instead of hand-picked; the
      // fixture's windows are uniformly 1 h, so the derivation must land
      // exactly on the width a careful operator would have chosen
      val width = graft.operators.Temporal.deriveBucketWidth(
        windows, col("w_from"), col("w_to"))
      require(width == 3600L,
        s"derived bucket width $width != the uniform 3600s interval span")
      graft.operators.Temporal.rangeJoin(
          points, col("p_ts").cast("long"),
          windows, col("w_from"), col("w_to"), bucketWidth = width)
        .groupBy(col("incident_id"))
        .agg(count(lit(1)).as("n_purchases"),
          round(sum(col("p_value")), 2).as("purchase_value"))
        .orderBy(col("incident_id"))
    },
    Some("""WITH w AS (SELECT event_id AS incident_id,
          CAST(floor(epoch(ts)) AS BIGINT) AS f
        FROM events WHERE event_type = 'error'),
      p AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) AS ts, value
        FROM events WHERE event_type = 'purchase')
      SELECT incident_id, count(*) AS n_purchases,
        round(sum(value), 2) AS purchase_value
      FROM w JOIN p ON p.ts >= w.f AND p.ts <= w.f + 3600
      GROUP BY 1 ORDER BY incident_id"""))

  /** q170's semantics written as the NAIVE inequality join and rescued by
    * the engine's own optimizer rule (plans.RangeJoinRewrite, injected
    * via SparkSessionExtensions): with `spark.graft.rangejoin.bucketwidth`
    * set, the Catalyst fixed point rewrites the BroadcastNestedLoopJoin
    * shape into the bucketed equi-join AUTOMATICALLY — the user writes
    * `ts BETWEEN f AND t`, the rule adds the bucket projection, the
    * interval explosion, and the bucket equi-conjunct (original
    * predicates ride as residuals, so the join is exact). This grades the
    * extension-point leg the manual operator (q170) cannot: the same
    * query text that would be quadratic becomes linear because the
    * SESSION, not the query author, knows the rewrite. The body
    * materializes under the width conf; PlanSpec's q171 row pins that
    * the executed plan carries the rule's Generate and NO nested-loop/
    * cartesian node. The oracle is q170's inequality join verbatim, so
    * the rewrite is hash-checked against the un-rewritten semantics. */
  private val q171 = Q(
    "q171_range_join_rewrite",
    (s, dir) => {
      graft.GraftSession.withSessionConfs(s)(
          graft.plans.RangeJoinRewrite.WidthConf -> "3600") {
        val ev = Tables(s, dir).events
        val windows = ev.filter(col("event_type") === "error")
          .select(col("event_id").as("incident_id"),
            col("ts").cast("long").as("w_from"),
            (col("ts").cast("long") + 3600L).as("w_to"))
        val points = ev.filter(col("event_type") === "purchase")
          .select(col("ts").cast("long").as("p_ts"),
            col("value").as("p_value"))
        points.join(windows,
            col("p_ts") >= col("w_from") && col("p_ts") <= col("w_to"))
          .groupBy(col("incident_id"))
          .agg(count(lit(1)).as("n_purchases"),
            round(sum(col("p_value")), 2).as("purchase_value"))
          .orderBy(col("incident_id"))
          .localCheckpoint(true)
      }
    },
    Some("""WITH w AS (SELECT event_id AS incident_id,
          CAST(floor(epoch(ts)) AS BIGINT) AS f
        FROM events WHERE event_type = 'error'),
      p AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) AS ts, value
        FROM events WHERE event_type = 'purchase')
      SELECT incident_id, count(*) AS n_purchases,
        round(sum(value), 2) AS purchase_value
      FROM w JOIN p ON p.ts >= w.f AND p.ts <= w.f + 3600
      GROUP BY 1 ORDER BY incident_id"""))

  /** q170's range join STEERED by the pre-join advisory at its BROADCAST
    * operating point ([[graft.operators.Temporal.rangeJoinAdvised]] →
    * [[graft.plans.JoinAdvisor.advise]] over the two bucket-key frames) —
    * the r14 verdict's "wire the advisory into a second engine join":
    * after the fuzzy join (q223/q224), the bucketed temporal join is the
    * second consumer, with the same grading pattern. The sketch pass
    * sees dimension-sized sides at every fixture SF, advises broadcast,
    * and the operator executes it — the body require()s the advice and
    * PlanSpec's q225 row pins the executed BroadcastHashJoin. Results are strategy-independent,
    * so the oracle is q170's plain inequality join (IEJoin in DuckDB). */
  private val q225 = Q(
    "q225_advised_range_broadcast",
    (s, dir) => {
      val ev = Tables(s, dir).events
      val windows = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("incident_id"),
          col("ts").cast("long").as("w_from"),
          (col("ts").cast("long") + 3600L).as("w_to"))
      val points = ev.filter(col("event_type") === "purchase")
        .select(col("ts").as("p_ts"), col("value").as("p_value"))
      val (advice, j) = graft.operators.Temporal.rangeJoinAdvised(
        points, col("p_ts").cast("long"),
        windows, col("w_from"), col("w_to"), bucketWidth = 3600L)
      require(advice.strategy == "broadcast",
        s"dimension-sized range-join sides must advise broadcast: $advice")
      j.groupBy(col("incident_id"))
        .agg(count(lit(1)).as("n_purchases"),
          round(sum(col("p_value")), 2).as("purchase_value"))
        .orderBy(col("incident_id"))
    },
    Some("""WITH w AS (SELECT event_id AS incident_id,
          CAST(floor(epoch(ts)) AS BIGINT) AS f
        FROM events WHERE event_type = 'error'),
      p AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) AS ts, value
        FROM events WHERE event_type = 'purchase')
      SELECT incident_id, count(*) AS n_purchases,
        round(sum(value), 2) AS purchase_value
      FROM w JOIN p ON p.ts >= w.f AND p.ts <= w.f + 3600
      GROUP BY 1 ORDER BY incident_id"""))

  /** The advised range join at its SALT operating point: every 20th
    * error's window and every 20th purchase's timestamp fold onto ONE
    * fixed hour (2024-01-16 00:00 UTC, epoch 1705363200 — 3600-aligned,
    * so the hot window covers exactly one bucket; within-hour offsets
    * are preserved so the fold is invertible noise, not a constant) —
    * a "thundering herd" hour where ~5% of all intervals AND ~5% of all
    * points share one bucket key. Broadcast is disallowed
    * (broadcastMaxRows=0 — past-dimension sides) and the fair share is
    * computed for a 100 TB deployment's shuffle width
    * (targetPartitions=200000), where the hot bucket's corrected output
    * dominates any fair reducer share: the advisory must pick salt,
    * name the hot bucket among its MG keys, and the operator must
    * execute the TARGETED salted join (PlanSpec's q229 row: the executed
    * join carries the `__sl` salt key and no broadcast anywhere — both
    * legs pin shuffle_hash). maxSaltBuckets=8 keeps test-scale replication
    * cheap; the SAME inequality-join oracle proves salting moved
    * shuffle placement, never semantics. */
  private val q229 = Q(
    "q229_advised_range_salted",
    (s, dir) => {
      val hotHour = 1705363200L // 2024-01-16T00:00:00Z, % 3600 == 0
      val ev = Tables(s, dir).events
      val windows = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("incident_id"),
          when(col("event_id") % 20 === 0, lit(hotHour))
            .otherwise(col("ts").cast("long")).as("w_from"))
        .withColumn("w_to", col("w_from") + 3599L)
      val points = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"),
          when(col("event_id") % 20 === 0,
            lit(hotHour) + pmod(col("ts").cast("long"), lit(3600L)))
            .otherwise(col("ts").cast("long")).as("p_ts"),
          col("value").as("p_value"))
      // maxHotShare lifted (r16): the herd hour's bucket-key share at
      // fixture SFs sits past the default demotion ceiling (sf0.001
      // has few distinct hours, so the folded 5% concentrates to
      // ~0.5 of the point-side buckets) — this query grades the
      // salted EXECUTION; the crossover economics are
      // JoinAdvisorSpec's pin
      val (advice, j) = graft.operators.Temporal.rangeJoinAdvised(
        points, col("p_ts"),
        windows, col("w_from"), col("w_to"), bucketWidth = 3600L,
        broadcastMaxRows = 0L, skewFactor = 1.5, minSaltOutputRows = 100L,
        maxSaltBuckets = 8, targetPartitions = Some(200000),
        maxHotShare = 1.0)
      require(advice.strategy == "salt" && advice.saltBuckets >= 2,
        s"a thundering-herd bucket at 200k-partition fair share must " +
          s"salt: $advice")
      require(advice.hotKeys.contains((hotHour / 3600L).toString),
        s"the folded hour must be among the MG-named hot buckets: $advice")
      j.groupBy(col("incident_id"))
        .agg(count(lit(1)).as("n_purchases"),
          round(sum(col("p_value")), 2).as("purchase_value"))
        .orderBy(col("incident_id"))
    },
    Some("""WITH w AS (SELECT event_id AS incident_id,
          CASE WHEN event_id % 20 = 0 THEN 1705363200
            ELSE CAST(floor(epoch(ts)) AS BIGINT) END AS f
        FROM events WHERE event_type = 'error'),
      p AS (SELECT CASE WHEN event_id % 20 = 0
            THEN 1705363200 + CAST(floor(epoch(ts)) AS BIGINT) % 3600
            ELSE CAST(floor(epoch(ts)) AS BIGINT) END AS ts, value
        FROM events WHERE event_type = 'purchase')
      SELECT incident_id, count(*) AS n_purchases,
        round(sum(value), 2) AS purchase_value
      FROM w JOIN p ON p.ts >= w.f AND p.ts <= w.f + 3599
      GROUP BY 1 ORDER BY incident_id"""))

  /** GROUPED heavy hitters — q111's Misra-Gries summary with a group
    * key: one ≤capacity MG map per event type ("top users per segment"),
    * the same summary-sized-shuffle posture as grouped HLL (q155) and
    * grouped KMV (q169): the ObjectHashAggregate partial stage ships one
    * bounded map per (task, group), never the event stream. Capacity
    * 2048 exceeds every group's distinct-user count at all fixture SFs,
    * so each count is EXACT and merge-order-independent — the regime
    * with a FULL oracle (plain SQL count + rank); the lossy-regime bound
    * is HeavyHittersSpec's job. Top-10 per group via slice of the
    * (est desc, item asc)-sorted summary — no window, no second shuffle. */
  private val q173 = Q(
    "q173_heavy_hitters_grouped",
    (s, dir) => Tables(s, dir).events
      .groupBy(col("event_type"))
      .agg(graft.plans.HeavyHitters.misraGries(
        col("user_id").cast("string"), 2048).as("hh"))
      .select(col("event_type"), explode(slice(col("hh"), 1, 10)).as("e"))
      .select(col("event_type"), col("e.item").as("item"),
        col("e.est").as("est_count"))
      .orderBy(col("event_type"), col("est_count").desc, col("item")),
    Some("""WITH c AS (SELECT event_type, CAST(user_id AS VARCHAR) AS item,
          CAST(count(*) AS BIGINT) AS est_count
        FROM events GROUP BY 1, 2),
      r AS (SELECT event_type, item, est_count,
          row_number() OVER (PARTITION BY event_type
            ORDER BY est_count DESC, item) AS rn FROM c)
      SELECT event_type, item, est_count FROM r WHERE rn <= 10
      ORDER BY event_type, est_count DESC, item"""))

  /** The SQL-surface SKETCH AGGREGATE graded as a registered query
    * (q174's device for aggregates): the whole query is one
    * `spark.sql(...)` text — `kmv_minima` resolved from SQL through
    * GraftExtensions, grouped, the summary array exploded to scalar
    * (rank, h) rows in SQL via posexplode. The per-group k-min sets are
    * the same order-independent objects q169 grades, so the oracle is
    * the q169 per-group DISTINCT/row_number re-derivation over the
    * XXH64 chain; at sf0.001 each group holds fewer than k distinct
    * users, so the under-k (complete-set) regime is oracle-covered too. */
  private val q178 = Q(
    "q178_kmv_sql_grouped",
    (s, dir) => {
      Tables(s, dir).events.createOrReplaceTempView("graft_events_q178")
      s.sql("""
        WITH sk AS (SELECT event_type, kmv_minima(xxhash64(user_id), 32) AS m
                    FROM graft_events_q178
                    WHERE user_id IS NOT NULL GROUP BY event_type),
             ex AS (SELECT event_type, posexplode(m) AS (pos, h) FROM sk)
        SELECT event_type, CAST(pos + 1 AS INT) AS rank, h
        FROM ex ORDER BY event_type, rank""")
    },
    Some {
      import TextQueries.XxhashSqlGen._
      val base = "base AS (SELECT event_type, CASE WHEN user_id < 0" +
        s" THEN user_id + $big ELSE CAST(user_id AS HUGEINT) END AS v" +
        " FROM events WHERE user_id IS NOT NULL)"
      val (c1, last1) = stages("q", "v", "42::HUGEINT", "base")
      (Seq(base) ++ c1).mkString("WITH ", ",\n", ",\n") + s"""
      hh AS (SELECT DISTINCT event_type,
          CASE WHEN hq >= 9223372036854775808::HUGEINT
               THEN hq - $big ELSE hq END AS h FROM $last1),
      r AS (SELECT event_type, h,
          row_number() OVER (PARTITION BY event_type ORDER BY h) AS rank
        FROM hh)
      SELECT event_type, CAST(rank AS INTEGER) AS rank, CAST(h AS BIGINT) AS h
      FROM r WHERE rank <= 32 ORDER BY event_type, rank"""
    })

  /** Resample + linear interpolation onto the hourly grid, per event
    * type ([[graft.operators.Temporal.gapFillInterpolate]]): the
    * time-series normalizer in front of any windowed model. One agg
    * shuffle + two running windows on the partitioning the agg already
    * produced; grid generation is per key from its own span. The
    * fixture's value column is a 2dp decimal, so the bucket mean rides
    * the exact integer-cents path (valueScale=100) — order-independent
    * where a float sum's 4dp half-boundary ties broke differently per
    * engine (3/3600 cells at sf0.1). Oracle = generate_series grid +
    * IGNORE NULLS running neighbors + the same integer mean and
    * interpolation snap, term-for-term. */
  private val q183 = Q(
    "q183_gapfill_interpolate",
    (s, dir) => graft.operators.Temporal.gapFillInterpolate(
        Tables(s, dir).events, col("event_type"), col("ts"), col("value"),
        valueScale = 100)
      .select(col("key").as("event_type"),
        date_format(col("bucket_ts"), "yyyy-MM-dd HH:00").as("hour_s"),
        col("v_filled"), col("interpolated"))
      .orderBy(col("event_type"), col("hour_s")),
    Some("""WITH agg AS (
        SELECT event_type, date_trunc('hour', ts) AS h,
          floor(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
            * 100.0 / CAST(count(*) AS DOUBLE) + 0.5) / 10000.0 AS v
        FROM events GROUP BY 1, 2),
      bounds AS (SELECT event_type, min(h) AS mn, max(h) AS mx
        FROM agg GROUP BY 1),
      grid AS (SELECT event_type,
          unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h
        FROM bounds),
      j AS (SELECT g.event_type, g.h, a.v FROM grid g
        LEFT JOIN agg a ON g.event_type = a.event_type AND g.h = a.h),
      f AS (SELECT event_type, h, v,
        last_value(v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY h
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        last_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS)
          OVER (PARTITION BY event_type ORDER BY h
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph,
        first_value(v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY h
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        first_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS)
          OVER (PARTITION BY event_type ORDER BY h
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nh
        FROM j)
      SELECT event_type, strftime(h, '%Y-%m-%d %H:00') AS hour_s,
        CASE WHEN v IS NOT NULL THEN v
          ELSE floor((pv + (nv - pv) * ((epoch(h) - epoch(ph))
            / (epoch(nh) - epoch(ph)))) * 10000.0 + 0.5) / 10000.0
          END AS v_filled,
        (v IS NULL) AS interpolated
      FROM f ORDER BY event_type, hour_s"""))

  /** Streaming exactly-once under at-least-once delivery:
    * dropDuplicatesWithinWatermark over a crawl that re-emits every 7th
    * event once and every 21st twice
    * ([[graft.streaming.EventStreams.dedupReplayToTable]]). State is
    * bounded by the watermark horizon, not the stream length. Oracle =
    * the duplicate-free events table (ids are unique in the fixture, so
    * dedup-by-id recovers it exactly, payload and all). */
  private val q185 = Q(
    "q185_stream_dedup",
    (s, dir) => EventStreams.dedupReplayToTable(s, dir, "q185_stream_out")
      .select(col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
        col("user_id"), col("event_type"),
        round(col("value"), 2).as("value"))
      .orderBy(col("event_id")),
    Some("""SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
        user_id, event_type, round(value, 2) AS value
      FROM events ORDER BY event_id"""))

  /** Feature-adoption retention matrix: the cohort entity is (user,
    * event_type) keyed by the user's first week USING that type — per
    * type, distinct-user counts at each weeks-elapsed offset plus the
    * retention ratio against the cohort's size. (Plain first-activity
    * cohorts degenerate on the fixture: every user's first event is
    * week 0; per-type first-touch actually staggers.) Two shuffles:
    * the first-touch aggregate on (user, type), then the (type, cohort,
    * offset) count-distinct — the cohort map joins back to events on
    * the key the first aggregate already partitioned by. Week offsets
    * divide exact day diffs of week-truncated dates; the ratio is exact
    * integer division, shipped raw. */
  private val q190 = Q(
    "q190_retention_cohorts",
    (s, dir) => {
      val ev = Tables(s, dir).events
        .select(col("user_id"), col("event_type"),
          date_trunc("week", col("ts")).as("w"))
      val cohorts = ev.groupBy(col("user_id"), col("event_type"))
        .agg(min(col("w")).as("cohort_w"))
      val sized = cohorts.groupBy(col("event_type"), col("cohort_w"))
        .agg(countDistinct(col("user_id")).as("cohort_size"))
      ev.join(cohorts, Seq("user_id", "event_type"))
        .groupBy(col("event_type"), col("cohort_w"),
          (datediff(col("w"), col("cohort_w")) / 7).cast("int")
            .as("week_offset"))
        .agg(countDistinct(col("user_id")).as("active_users"))
        .join(sized, Seq("event_type", "cohort_w"))
        .select(col("event_type"),
          date_format(col("cohort_w"), "yyyy-MM-dd").as("cohort"),
          col("week_offset"), col("active_users"), col("cohort_size"),
          (col("active_users").cast("double") /
            col("cohort_size").cast("double")).as("retention"))
        .orderBy(col("event_type"), col("cohort"), col("week_offset"))
    },
    Some("""WITH ev AS (SELECT user_id, event_type,
          date_trunc('week', ts) AS w FROM events),
      cohorts AS (SELECT user_id, event_type, min(w) AS cohort_w
        FROM ev GROUP BY 1, 2),
      sized AS (SELECT event_type, cohort_w,
          count(DISTINCT user_id) AS cohort_size
        FROM cohorts GROUP BY 1, 2),
      act AS (SELECT c.event_type, c.cohort_w,
          CAST(datediff('day', c.cohort_w, e.w) / 7 AS INTEGER)
            AS week_offset,
          count(DISTINCT e.user_id) AS active_users
        FROM ev e JOIN cohorts c USING (user_id, event_type)
        GROUP BY 1, 2, 3)
      SELECT a.event_type, strftime(a.cohort_w, '%Y-%m-%d') AS cohort,
        a.week_offset,
        CAST(a.active_users AS BIGINT) AS active_users,
        CAST(s.cohort_size AS BIGINT) AS cohort_size,
        CAST(a.active_users AS DOUBLE) / CAST(s.cohort_size AS DOUBLE)
          AS retention
      FROM act a JOIN sized s USING (event_type, cohort_w)
      ORDER BY a.event_type, cohort, week_offset"""))

  /** Hourly anomaly detection with EXACT integer moments: per type, the
    * z-score of each hour's total (in cents) against the type's
    * mean/sample-variance — where mean, variance, and z all derive from
    * exact integer sums (Σcents, Σcents² — both fit long comfortably at
    * any per-hour volume), so every double is the same bits under any
    * summation order or partitioning. A float stddev_samp here would be
    * run-to-run unstable exactly like q183's float means were. One
    * aggregation shuffle to hours, one tiny per-type moment aggregate
    * joined back (broadcastable at any scale: one row per type). */
  private val q192 = Q(
    "q192_hourly_anomalies",
    (s, dir) => {
      val hourly = Tables(s, dir).events
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(sum(round(col("value") * 100, 0).cast("long")).as("cents"))
      val nD = count(lit(1)).cast("double")
      val sumD = sum(col("cents")).cast("double")
      val moments = hourly.groupBy(col("event_type"))
        .agg((sumD / nD).as("mu"),
          ((sum(col("cents") * col("cents")).cast("double")
            - nD * (sumD / nD) * (sumD / nD)) / (nD - lit(1.0))).as("vr"))
      val z = (col("cents").cast("double") - col("mu")) / sqrt(col("vr"))
      hourly.join(moments, Seq("event_type"))
        .filter(abs(z) > 2.5)
        .select(col("event_type"),
          date_format(col("h"), "yyyy-MM-dd HH:00").as("hour_s"),
          col("cents"),
          (floor(z * lit(1e4) + lit(0.5)) / lit(1e4)).as("z"))
        .orderBy(col("event_type"), col("hour_s"))
    },
    Some("""WITH hourly AS (SELECT event_type, date_trunc('hour', ts) AS h,
          sum(CAST(round(value * 100) AS BIGINT)) AS cents
        FROM events GROUP BY 1, 2),
      m AS (SELECT event_type,
          CAST(sum(cents) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mu,
          (CAST(sum(cents * cents) AS DOUBLE)
            - CAST(count(*) AS DOUBLE)
              * (CAST(sum(cents) AS DOUBLE) / CAST(count(*) AS DOUBLE))
              * (CAST(sum(cents) AS DOUBLE) / CAST(count(*) AS DOUBLE)))
            / (CAST(count(*) AS DOUBLE) - 1.0) AS vr
        FROM hourly GROUP BY 1)
      SELECT h.event_type, strftime(h.h, '%Y-%m-%d %H:00') AS hour_s,
        CAST(h.cents AS BIGINT) AS cents,
        floor((CAST(h.cents AS DOUBLE) - m.mu) / sqrt(m.vr) * 10000.0
          + 0.5) / 10000.0 AS z
      FROM hourly h JOIN m USING (event_type)
      WHERE abs((CAST(h.cents AS DOUBLE) - m.mu) / sqrt(m.vr)) > 2.5
      ORDER BY h.event_type, hour_s"""))

  /** First-order Markov transition matrix over per-user event sequences:
    * lag window on (user, ts, id), then (prev → curr) counts and the
    * row-conditional probability — exact integer division, shipped raw.
    * One sort-window shuffle on user_id + one pair aggregate; the
    * transition matrix output is |types|² regardless of corpus size. */
  private val q193 = Q(
    "q193_event_transitions",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val pairs = Tables(s, dir).events
        .select(col("user_id"), col("event_type"),
          lag(col("event_type"), 1).over(w).as("prev"))
        .filter(col("prev").isNotNull)
        .groupBy(col("prev"), col("event_type").as("curr"))
        .agg(count(lit(1)).as("n"))
      val totals = Window.partitionBy(col("prev"))
      pairs
        .select(col("prev"), col("curr"), col("n"),
          (col("n").cast("double") /
            sum(col("n")).over(totals).cast("double")).as("p"))
        .orderBy(col("prev"), col("curr"))
    },
    Some("""WITH seq AS (SELECT user_id, event_type,
          lag(event_type) OVER (PARTITION BY user_id
            ORDER BY ts, event_id) AS prev
        FROM events),
      pairs AS (SELECT prev, event_type AS curr, count(*) AS n
        FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2)
      SELECT prev, curr, CAST(n AS BIGINT) AS n,
        CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY prev) AS DOUBLE)
          AS p
      FROM pairs ORDER BY prev, curr"""))

  /** Stream-static enrichment join
    * ([[graft.streaming.EventStreams.enrichToTable]]): streaming facts ⋈
    * broadcast batch dimension (re-read per micro-batch — dim updates
    * reach later batches, unlike a broadcast variable) + grouped
    * aggregate. Oracle = the same join/agg in batch SQL; the sum's
    * addition order differs from batch, so 2dp rounding over 2dp inputs
    * keeps it exact (the q50/q54 device). */
  private val q197 = Q(
    "q197_stream_static_enrich",
    (s, dir) => EventStreams.enrichToTable(s, dir, "q197_stream_out"),
    Some("""WITH dim AS (SELECT DISTINCT user_id,
          'seg' || CAST(user_id % 3 AS VARCHAR) AS segment FROM events)
      SELECT d.segment, e.event_type, count(*) AS n,
        round(sum(e.value), 2) AS total
      FROM events e JOIN dim d USING (user_id)
      GROUP BY 1, 2 ORDER BY segment, event_type"""))

  /** Time-weighted average per user — the ops metric where a value
    * holds until the next observation, so the mean weights each reading
    * by its holding duration: Σ vᵢ·(tᵢ₊₁−tᵢ) / (tₙ−t₀). All
    * accumulation is EXACT integers (cents × seconds products summed as
    * longs — the q192 device for first moments applied to a weighted
    * one); the single final division is the only float op, identical
    * bits under any order. Users with one event (zero total duration)
    * are excluded — TWA is undefined over a zero-length span. One lead
    * window + one aggregate shuffle, both on user_id. */
  private val q202 = Q(
    "q202_time_weighted_avg",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      // microsecond epochs: fractional seconds are real in the fixture,
      // and second-truncation loses them asymmetrically vs the oracle —
      // micros keep every duration an exact long (Σ cents·µs telescopes
      // to ≤ max_cents·span ≈ 2.6e17, well inside long)
      val stepped = Tables(s, dir).events
        .select(col("user_id"),
          round(col("value") * 100, 0).cast("long").as("cents"),
          unix_micros(col("ts")).as("t"),
          lead(unix_micros(col("ts")), 1).over(w).as("t_next"))
        .filter(col("t_next").isNotNull)
      stepped.groupBy(col("user_id"))
        .agg(sum(col("cents") * (col("t_next") - col("t"))).as("wsum"),
          sum(col("t_next") - col("t")).as("dur"))
        .filter(col("dur") > 0)
        .select(col("user_id"), col("dur"),
          (col("wsum").cast("double") /
            (col("dur").cast("double") * lit(100.0))).as("twa"))
        .orderBy(col("user_id"))
    },
    Some("""WITH stepped AS (SELECT user_id,
          CAST(round(value * 100) AS BIGINT) AS cents,
          epoch_us(ts) AS t,
          lead(epoch_us(ts)) OVER (PARTITION BY user_id
            ORDER BY ts, event_id) AS t_next
        FROM events)
      SELECT user_id, CAST(sum(t_next - t) AS BIGINT) AS dur,
        CAST(sum(cents * (t_next - t)) AS DOUBLE)
          / (CAST(sum(t_next - t) AS DOUBLE) * 100.0) AS twa
      FROM stepped WHERE t_next IS NOT NULL
      GROUP BY user_id HAVING sum(t_next - t) > 0
      ORDER BY user_id"""))

  /** Sliding-window DISTINCT users per type (batch twin of q51's
    * streaming sliding windows, which can only count/sum): distinct
    * can't ride a window FRAME, so each hour joins its trailing 3-hour
    * bucket range (bucket h joins observations from h-2..h via a
    * 3-bucket explode — bounded fan-out, the range-join device) and
    * count-distincts per (type, hour). Shuffle volume = 3× the hourly
    * observation table, never the raw event stream. */
  private val q205 = Q(
    "q205_sliding_distinct_users",
    (s, dir) => {
      val obs = Tables(s, dir).events
        .select(col("event_type"),
          (unix_timestamp(date_trunc("hour", col("ts"))) / 3600L)
            .cast("long").as("hb"),
          col("user_id")).distinct()
      val contributed = obs.select(col("event_type"), col("user_id"),
        explode(sequence(col("hb"), col("hb") + 2)).as("win"))
      val present = obs.select(col("event_type"), col("hb").as("win"))
        .distinct()
      contributed.join(present, Seq("event_type", "win"))
        .groupBy(col("event_type"), col("win"))
        .agg(countDistinct(col("user_id")).as("u3h"))
        .select(col("event_type"),
          date_format(to_timestamp(col("win") * 3600L), "yyyy-MM-dd HH:00")
            .as("hour_s"),
          col("u3h"))
        .orderBy(col("event_type"), col("hour_s"))
    },
    Some("""WITH obs AS (SELECT DISTINCT event_type,
          CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600 AS hb,
          user_id FROM events),
      contributed AS (SELECT event_type, user_id,
          unnest([hb, hb + 1, hb + 2]) AS win FROM obs),
      present AS (SELECT DISTINCT event_type, hb AS win FROM obs)
      SELECT c.event_type,
        strftime(to_timestamp(c.win * 3600), '%Y-%m-%d %H:00') AS hour_s,
        CAST(count(DISTINCT c.user_id) AS BIGINT) AS u3h
      FROM contributed c JOIN present p
        ON c.event_type = p.event_type AND c.win = p.win
      GROUP BY c.event_type, c.win ORDER BY c.event_type, hour_s"""))

  /** FORWARD as-of join ([[graft.operators.Temporal.asofJoin]] with
    * `direction = "forward"`): per signup, the next purchase at or after
    * it for the same user — the time-to-conversion shape q53's funnel
    * window cannot express (the funnel gates on "within N days"; this
    * returns the actual next event and its gap, unbounded). Same
    * union-sort-carry plan as the backward q58, scanned from the other
    * end; the purchase side is pre-deduped to one row per (user, ts)
    * (max value) because the at-or-after tie would otherwise pick a
    * partitioning-dependent payload. Oracle: correlated min-ts join. */
  private val q211 = Q(
    "q211_forward_asof",
    (s, dir) => {
      val ev = Tables(s, dir).events
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts").cast("long").as("s_ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts").cast("long").as("p_ts"))
        .agg(max(col("value")).as("p_value"))
      graft.operators.Temporal.asofJoin(
          signups, purchases, Seq("user_id"), "s_ts", "p_ts",
          Seq("p_value"), direction = "forward")
        .select(col("user_id"), col("s_ts"),
          col("p_ts_asof").as("p_ts"),
          (col("p_ts_asof") - col("s_ts")).as("delta_sec"),
          col("p_value_asof").as("p_value"))
        .orderBy(col("user_id"), col("s_ts"))
    },
    Some("""WITH s AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS s_ts
        FROM events WHERE event_type = 'signup'),
      p0 AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS p_ts,
          max(value) AS p_value
        FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
      m AS (SELECT s.user_id, s.s_ts, min(p.p_ts) AS p_ts
        FROM s LEFT JOIN p0 p
        ON p.user_id = s.user_id AND p.p_ts >= s.s_ts
        GROUP BY 1, 2)
      SELECT m.user_id, m.s_ts, m.p_ts, m.p_ts - m.s_ts AS delta_sec,
        p.p_value
      FROM m LEFT JOIN p0 p ON p.user_id = m.user_id AND p.p_ts = m.p_ts
      ORDER BY m.user_id, m.s_ts"""))

  /** SCD Type-2 history ([[graft.operators.Snapshot.scd2History]]): the
    * per-user event-type change log as half-open validity intervals —
    * the dimension-history twin of q188's applyCdc (last state only).
    * Runs of the same state collapse (idempotent re-emissions never
    * fragment history), [from, to) tiles each key's timeline, and the
    * (ts, event_id) total order makes equal-ts changes restatable. One
    * key-partitioned sort carries all three window steps. */
  private val q212 = Q(
    "q212_scd2_history",
    (s, dir) => graft.operators.Snapshot.scd2History(
        Tables(s, dir).events,
        col("user_id"), col("event_type"), col("ts").cast("long"),
        Seq(col("event_id")))
      .orderBy(col("key"), col("version")),
    Some("""WITH b AS (SELECT user_id AS key, event_type AS state,
          CAST(floor(epoch(ts)) AS BIGINT) AS ts, event_id
        FROM events),
      o AS (SELECT *,
          lag(state) OVER (PARTITION BY key ORDER BY ts, event_id) AS prev,
          row_number()
            OVER (PARTITION BY key ORDER BY ts, event_id) AS rn FROM b),
      op AS (SELECT key, state, ts, event_id FROM o
        WHERE rn = 1 OR state IS DISTINCT FROM prev)
      SELECT key, state, ts AS valid_from,
        lead(ts) OVER w AS valid_to,
        CAST(row_number() OVER w AS INTEGER) AS version,
        (lead(ts) OVER w IS NULL) AS is_current
      FROM op WINDOW w AS (PARTITION BY key ORDER BY ts, event_id)
      ORDER BY key, version"""))

  /** Group-wise OLS (slope/intercept/R² of spend-cents on hour-of-day,
    * per event type) — the q210 exact-moments discipline applied to
    * regression: inputs are integerized first (hour as a long; value as
    * cents via the IEEE-deterministic `floor(v·100 + 0.5)`, NOT round()
    * whose shortest-decimal path differs across engines), every moment
    * is an exact integer sum (order-free, long-safe: n·Σy² ≈ 1.3e18 at
    * sf0.1 with 7× headroom), and doubles appear only in the final
    * slope/intercept/R² expressions — identical literal-by-literal in
    * the oracle so both engines execute the same IEEE op sequence.
    * Degenerate groups (constant x or y) yield NULLs. One
    * map-side-combining aggregation; output is group-count-sized. */
  private val q213 = Q(
    "q213_ols_by_group",
    (s, dir) => {
      val d = Tables(s, dir).events.select(col("event_type"),
        hour(col("ts")).cast("long").as("x"),
        floor(col("value") * 100.0 + 0.5).cast("long").as("y"))
      val a = d.groupBy(col("event_type")).agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("y") * col("y")).as("syy"))
      val num = col("n") * col("sxy") - col("sx") * col("sy")
      val den = col("n") * col("sxx") - col("sx") * col("sx")
      val den2 = col("n") * col("syy") - col("sy") * col("sy")
      val slope = num.cast("double") / den.cast("double")
      a.select(col("event_type"), col("n").as("n_events"),
        when(den > 0, round(slope, 6))
          .otherwise(lit(null).cast("double")).as("slope_cents_per_hour"),
        when(den > 0, round((col("sy").cast("double") -
            slope * col("sx").cast("double")) / col("n").cast("double"), 6))
          .otherwise(lit(null).cast("double")).as("intercept_cents"),
        when(den > 0 && den2 > 0, round(
            num.cast("double") * num.cast("double") /
              (den.cast("double") * den2.cast("double")), 6))
          .otherwise(lit(null).cast("double")).as("r2"))
        .orderBy(col("event_type"))
    },
    Some("""WITH d AS (SELECT event_type, CAST(hour(ts) AS BIGINT) AS x,
          CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS y FROM events),
      a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
          CAST(sum(x * x) AS BIGINT) AS sxx,
          CAST(sum(x * y) AS BIGINT) AS sxy,
          CAST(sum(y * y) AS BIGINT) AS syy
        FROM d GROUP BY 1)
      SELECT event_type, n AS n_events,
        CASE WHEN (n * sxx - sx * sx) > 0 THEN
          round(CAST(n * sxy - sx * sy AS DOUBLE)
            / CAST(n * sxx - sx * sx AS DOUBLE), 6)
        ELSE NULL END AS slope_cents_per_hour,
        CASE WHEN (n * sxx - sx * sx) > 0 THEN
          round((CAST(sy AS DOUBLE)
            - (CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
            / CAST(n AS DOUBLE), 6)
        ELSE NULL END AS intercept_cents,
        CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0 THEN
          round(CAST(n * sxy - sx * sy AS DOUBLE)
            * CAST(n * sxy - sx * sy AS DOUBLE)
            / (CAST(n * sxx - sx * sx AS DOUBLE)
              * CAST(n * syy - sy * sy AS DOUBLE)), 6)
        ELSE NULL END AS r2
      FROM a ORDER BY event_type"""))

  /** LEFT OUTER stream-stream interval join
    * ([[graft.streaming.EventStreams.leftOuterIntervalJoinStreams]]) —
    * the streaming join shape q59's inner join cannot express: EVERY
    * view surfaces, converted ones with each purchase that followed
    * within the hour, unconverted ones exactly once with nulls — and
    * the null is only emitted once the watermark PROVES no purchase can
    * still arrive. The bounded-replay subtlety this grades: a drained
    * source stops advancing the watermark, so the tail's outer rows
    * would be withheld forever — the runner appends a sentinel batch
    * past max(ts)+2·delay on both sides (the global watermark is the
    * min across inputs) and the final no-data batch evicts and emits
    * every real outer row. Oracle: the plain micros-exact left join. */
  private val q219 = Q(
    "q219_stream_left_outer_join",
    (s, dir) => graft.streaming.EventStreams
      .viewConversionsToTable(s, dir, "graft_q219_vconv")
      .orderBy(col("view_id"), col("purchase_id")),
    Some("""WITH v AS (SELECT event_id AS view_id, user_id,
          epoch_us(ts) AS view_us
        FROM events WHERE event_type = 'view'),
      p AS (SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS p_us
        FROM events WHERE event_type = 'purchase')
      SELECT v.user_id, v.view_id, v.view_us, p.purchase_id,
        p.p_us AS purchase_us
      FROM v LEFT JOIN p ON p.user_id = v.user_id
        AND p.p_us >= v.view_us
        AND p.p_us <= v.view_us + 3600000000
      ORDER BY view_id, purchase_id"""))

  /** FULL-OUTER stream-stream interval join
    * ([[graft.streaming.EventStreams.viewConversionsFullOuterToTable]]):
    * q219's attribution plus the orphaned-conversions side — every view
    * AND every purchase surfaces exactly once or per match, outer nulls
    * emitted only when the watermark proves them (left nulls at
    * `wm > view_ts + delay`, right nulls at `wm > purchase_ts`), the
    * sentinel batch draining BOTH tails under the bounded replay. The
    * oracle is the micros-exact batch FULL JOIN restatement — state
    * eviction must lose nothing and guess nothing on either side. */
  private val q228 = Q(
    "q228_stream_full_outer_join",
    (s, dir) => graft.streaming.EventStreams
      .viewConversionsFullOuterToTable(s, dir, "graft_q228_vconv")
      .orderBy(col("view_id"), col("purchase_id")),
    Some("""WITH v AS (SELECT event_id AS view_id, user_id,
          epoch_us(ts) AS view_us
        FROM events WHERE event_type = 'view'),
      p AS (SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS p_us
        FROM events WHERE event_type = 'purchase')
      SELECT coalesce(v.user_id, p.user_id) AS user_id, v.view_id,
        v.view_us, p.purchase_id, p.p_us AS purchase_us
      FROM v FULL JOIN p ON p.user_id = v.user_id
        AND p.p_us >= v.view_us
        AND p.p_us <= v.view_us + 3600000000
      ORDER BY view_id, purchase_id"""))

  /** Exact mode and exact median per group with TOTAL tie rules — the
    * two order statistics engines habitually leave nondeterministic
    * (DuckDB's mode() picks an arbitrary tie winner; a float median
    * averages two doubles). Mode = (max count, then MIN hour) via
    * row_number; median carried as the SUM of the two middle cents
    * (positions ⌈n/2⌉ and ⌊n/2⌋+1 of the sorted multiset — pure
    * integer, no /2, and for odd n the same position twice), so every
    * output cell is an exact integer both engines must reproduce
    * bit-for-bit. One sort per window family; the mode side is a
    * two-level count aggregation (map-side combining). */
  private val q221 = Q(
    "q221_mode_median",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = Tables(s, dir).events.select(col("event_type"),
        hour(col("ts")).cast("long").as("hr"),
        floor(col("value") * 100.0 + 0.5).cast("long").as("cents"))
      val mode = d.groupBy(col("event_type"), col("hr"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(Window
          .partitionBy(col("event_type"))
          .orderBy(col("cnt").desc, col("hr").asc)))
        .filter(col("rn") === 1)
        .select(col("event_type"), col("hr").as("modal_hour"),
          col("cnt").as("modal_n"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("cents"))
      val med = d
        .withColumn("pos", row_number().over(w))
        .withColumn("n", count(lit(1)).over(
          Window.partitionBy(col("event_type"))))
        // Column `/` is FLOAT division — (n+1)/2 at even n is x.5 and
        // matches nothing; integer-div via floor-cast (n, pos positive)
        .filter(col("pos") === ((col("n") + 1) / 2).cast("long") ||
          col("pos") === (col("n") / 2).cast("long") + 1)
        .groupBy(col("event_type"))
        // odd n: both predicates hit the SAME row — double it
        .agg((when(count(lit(1)) === 1, min(col("cents")) * 2)
          .otherwise(sum(col("cents")))
          .cast("long")).as("median_cents_x2"))
      mode.join(med, Seq("event_type")).orderBy(col("event_type"))
    },
    Some("""WITH d AS (SELECT event_type, CAST(hour(ts) AS BIGINT) AS hr,
          CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents FROM events),
      m AS (SELECT event_type, hr AS modal_hour,
          CAST(cnt AS BIGINT) AS modal_n
        FROM (SELECT event_type, hr, count(*) AS cnt, row_number()
            OVER (PARTITION BY event_type ORDER BY count(*) DESC, hr ASC)
            AS rn
          FROM d GROUP BY event_type, hr) WHERE rn = 1),
      r AS (SELECT event_type, cents,
          row_number() OVER (PARTITION BY event_type ORDER BY cents) AS pos,
          count(*) OVER (PARTITION BY event_type) AS n FROM d),
      md AS (SELECT event_type,
          CAST(CASE WHEN count(*) = 1 THEN min(cents) * 2
            ELSE sum(cents) END AS BIGINT) AS median_cents_x2
        FROM r WHERE pos = (n + 1) // 2 OR pos = n // 2 + 1
        GROUP BY event_type)
      SELECT m.event_type, m.modal_hour, m.modal_n, md.median_cents_x2
      FROM m JOIN md USING (event_type) ORDER BY event_type"""))

  override val all: Seq[Q] = Seq(q50, q51, q52, q53, q54, q55, q58, q59, q5a,
    q134, q155, q169, q170, q171, q173, q178, q183, q185, q190, q192,
    q193, q197, q202, q205, q211, q212, q213, q219, q221, q225, q228,
    q229)
}
