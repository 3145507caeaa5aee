package graft.gate

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Gate queries whose result comes from [[graft.plans.AsOf]]. */
object AsOfQueries {
  lazy val queries: Seq[GateQuery] = Seq(
    // as-of join: attach each user's most recent order to every event.
    // Round 14: routed through the native sort-merge AsOfJoinExec (one
    // exchange + sort per side, O(1) merge state) — measured at sf1
    // against the union-carry-forward composition on this exact
    // many-events-per-user shape: 1.8s vs 2.7s warm, 2.7s vs 7.0s cold,
    // identical row checksums (COVERAGE.md, r14). Temporal.asofJoin
    // remains the strategy-free composition (and q141's salted twin the
    // skew regime).
    GateQuery("q34_asof_join", (s, dir) => {
      import graft.plans.AsOf
      val ev = events(s, dir).select(col("event_id"), col("user_id"), col("ts"))
      val w = Window.partitionBy(col("o_custkey"), col("o_orderdate"))
        .orderBy(col("o_orderkey").desc)
      val ord = t(s, dir, "orders")
        .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .select(col("o_custkey").as("r_user"),
          col("o_orderdate").cast("timestamp").as("r_ts"),
          col("o_orderkey"), col("o_totalprice"))
      AsOf.asOfJoin(ev, ord, Seq("user_id"), Seq("r_user"), "ts", "r_ts",
          broadcastRight = Some(false))
        .select(col("event_id"), col("user_id"), col("ts"), col("o_orderkey"),
          round(col("o_totalprice"), 2).as("o_totalprice"))
        .orderBy(col("event_id"))
    },
      """WITH o AS (
        |  SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice
        |  FROM orders
        |  QUALIFY row_number() OVER (PARTITION BY o_custkey, o_orderdate
        |    ORDER BY o_orderkey DESC) = 1
        |)
        |SELECT e.event_id, e.user_id, e.ts, o.o_orderkey,
        |  round(o.o_totalprice, 2) AS o_totalprice
        |FROM events e ASOF LEFT JOIN o
        |  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
        |ORDER BY e.event_id""".stripMargin),

    // the NATIVE as-of join exec (plans.AsOfJoinExec: custom LogicalPlan +
    // strategy + sort-merge SparkPlan via SparkSessionExtensions): each
    // purchase matched to the user's latest click at-or-before it — one
    // exchange + sort per side, O(1) merge state, vs the union+window
    // composition q34 uses. Oracle is DuckDB's own ASOF LEFT JOIN.
    GateQuery("q124_native_asof_join", (s, dir) => {
      import graft.plans.AsOf
      val ev = events(s, dir)
      val l = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"),
          round(col("value"), 6).as("purchase_value"))
      val r = ev.where(col("event_type") === "click")
        .groupBy(col("user_id").as("r_user"), col("ts").as("click_ts"))
        .agg(round(max(col("value")), 6).as("click_value"))
      // SMJ regime forced: q137 covers the broadcast regime, so the gate
      // deterministically exercises BOTH physical paths of the exec
      AsOf.asOfJoin(l, r, Seq("user_id"), Seq("r_user"), "ts", "click_ts",
          broadcastRight = Some(false))
        .select(col("event_id"), col("user_id"), col("ts"),
          col("purchase_value"),
          // unmatched rows: sentinel instead of null (the gate's row
          // comparison treats null-vs-null as a difference)
          coalesce(col("click_ts"), timestamp_micros(lit(0L))).as("click_ts"),
          coalesce(col("click_value"), lit(-1.0)).as("click_value"))
        .orderBy(col("event_id"))
    },
      // DuckDB's native ASOF LEFT JOIN — same backward/left-outer contract
      // as plans.AsOfJoinExec; the right side is pre-aggregated per
      // (user, ts) so the match is tie-free and deterministic in both engines
      """WITH l AS (
        |  SELECT event_id, user_id, ts, round(value, 6) AS purchase_value
        |  FROM events WHERE event_type = 'purchase'
        |), r AS (
        |  SELECT user_id AS r_user, ts AS click_ts,
        |    round(max(value), 6) AS click_value
        |  FROM events WHERE event_type = 'click' GROUP BY user_id, ts
        |)
        |SELECT l.event_id, l.user_id, l.ts, l.purchase_value,
        |  coalesce(r.click_ts, TIMESTAMP '1970-01-01 00:00:00') AS click_ts,
        |  coalesce(r.click_value, -1.0) AS click_value
        |FROM l ASOF LEFT JOIN r
        |  ON l.user_id = r.r_user AND l.ts >= r.click_ts
        |ORDER BY l.event_id""".stripMargin),

    // BROADCAST regime of the native as-of exec (plans.BroadcastAsOfJoinExec,
    // forced via the hint so the gate covers it deterministically): each
    // purchase takes the user's latest click within the PRECEDING HOUR —
    // the grouped click side is dimension-sized, so it broadcasts whole and
    // the purchase side never shuffles or sorts; per-key time-sorted tables
    // are probed by binary upper bound, tolerance checked on the candidate
    GateQuery("q137_broadcast_asof", (s, dir) => {
      import graft.plans.AsOf
      val ev = events(s, dir)
      val l = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"),
          round(col("value"), 6).as("purchase_value"))
      val r = ev.where(col("event_type") === "click")
        .groupBy(col("user_id").as("r_user"), col("ts").as("click_ts"))
        .agg(round(max(col("value")), 6).as("click_value"))
      AsOf.asOfJoin(l, r, Seq("user_id"), Seq("r_user"), "ts", "click_ts",
          tolerance = Some(3600L * 1000000L), broadcastRight = Some(true))
        .select(col("event_id"), col("user_id"), col("ts"),
          col("purchase_value"),
          coalesce(col("click_ts"), timestamp_micros(lit(0L))).as("click_ts"),
          coalesce(col("click_value"), lit(-1.0)).as("click_value"))
        .orderBy(col("event_id"))
    },
      // backward as-of with tolerance: DuckDB's ASOF has no tolerance bound,
      // so the oracle replays it as a windowed join — latest click at-or-
      // before each purchase, no staler than one hour
      """WITH l AS (
        |  SELECT event_id, user_id, ts, round(value, 6) AS purchase_value
        |  FROM events WHERE event_type = 'purchase'
        |), r AS (
        |  SELECT user_id AS r_user, ts AS click_ts,
        |    round(max(value), 6) AS click_value
        |  FROM events WHERE event_type = 'click' GROUP BY user_id, ts
        |), j AS (
        |  SELECT l.event_id AS eid, r.click_ts, r.click_value,
        |    row_number() OVER (PARTITION BY l.event_id ORDER BY r.click_ts DESC) AS rn
        |  FROM l JOIN r ON l.user_id = r.r_user
        |    AND r.click_ts <= l.ts AND r.click_ts >= l.ts - INTERVAL 1 HOUR
        |)
        |SELECT l.event_id, l.user_id, l.ts, l.purchase_value,
        |  coalesce(j.click_ts, TIMESTAMP '1970-01-01 00:00:00') AS click_ts,
        |  coalesce(j.click_value, -1.0) AS click_value
        |FROM l LEFT JOIN (SELECT * FROM j WHERE rn = 1) j ON l.event_id = j.eid
        |ORDER BY l.event_id""".stripMargin),

    // forward as-of with tolerance on the native exec: each purchase's
    // NEXT click within 2h (attribution lookahead) — pandas merge_asof's
    // direction/tolerance contract at sort-merge cost (plans.AsOfJoinExec)
    GateQuery("q129_native_asof_forward", (s, dir) => {
      import graft.plans.AsOf
      val ev = events(s, dir)
      val l = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"),
          round(col("value"), 6).as("purchase_value"))
      val r = ev.where(col("event_type") === "click")
        .groupBy(col("user_id").as("r_user"), col("ts").as("click_ts"))
        .agg(round(max(col("value")), 6).as("click_value"))
      AsOf.asOfJoin(l, r, Seq("user_id"), Seq("r_user"), "ts", "click_ts",
          direction = "forward", tolerance = Some(2L * 3600L * 1000000L))
        .select(col("event_id"), col("user_id"), col("ts"),
          col("purchase_value"),
          coalesce(col("click_ts"), timestamp_micros(lit(0L))).as("click_ts"),
          coalesce(col("click_value"), lit(-1.0)).as("click_value"))
        .orderBy(col("event_id"))
    },
      """WITH l AS (
        |  SELECT event_id, user_id, ts, round(value, 6) AS purchase_value
        |  FROM events WHERE event_type = 'purchase'
        |), r AS (
        |  SELECT user_id AS r_user, ts AS click_ts,
        |    round(max(value), 6) AS click_value
        |  FROM events WHERE event_type = 'click' GROUP BY user_id, ts
        |), j AS (
        |  SELECT l.event_id AS eid, r.click_ts, r.click_value,
        |    row_number() OVER (PARTITION BY l.event_id ORDER BY r.click_ts) AS rn
        |  FROM l JOIN r ON l.user_id = r.r_user
        |    AND r.click_ts >= l.ts AND r.click_ts <= l.ts + INTERVAL 2 HOUR
        |)
        |SELECT l.event_id, l.user_id, l.ts, l.purchase_value,
        |  coalesce(j.click_ts, TIMESTAMP '1970-01-01 00:00:00') AS click_ts,
        |  coalesce(j.click_value, -1.0) AS click_value
        |FROM l LEFT JOIN (SELECT * FROM j WHERE rn = 1) j ON l.event_id = j.eid
        |ORDER BY l.event_id""".stripMargin),
  )
}
