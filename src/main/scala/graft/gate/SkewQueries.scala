package graft.gate

import org.apache.spark.sql.functions._

/** Gate queries whose result comes from [[graft.operators.Skew]]. */
object SkewQueries {
  lazy val queries: Seq[GateQuery] = Seq(
    // salted skew join: the salt spreads hot user_ids over n reducers and is
    // invisible in the result — oracle is the plain join
    GateQuery("q37_skew_join", (s, dir) => {
      import graft.operators.Skew
      val ev = events(s, dir).select(col("event_id"), col("user_id"), col("value"))
      val dim = t(s, dir, "customer")
        .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
      Skew.saltedJoin(ev, dim, Seq("user_id"), saltBuckets = 8)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("total_value"))
        .orderBy(col("c_mktsegment"))
    },
      """SELECT c_mktsegment, count(*) AS n_events,
        |  round(sum(value), 2) AS total_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),

    // the SALTED fact x fact hot-key path of the native as-of join
    // (operators.Skew.saltedAsOfJoin): same query as q124, routed through
    // a 8-way content salt on the fact side with the click side replicated
    // per salt — the oracle is the SAME plain ASOF JOIN, pinning that the
    // salt is invisible in the result
    GateQuery("q141_salted_asof", (s, dir) => {
      import graft.operators.Skew
      val ev = events(s, dir)
      val l = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"),
          round(col("value"), 6).as("purchase_value"))
      val r = ev.where(col("event_type") === "click")
        .groupBy(col("user_id").as("r_user"), col("ts").as("click_ts"))
        .agg(round(max(col("value")), 6).as("click_value"))
      Skew.saltedAsOfJoin(l, r, Seq("user_id"), Seq("r_user"),
          "ts", "click_ts", saltBuckets = 8)
        .select(col("event_id"), col("user_id"), col("ts"),
          col("purchase_value"),
          coalesce(col("click_ts"), timestamp_micros(lit(0L))).as("click_ts"),
          coalesce(col("click_value"), lit(-1.0)).as("click_value"))
        .orderBy(col("event_id"))
    },
      // the salted path must be result-identical to the plain as-of: the
      // oracle IS q124's plain ASOF JOIN (no salt anywhere in it)
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

    // the SALTED hot-key path of the native interval join
    // (operators.Skew.saltedIntervalJoin) — q141's twin: same query as
    // q125, routed through an 8-way content salt with the interval side
    // replicated per salt; the oracle is the SAME plain interval join,
    // pinning that the salt leaves the pair multiset untouched
    GateQuery("q142_salted_interval", (s, dir) => {
      import graft.operators.Skew
      val ev = events(s, dir)
      val p = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"),
          round(col("value"), 6).as("purchase_value"))
      val iv = ev.where(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("click_ts"))
        .distinct()
        .withColumn("click_end", col("click_ts") + expr("INTERVAL 6 HOURS"))
      Skew.saltedIntervalJoin(p, iv, Seq("user_id"), Seq("c_user"),
          "ts", "click_ts", "click_end", saltBuckets = 8)
        .select(col("event_id"), col("user_id"), col("ts"),
          col("purchase_value"), col("click_ts"))
        .orderBy(col("event_id"), col("click_ts"))
    },
      // the salted path must be result-identical to the plain interval
      // join: the oracle IS q125's plain containment join (no salt in it)
      """WITH p AS (
        |  SELECT event_id, user_id, ts, round(value, 6) AS purchase_value
        |  FROM events WHERE event_type = 'purchase'
        |), c AS (
        |  SELECT DISTINCT user_id AS c_user, ts AS click_ts
        |  FROM events WHERE event_type = 'click'
        |)
        |SELECT p.event_id, p.user_id, p.ts, p.purchase_value, c.click_ts
        |FROM p JOIN c ON p.user_id = c.c_user
        |  AND p.ts >= c.click_ts AND p.ts < c.click_ts + INTERVAL 6 HOUR
        |ORDER BY p.event_id, c.click_ts""".stripMargin),
  )
}
