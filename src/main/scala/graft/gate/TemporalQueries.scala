package graft.gate

import org.apache.spark.sql.functions._

/** Gate queries whose result comes from [[graft.operators.Temporal]]. */
object TemporalQueries {
  lazy val queries: Seq[GateQuery] = Seq(
    // interval (range) join without an equi key: time-bucketed equi-join
    // under the hood (operators.Temporal.intervalJoin)
    GateQuery("q35_interval_join", (s, dir) => {
      import graft.operators.Temporal
      val ev = events(s, dir).select(col("event_id"), col("ts"))
      val windows = events(s, dir)
        .select(date_trunc("day", col("ts")).as("w_start"))
        .distinct()
        .withColumn("w_end", col("w_start") + expr("INTERVAL 36 HOURS"))
      Temporal.intervalJoin(ev, "ts", windows, "w_start", "w_end", bucketWidthSec = 86400L)
        .select(col("event_id"), col("w_start"))
        .orderBy(col("event_id"), col("w_start"))
    },
      """WITH w AS (SELECT DISTINCT date_trunc('day', ts) AS w_start FROM events)
        |SELECT e.event_id, w.w_start
        |FROM events e JOIN w
        |  ON e.ts >= w.w_start AND e.ts < w.w_start + INTERVAL 36 HOUR
        |ORDER BY e.event_id, w.w_start""".stripMargin),

    // event log → regular weekly time series per user (LOCF): epoch-
    // aligned ticks generated distributively (per-key min/max +
    // sequence()), the carry-forward match through the NATIVE as-of join —
    // the log shuffles once, the tiny grid side rides the join's regime.
    // Oracle is DuckDB's own ASOF JOIN over the same generated grid
    // (operators.Temporal.resampleLocf)
    GateQuery("q149_locf_resample", (s, dir) => {
      import graft.operators.Temporal
      val obs = events(s, dir).where(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(round(max(col("value")), 6).as("v"))
      Temporal.resampleLocf(obs, Seq("user_id"), "ts", "v",
          intervalSec = 7L * 86400)
        .select(col("user_id"), col("tick"), col("obs_ts"),
          col("v").as("value"))
        .orderBy(col("user_id"), col("tick"))
    },
      // DuckDB's native ASOF JOIN over the identically-generated weekly grid:
      // first tick = span start rounded UP to a multiple of 7 days (epoch-
      // aligned), generate_series is stop-inclusive like Spark's sequence()
      """WITH obs AS (
        |  SELECT user_id, ts, round(max(value), 6) AS v
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
        |), bounds AS (
        |  SELECT user_id,
        |    make_timestamp(((epoch_us(min(ts)) + 604799999999) // 604800000000)
        |      * 604800000000) AS first_tick,
        |    max(ts) AS tmax
        |  FROM obs GROUP BY user_id
        |), grid AS (
        |  SELECT user_id,
        |    unnest(generate_series(first_tick, tmax, INTERVAL 7 DAY)) AS tick
        |  FROM bounds WHERE first_tick <= tmax
        |)
        |SELECT g.user_id, g.tick, o.ts AS obs_ts, o.v AS value
        |FROM grid g ASOF JOIN obs o
        |  ON g.user_id = o.user_id AND g.tick >= o.ts
        |ORDER BY g.user_id, g.tick""".stripMargin),

    // trailing-window anomaly detection: per-user 24h RANGE frame, prior-
    // point stats by self-subtraction, explicit-variance z-score >= 3
    GateQuery("q71_rolling_z", (s, dir) => {
      import graft.operators.Temporal
      Temporal.rollingZScore(
        events(s, dir).select(col("event_id"), col("user_id"), col("ts"), col("value")),
        Seq("user_id"), "ts", "value",
        windowSec = 86400L, minPrior = 5, zThreshold = 3.0)
        .where(col("is_anomaly"))
        .select(col("event_id"), col("user_id"), col("n_prior"),
          col("mean_prior"), col("z"))
        .orderBy(col("event_id"))
    },
      // prior-window stats by self-subtraction from a RANGE ... CURRENT ROW
      // frame; explicit (sumsq - n*mean^2)/(n-1) variance, rounded z
      """WITH w AS (
        |  SELECT event_id, user_id, value AS v,
        |    count(value) OVER win - 1 AS n,
        |    sum(value) OVER win - value AS s,
        |    sum(value * value) OVER win - value * value AS ss
        |  FROM events
        |  WINDOW win AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |    RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)
        |), z AS (
        |  SELECT event_id, user_id, n, s / n AS mean,
        |    sqrt(greatest((ss - n * (s / n) * (s / n)) / (n - 1), 0.0)) AS std, v
        |  FROM w WHERE n >= 5
        |)
        |SELECT event_id, user_id, n AS n_prior,
        |  round(mean, 4) AS mean_prior, round((v - mean) / std, 4) AS z
        |FROM z
        |WHERE std > 1e-9 AND abs(round((v - mean) / std, 4)) > 3.0
        |ORDER BY event_id""".stripMargin),

    // funnel progression signup -> click -> purchase (strictly ordered
    // first-occurrence times per user), aggregated to the stage histogram
    GateQuery("q87_funnel", (s, dir) => {
      import graft.operators.Temporal
      Temporal.funnel(events(s, dir), "user_id", "ts", "event_type",
        stages = Seq("signup", "click", "purchase"))
        .groupBy(col("stages_reached"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy(col("stages_reached"))
    },
      // first-occurrence cascade: each stage's time = min ts of its type
      // strictly after the previous stage's time
      """WITH s1 AS (
        |  SELECT user_id, min(CASE WHEN event_type = 'signup' THEN ts END) AS t1
        |  FROM events GROUP BY user_id
        |), s2 AS (
        |  SELECT e.user_id, first(t1) AS t1,
        |    min(CASE WHEN event_type = 'click' AND ts > t1 THEN ts END) AS t2
        |  FROM events e JOIN s1 ON e.user_id = s1.user_id GROUP BY e.user_id
        |), s3 AS (
        |  SELECT e.user_id, first(t1) AS t1, first(t2) AS t2,
        |    min(CASE WHEN event_type = 'purchase' AND ts > t2 THEN ts END) AS t3
        |  FROM events e JOIN s2 ON e.user_id = s2.user_id GROUP BY e.user_id
        |)
        |SELECT (CASE WHEN t1 IS NULL THEN 0 ELSE 1 END
        |      + CASE WHEN t2 IS NULL THEN 0 ELSE 1 END
        |      + CASE WHEN t3 IS NULL THEN 0 ELSE 1 END) AS stages_reached,
        |  count(*) AS n_users
        |FROM s3 GROUP BY 1 ORDER BY stages_reached""".stripMargin),
  )
}
