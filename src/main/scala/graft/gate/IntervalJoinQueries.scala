package graft.gate

import org.apache.spark.sql.functions._

/** Gate queries whose result comes from [[graft.plans.IntervalJoin]]. */
object IntervalJoinQueries {
  lazy val queries: Seq[GateQuery] = Seq(
    // native keyed interval join: purchases inside [click_ts, click_ts+6h)
    // per user — custom LogicalPlan + strategy + single-sweep exec
    // (plans/IntervalJoin.scala). The bucketed compose (q35) replicates each
    // interval once per bucket it spans; this shuffles each side exactly
    // once and keeps state bounded by per-key interval overlap
    GateQuery("q125_native_interval_join", (s, dir) => {
      import graft.plans.IntervalJoin
      val ev = events(s, dir)
      val p = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"),
          round(col("value"), 6).as("purchase_value"))
      val iv = ev.where(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("click_ts"))
        .distinct()
        .withColumn("click_end", col("click_ts") + expr("INTERVAL 6 HOURS"))
      IntervalJoin.intervalJoin(p, iv, Seq("user_id"), Seq("c_user"),
        "ts", "click_ts", "click_end")
        .select(col("event_id"), col("user_id"), col("ts"),
          col("purchase_value"), col("click_ts"))
        .orderBy(col("event_id"), col("click_ts"))
    },
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
