package graft.gate

import org.apache.spark.sql.functions._

/** Gate queries whose result comes from [[graft.operators.Trend]]. */
object TrendQueries {
  lazy val queries: Seq[GateQuery] = Seq(
    // per-segment OLS drift trend: six map-combined sufficient statistics
    // per group, closed-form slope/intercept/R² — the shuffle carries
    // |groups|×6 doubles whatever the corpus size; x centered at the
    // corpus epoch (days since 2024-01-01) so n·Σx²−(Σx)² keeps precision
    // (operators.Trend.groupTrend)
    GateQuery("q119_value_trend", (s, dir) => {
      import graft.operators.Trend
      val x = (expr("ts_ns div 1000") - lit(1704067200000000L)).cast("double") /
        lit(86400000000.0)
      Trend.groupTrend(events(s, dir).withColumn("x", x),
        Seq(col("event_type")), col("x"), col("value"))
        .orderBy(col("event_type"))
    },
      // same closed forms over the same six sufficient statistics; x is
      // centered days-since-2024-01-01 computed from exact integer µs on
      // both sides, so the only cross-engine difference is float-sum order
      // (absorbed by round 6)
      """WITH e AS (
        |  SELECT event_type,
        |    CAST(epoch_us(ts) - 1704067200000000 AS DOUBLE)
        |      / 86400000000.0 AS x,
        |    value AS y
        |  FROM events
        |), a AS (
        |  SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
        |    sum(x) AS sx, sum(y) AS sy,
        |    sum(x*x) AS sxx, sum(y*y) AS syy, sum(x*y) AS sxy
        |  FROM e GROUP BY event_type
        |)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        |  round(CASE WHEN n*sxx - sx*sx > 0
        |    THEN (n*sxy - sx*sy) / (n*sxx - sx*sx) END, 6) AS slope,
        |  round(CASE WHEN n*sxx - sx*sx > 0
        |    THEN (sy - ((n*sxy - sx*sy) / (n*sxx - sx*sx)) * sx) / n END, 6)
        |    AS intercept,
        |  round(CASE WHEN n*sxx - sx*sx > 0 AND n*syy - sy*sy > 0
        |    THEN (n*sxy - sx*sy) * (n*sxy - sx*sy)
        |      / ((n*sxx - sx*sx) * (n*syy - sy*sy)) END, 6) AS r2
        |FROM a ORDER BY event_type""".stripMargin),
  )
}
