package graft.gate

import org.apache.spark.sql.functions._

/** Gate queries whose result comes from [[graft.operators.Outliers]]. */
object OutliersQueries {
  lazy val queries: Seq[GateQuery] = Seq(
    // robust per-group outlier flags (median/MAD z-score): group stats
    // reduce twice to a tiny broadcast relation, the flagging pass is
    // map-side (operators.Outliers)
    GateQuery("q63_outliers", (s, dir) => {
      import graft.operators.Outliers
      Outliers.robustZ(
        events(s, dir).select(col("event_id"), col("event_type"), col("value")),
        Seq("event_type"), "value", k = 3.0)
        .orderBy(col("event_id"))
    },
      // median/MAD spelled with the same arithmetic shape as the Spark side
      // so the rounded z doubles agree bit-for-bit
      """WITH med AS (
        |  SELECT event_type, median(value) AS m FROM events GROUP BY event_type
        |), mad AS (
        |  SELECT e.event_type, median(abs(e.value - med.m)) AS d
        |  FROM events e JOIN med USING (event_type) GROUP BY e.event_type
        |)
        |SELECT e.event_id, e.event_type, e.value,
        |  CASE WHEN mad.d = 0 THEN NULL
        |       ELSE round(abs(e.value - med.m) / (1.4826 * mad.d), 6) END AS robust_z,
        |  coalesce(CASE WHEN mad.d = 0 THEN NULL
        |       ELSE round(abs(e.value - med.m) / (1.4826 * mad.d), 6) END > 3.0,
        |    false) AS outlier
        |FROM events e JOIN med USING (event_type) JOIN mad USING (event_type)
        |ORDER BY e.event_id""".stripMargin),

    // winsorization: clip values to per-group [p5, p95] exact percentiles —
    // broadcast-stats map-side clipping (operators.Outliers.winsorize)
    GateQuery("q72_winsorize", (s, dir) => {
      import graft.operators.Outliers
      Outliers.winsorize(
        events(s, dir).select(col("event_id"), col("event_type"), col("value")),
        Seq("event_type"), "value", pLo = 0.05, pHi = 0.95)
        .select(col("event_id"), col("event_type"), col("value_w"), col("clipped"))
        .orderBy(col("event_id"))
    },
      // quantile_cont matches Spark's exact `percentile` interpolation
      """WITH b AS (
        |  SELECT event_type,
        |    round(quantile_cont(value, 0.05), 6) AS lo,
        |    round(quantile_cont(value, 0.95), 6) AS hi
        |  FROM events GROUP BY event_type
        |)
        |SELECT event_id, e.event_type,
        |  round(least(greatest(value, lo), hi), 6) AS value_w,
        |  (value < lo OR value > hi) AS clipped
        |FROM events e JOIN b USING (event_type)
        |ORDER BY event_id""".stripMargin),
  )
}
