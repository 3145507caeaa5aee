package graft.gate

import org.apache.spark.sql.functions._

/** Gate queries whose result comes from [[graft.operators.Drift]]. */
object DriftQueries {
  lazy val queries: Seq[GateQuery] = Seq(
    // categorical drift between the first and second half of the event
    // stream: per-category smoothed probabilities + pointwise KL/PSI terms
    GateQuery("q77_category_drift", (s, dir) => {
      import graft.operators.Drift
      val ev = events(s, dir)
      val cut = lit("2024-01-15 00:00:00").cast("timestamp")
      Drift.categoryDrift(ev.where(col("ts") < cut), ev.where(col("ts") >= cut),
        col("event_type"))
        .orderBy(col("category"))
    },
      // Laplace smoothing over the union vocabulary: p = (n + 1) / (N + V)
      """WITH a AS (
        |  SELECT event_type AS category, count(*) AS n_a FROM events
        |  WHERE ts < TIMESTAMP '2024-01-15 00:00:00' GROUP BY 1
        |), b AS (
        |  SELECT event_type AS category, count(*) AS n_b FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-15 00:00:00' GROUP BY 1
        |), j AS (
        |  SELECT coalesce(a.category, b.category) AS category,
        |    coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b
        |  FROM a FULL OUTER JOIN b ON a.category = b.category
        |), t AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS v, CAST(sum(n_a) AS DOUBLE) AS na,
        |    CAST(sum(n_b) AS DOUBLE) AS nb
        |  FROM j
        |)
        |SELECT category, n_a, n_b,
        |  round((n_a + 1) / (na + v), 6) AS p_a,
        |  round((n_b + 1) / (nb + v), 6) AS p_b,
        |  round(((n_a + 1) / (na + v)) * ln(((n_a + 1) / (na + v)) / ((n_b + 1) / (nb + v))), 6) AS kl_ab_term,
        |  round(((n_b + 1) / (nb + v)) * ln(((n_b + 1) / (nb + v)) / ((n_a + 1) / (na + v))), 6) AS kl_ba_term,
        |  round((((n_a + 1) / (na + v)) - ((n_b + 1) / (nb + v)))
        |    * ln(((n_a + 1) / (na + v)) / ((n_b + 1) / (nb + v))), 6) AS psi_term
        |FROM j, t ORDER BY category""".stripMargin),

    // token-distribution drift between the en and de sub-corpora: KL both
    // ways, Jensen-Shannon, PSI — one summary row
    GateQuery("q78_token_drift", (s, dir) => {
      import graft.operators.Drift
      val docs = t(s, dir, "documents")
      Drift.tokenDrift(docs.where(col("lang") === "en"),
        docs.where(col("lang") === "de"), "text")
    },
      """WITH ta AS (
        |  SELECT unnest(regexp_extract_all(lower(text), '\S+')) AS category
        |  FROM documents WHERE lang = 'en'
        |), tb AS (
        |  SELECT unnest(regexp_extract_all(lower(text), '\S+')) AS category
        |  FROM documents WHERE lang = 'de'
        |), a AS (
        |  SELECT category, count(*) AS n_a FROM ta GROUP BY 1
        |), b AS (
        |  SELECT category, count(*) AS n_b FROM tb GROUP BY 1
        |), j AS (
        |  SELECT coalesce(a.category, b.category) AS category,
        |    coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b
        |  FROM a FULL OUTER JOIN b ON a.category = b.category
        |), t AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS v, CAST(sum(n_a) AS DOUBLE) AS na,
        |    CAST(sum(n_b) AS DOUBLE) AS nb
        |  FROM j
        |), p AS (
        |  SELECT (n_a + 1) / (na + v) AS pa, (n_b + 1) / (nb + v) AS pb
        |  FROM j, t
        |)
        |SELECT
        |  round(sum(pa * ln(pa / pb)), 6) AS kl_ab,
        |  round(sum(pb * ln(pb / pa)), 6) AS kl_ba,
        |  round(sum(pa * ln(pa / ((pa + pb) / 2)) / 2 + pb * ln(pb / ((pa + pb) / 2)) / 2), 6) AS js,
        |  round(sum((pa - pb) * ln(pa / pb)), 6) AS psi
        |FROM p""".stripMargin),

    // mutual information between event type and a user cohort (categorical
    // feature-selection signal; observed-cells-only, so every log is finite)
    GateQuery("q84_mutual_info", (s, dir) => {
      import graft.operators.Drift
      Drift.mutualInformation(events(s, dir),
        col("event_type"), pmod(col("user_id"), lit(10L)))
        // nmi is defined here (both entropies positive); coalesce anyway to
        // keep the gate frame null-free under data changes
        .withColumn("nmi", coalesce(col("nmi"), lit(-1.0)))
    },
      // observed joint cells only: p(x,y) > 0 implies both marginals > 0
      """WITH j AS (
        |  SELECT event_type AS x, CAST(user_id % 10 AS VARCHAR) AS y,
        |    count(*) AS nxy
        |  FROM events GROUP BY 1, 2
        |), nx AS (SELECT x, sum(nxy) AS nx FROM j GROUP BY x
        |), ny AS (SELECT y, sum(nxy) AS ny FROM j GROUP BY y
        |), t AS (SELECT CAST(sum(nxy) AS DOUBLE) AS n FROM j
        |), hx AS (SELECT -sum((nxy / n) * ln(nx / n)) AS hx FROM j JOIN nx USING (x), t
        |), hy AS (SELECT -sum((nxy / n) * ln(ny / n)) AS hy FROM j JOIN ny USING (y), t
        |), mi AS (
        |  SELECT sum((nxy / n) * ln(nxy * n / (nx * ny))) AS mi
        |  FROM j JOIN nx USING (x) JOIN ny USING (y), t
        |)
        |SELECT CAST(t.n AS BIGINT) AS n, round(mi.mi, 6) AS mi,
        |  CASE WHEN hx > 1e-12 AND hy > 1e-12
        |       THEN round(mi.mi / sqrt(hx * hy), 6) ELSE -1.0 END AS nmi
        |FROM t, hx, hy, mi""".stripMargin),
  )
}
