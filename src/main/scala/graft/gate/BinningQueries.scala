package graft.gate

import org.apache.spark.sql.functions._

/** Gate queries whose result comes from [[graft.operators.Binning]]. */
object BinningQueries {
  lazy val queries: Seq[GateQuery] = Seq(
    // equi-depth binning: quartile boundaries reduce once to the driver,
    // assignment is map-side comparisons (operators.Binning)
    GateQuery("q57_equidepth_bins", (s, dir) => {
      import graft.operators.Binning
      Binning.equiDepth(
        events(s, dir).select(col("event_id"), col("value")), "value", nBins = 4)
        .select(col("event_id"), col("value"), col("bin"))
        .orderBy(col("event_id"))
    },
      """WITH b AS (
        |  SELECT [round(quantile_cont(value, 0.25), 6),
        |          round(quantile_cont(value, 0.50), 6),
        |          round(quantile_cont(value, 0.75), 6)] AS bs
        |  FROM events
        |)
        |SELECT event_id, value,
        |  CAST(len(list_filter(bs, x -> x < value)) AS BIGINT) AS bin
        |FROM events, b
        |ORDER BY event_id""".stripMargin),

    // equi-width histogram, explicit [0, 500) bounds, 20 interior bins +
    // under/overflow, zero-filled empty bins (operators.Binning.histogram)
    GateQuery("q68_histogram", (s, dir) => {
      import graft.operators.Binning
      Binning.histogram(events(s, dir), "value", lo = 0.0, hi = 500.0, nBins = 20)
        // empty bins carry null min/max; sentinel for a null-free gate frame
        .withColumn("bin_min", coalesce(col("bin_min"), lit(-1.0)))
        .withColumn("bin_max", coalesce(col("bin_max"), lit(-1.0)))
        .orderBy(col("bin"))
    },
      """WITH b AS (
        |  SELECT CASE WHEN value < 0.0 THEN 0
        |              WHEN value >= 500.0 THEN 21
        |              ELSE least(CAST(floor((value - 0.0) / 25.0) + 1 AS BIGINT), 20) END AS bin,
        |    value
        |  FROM events WHERE value IS NOT NULL
        |), c AS (
        |  SELECT bin, count(*) AS n,
        |    round(min(value), 6) AS bin_min, round(max(value), 6) AS bin_max
        |  FROM b GROUP BY bin
        |)
        |SELECT t.i AS bin, coalesce(c.n, 0) AS n,
        |  coalesce(c.bin_min, -1.0) AS bin_min,
        |  coalesce(c.bin_max, -1.0) AS bin_max
        |FROM range(0, 22) t(i) LEFT JOIN c ON c.bin = t.i
        |ORDER BY bin""".stripMargin),

    // per-group equi-width histogram: one aggregation + a group x bin spine
    GateQuery("q83_histogram_by", (s, dir) => {
      import graft.operators.Binning
      Binning.histogramBy(events(s, dir), "event_type", "value",
        lo = 0.0, hi = 500.0, nBins = 10)
        .orderBy(col("group"), col("bin"))
    },
      """WITH b AS (
        |  SELECT event_type AS grp,
        |    CASE WHEN value < 0.0 THEN 0
        |         WHEN value >= 500.0 THEN 11
        |         ELSE least(CAST(floor((value - 0.0) / 50.0) + 1 AS BIGINT), 10) END AS bin
        |  FROM events WHERE value IS NOT NULL
        |), c AS (
        |  SELECT grp, bin, count(*) AS n FROM b GROUP BY grp, bin
        |), spine AS (
        |  SELECT DISTINCT event_type AS grp FROM events
        |)
        |SELECT s.grp AS "group", t.i AS bin, coalesce(c.n, 0) AS n
        |FROM spine s CROSS JOIN range(0, 12) t(i)
        |LEFT JOIN c ON c.grp = s.grp AND c.bin = t.i
        |ORDER BY "group", bin""".stripMargin),

    // mergeable histogram quantiles over events.value: two map-combined
    // passes (range + 256 bin counts, a linear sketch), interpolation on a
    // bins-sized frame — constant state where exact percentile_cont sorts
    // the full multiset; per-day histograms would merge cell-wise
    // (operators.Binning.approxQuantiles)
    GateQuery("q116_approx_quantiles", (s, dir) => {
      import graft.operators.Binning
      Binning.approxQuantiles(events(s, dir).select(col("value")), "value",
        qs = Seq(0.5, 0.9, 0.95, 0.99), nBins = 256)
        .orderBy(col("q"))
    },
      """WITH st AS (
        |  SELECT min(value) AS lo, max(value) AS hi, count(value)::BIGINT AS n
        |  FROM events
        |), counts AS (
        |  SELECT CASE WHEN hi > lo THEN
        |      least(CAST(floor((value - lo) / ((hi - lo) / 256)) AS BIGINT) + 1, 256)
        |    ELSE 1 END AS bin, count(*)::BIGINT AS cnt
        |  FROM events, st WHERE value IS NOT NULL GROUP BY 1
        |), cum AS (
        |  SELECT bin, cnt, CAST(sum(cnt) OVER (ORDER BY bin) AS BIGINT) AS cum
        |  FROM counts
        |), qs AS (
        |  SELECT unnest([CAST(0.5 AS DOUBLE), CAST(0.9 AS DOUBLE),
        |                 CAST(0.95 AS DOUBLE), CAST(0.99 AS DOUBLE)]) AS q
        |), tgt AS (
        |  SELECT q, greatest(CAST(ceil(q * n) AS BIGINT), 1) AS target, lo, hi
        |  FROM qs, st
        |), picked AS (
        |  SELECT q, target, lo, hi, min(bin) AS bin
        |  FROM tgt JOIN cum ON cum >= target GROUP BY q, target, lo, hi
        |), fin AS (
        |  SELECT p.q, p.target, p.lo, p.hi, p.bin, c.cnt, c.cum
        |  FROM picked p JOIN cum c ON p.bin = c.bin
        |)
        |SELECT q,
        |  CASE WHEN hi > lo THEN
        |    round(lo + (bin - 1) * ((hi - lo) / 256)
        |      + (CAST(target - (cum - cnt) AS DOUBLE) / cnt) * ((hi - lo) / 256), 6)
        |  ELSE lo END AS estimate,
        |  target AS rank, bin
        |FROM fin ORDER BY q""".stripMargin),
  )
}
