package graft.gate

import org.apache.spark.sql.functions._

/** Gate queries whose result comes from [[graft.operators.Profile]]. */
object ProfileQueries {
  lazy val queries: Seq[GateQuery] = Seq(
    // one-pass column profiling: row/null/distinct counts + ranges for four
    // orders columns in a single aggregation (operators.Profile); string
    // rendering keeps min/max comparable across engines for the long and
    // string columns profiled here
    GateQuery("q54_profile", (s, dir) => {
      import graft.operators.Profile
      Profile.profile(t(s, dir, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))
        .orderBy(col("col_name"))
    },
      """WITH p AS (
        |  SELECT 'o_orderkey' AS col_name, count(*) AS n_rows,
        |    count(*) - count(o_orderkey) AS n_nulls,
        |    count(DISTINCT o_orderkey) AS n_distinct,
        |    CAST(min(o_orderkey) AS VARCHAR) AS min_value,
        |    CAST(max(o_orderkey) AS VARCHAR) AS max_value
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_custkey', count(*), count(*) - count(o_custkey),
        |    count(DISTINCT o_custkey),
        |    CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
        |    count(DISTINCT o_orderstatus),
        |    CAST(min(o_orderstatus) AS VARCHAR), CAST(max(o_orderstatus) AS VARCHAR)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_orderpriority', count(*), count(*) - count(o_orderpriority),
        |    count(DISTINCT o_orderpriority),
        |    CAST(min(o_orderpriority) AS VARCHAR), CAST(max(o_orderpriority) AS VARCHAR)
        |  FROM orders
        |)
        |SELECT * FROM p ORDER BY col_name""".stripMargin),

    // pairwise Pearson correlations in one aggregation pass, explicit
    // raw-moment formula (no engine-specific streaming estimator)
    GateQuery("q82_correlations", (s, dir) => {
      import graft.operators.Profile
      Profile.correlations(
        events(s, dir).withColumn("ts_us", unix_micros(col("ts")).cast("double")),
        Seq("user_id", "value", "ts_us"))
        .withColumn("corr", coalesce(col("corr"), lit(-99.0))) // null-free gate
        .orderBy(col("col_a"), col("col_b"))
    },
      """WITH e AS (
        |  SELECT CAST(user_id AS DOUBLE) AS a, CAST(value AS DOUBLE) AS b,
        |    CAST(epoch_us(ts) AS DOUBLE) AS c
        |  FROM events
        |  WHERE user_id IS NOT NULL AND value IS NOT NULL AND ts IS NOT NULL
        |), s AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n,
        |    sum(a) AS sa, sum(b) AS sb, sum(c) AS sc,
        |    sum(a*a) AS qa, sum(b*b) AS qb, sum(c*c) AS qc,
        |    sum(a*b) AS xab, sum(a*c) AS xac, sum(b*c) AS xbc
        |  FROM e
        |)
        |SELECT * FROM (
        |  SELECT 'user_id' AS col_a, 'value' AS col_b, CAST(n AS BIGINT) AS n,
        |    round((n*xab - sa*sb) / (sqrt(n*qa - sa*sa) * sqrt(n*qb - sb*sb)), 4) AS corr
        |  FROM s
        |  UNION ALL
        |  SELECT 'user_id', 'ts_us', CAST(n AS BIGINT),
        |    round((n*xac - sa*sc) / (sqrt(n*qa - sa*sa) * sqrt(n*qc - sc*sc)), 4)
        |  FROM s
        |  UNION ALL
        |  SELECT 'value', 'ts_us', CAST(n AS BIGINT),
        |    round((n*xbc - sb*sc) / (sqrt(n*qb - sb*sb) * sqrt(n*qc - sc*sc)), 4)
        |  FROM s
        |) ORDER BY col_a, col_b""".stripMargin),

    // join-key skew profile of events.user_id: top-20 heaviest keys with
    // share and skew-vs-mean-occupancy — the pre-join diagnosis for a
    // 100 TB shuffle. Map-combined counts, 1-row totals broadcast,
    // TakeOrdered top-K (operators.Profile.keySkewProfile)
    GateQuery("q115_key_skew", (s, dir) => {
      import graft.operators.Profile
      Profile.keySkewProfile(events(s, dir).select(col("user_id")), "user_id",
        topK = 20)
    },
      """WITH c AS (
        |  SELECT CAST(user_id AS VARCHAR) AS key_value, count(*)::BIGINT AS n_rows
        |  FROM events GROUP BY user_id
        |), t AS (
        |  SELECT sum(n_rows)::BIGINT AS total, count(*)::BIGINT AS nd FROM c
        |)
        |SELECT key_value, n_rows,
        |  round(CAST(n_rows AS DOUBLE) / total, 6) AS share,
        |  round(CAST(n_rows * nd AS DOUBLE) / total, 6) AS skew_ratio
        |FROM c, t ORDER BY n_rows DESC, key_value ASC LIMIT 20""".stripMargin),
  )
}
