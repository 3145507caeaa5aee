package graft.gate

import org.apache.spark.sql.functions._

/** Gate queries whose result comes from [[graft.operators.Layout]]. */
object LayoutQueries {
  lazy val queries: Seq[GateQuery] = Seq(
    // Z-order layout key: Morton interleave of (user bucket, value bucket)
    // — pure shift/mask codegen arithmetic, bit-identical in any engine
    // (operators.Layout; the write path is spec-tested for file-skipping)
    GateQuery("q49_zorder_key", (s, dir) => {
      import graft.operators.Layout
      val x = pmod(col("user_id"), lit(256L))
      val y = Layout.rangeBucket(col("value"), 0.0, 512.0, bits = 8)
      events(s, dir).select(
        col("event_id"), x.as("zx"), y.as("zy"),
        Layout.mortonKey(Seq(x, y), bits = 8).as("zkey"))
        .orderBy(col("event_id"))
    },
      (
      """WITH b AS (
        |  SELECT event_id,
        |    user_id % 256 AS zx,
        |    least(greatest(CAST(floor((value - 0.0) / 512.0 * 256.0) AS BIGINT), 0), 255) AS zy
        |  FROM events
        |)
        |SELECT event_id, zx, zy, """.stripMargin +
        graft.operators.Layout.mortonKeySql(Seq("zx", "zy"), 8) +
        " AS zkey FROM b ORDER BY event_id")),

    // Z-order (Morton) clustering values over (user_id, ts_ns): the
    // multi-dimensional storage-layout primitive — rows close in BOTH
    // dimensions share a z-range, so a partition-local sort on z makes
    // parquet row-group footers selective on EITHER filter column.
    // Quantization is an exact bit shift (never double division — epoch-ns
    // exceeds 2^53), interleave is pure codegen'd column arithmetic; the
    // only non-map work is the 1-row min/max stats agg
    // (operators.Layout.zValue)
    GateQuery("q138_zorder", (s, dir) => {
      import graft.operators.Layout
      Layout.zValue(
          events(s, dir).select(col("event_id"), col("user_id"), col("ts_ns")),
          Seq("user_id", "ts_ns"), bits = 20)
        .select(col("event_id"), col("z_value"))
        .orderBy(col("event_id"))
    },
      // z-value replay: identical SIGNED bit-shift quantization (shift =
      // bitLength(span) - bits, length(bin(x)) IS bitLength; negative shift
      // = LEFT shift so a narrow dimension still fills its high interleave
      // lanes) and identical lane convention (bit i of column c lands at
      // position i*k + c; user_id is lane 0, ts_ns lane 1)
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_ns(ts) AS ts_ns FROM events
        |), st AS (
        |  SELECT min(user_id) AS mn0, max(user_id) AS mx0,
        |    min(ts_ns) AS mn1, max(ts_ns) AS mx1
        |  FROM e
        |), sh AS (
        |  SELECT mn0, mn1,
        |    CASE WHEN mx0 > mn0
        |      THEN length(bin(mx0 - mn0)) ELSE 0 END - 20 AS s0,
        |    CASE WHEN mx1 > mn1
        |      THEN length(bin(mx1 - mn1)) ELSE 0 END - 20 AS s1
        |  FROM st
        |), lv AS (
        |  SELECT event_id,
        |    CASE WHEN s0 >= 0 THEN (user_id - mn0) >> s0
        |      ELSE (user_id - mn0) << -s0 END AS l0,
        |    CASE WHEN s1 >= 0 THEN (ts_ns - mn1) >> s1
        |      ELSE (ts_ns - mn1) << -s1 END AS l1
        |  FROM e, sh
        |)
        |SELECT event_id,
        |  sum((((l0 >> i) & 1) << (2 * i)) +
        |      (((l1 >> i) & 1) << (2 * i + 1)))::BIGINT AS z_value
        |FROM lv, range(0, 20) t(i)
        |GROUP BY event_id
        |ORDER BY event_id""".stripMargin),
  )
}
