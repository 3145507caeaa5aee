package graft.gate

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Gate queries whose result comes from [[graft.operators.Scd]]. */
object ScdQueries {
  lazy val queries: Seq[GateQuery] = Seq(
    // SCD2 history build: per-user event_type intervals with run
    // compression — lag-filter, lead and version share ONE window shuffle
    // (operators.Scd)
    GateQuery("q48_scd2", (s, dir) => {
      import graft.operators.Scd
      Scd.scd2FromChanges(
        events(s, dir).select(col("user_id"), col("ts"), col("event_id"), col("event_type")),
        keys = Seq("user_id"), tsCol = "ts",
        trackedCols = Seq("event_type"), tieBreak = Seq("event_id"))
        // the driver's compare can't equate null timestamps (NaT != NaT in
        // numpy) — close the open interval with a sentinel. Must be ns-safe:
        // 9999-12-31 overflows parquet timestamp[ns] int64 (Spark 4 writes ns
        // by default) and silently wraps to 1816-03-29, so use 2200-01-01.
        .select(col("user_id"), col("event_type"), col("valid_from"),
          coalesce(col("valid_to"), lit("2200-01-01 00:00:00").cast("timestamp"))
            .as("valid_to"),
          col("is_current"), col("version"))
        .orderBy(col("user_id"), col("version"))
    },
      """WITH ordered AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events
        |), ch AS (
        |  SELECT user_id, ts, event_id, event_type FROM ordered
        |  WHERE prev IS DISTINCT FROM event_type
        |)
        |SELECT user_id, event_type, ts AS valid_from,
        |  coalesce(lead(ts) OVER w, TIMESTAMP '2200-01-01') AS valid_to,
        |  lead(ts) OVER w IS NULL AS is_current,
        |  CAST(row_number() OVER w AS BIGINT) AS version
        |FROM ch
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, version""".stripMargin),

    // CDC diff between the latest-event-per-user snapshot at Jan-15 and at
    // Jan-25: one PK-shuffled full outer join classifies added/changed
    // (removals can't occur on append-only events; ScdSpec covers them)
    GateQuery("q66_snapshot_diff", (s, dir) => {
      import graft.operators.Scd
      val ev = events(s, dir)
      def snap(cut: String) = {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").desc, col("event_id").desc)
        ev.where(col("ts") < lit(cut).cast("timestamp"))
          .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
          .select(col("user_id"), col("event_id"), col("event_type"))
      }
      Scd.snapshotDiff(snap("2024-01-15 00:00:00"), snap("2024-01-25 00:00:00"),
        Seq("user_id"), Seq("event_id", "event_type"))
        .orderBy(col("user_id"))
    },
      """WITH b AS (
        |  SELECT user_id, event_id, event_type FROM events
        |  WHERE ts < TIMESTAMP '2024-01-15 00:00:00'
        |  QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
        |), a AS (
        |  SELECT user_id, event_id, event_type FROM events
        |  WHERE ts < TIMESTAMP '2024-01-25 00:00:00'
        |  QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
        |)
        |SELECT coalesce(b.user_id, a.user_id) AS user_id,
        |  b.event_id AS event_id_before, a.event_id AS event_id_after,
        |  b.event_type AS event_type_before, a.event_type AS event_type_after,
        |  CASE WHEN b.user_id IS NULL THEN 'added'
        |       WHEN a.user_id IS NULL THEN 'removed'
        |       WHEN (b.event_id IS DISTINCT FROM a.event_id)
        |         OR (b.event_type IS DISTINCT FROM a.event_type) THEN 'changed'
        |  END AS change_type
        |FROM b FULL OUTER JOIN a USING (user_id)
        |WHERE CASE WHEN b.user_id IS NULL THEN 'added'
        |       WHEN a.user_id IS NULL THEN 'removed'
        |       WHEN (b.event_id IS DISTINCT FROM a.event_id)
        |         OR (b.event_type IS DISTINCT FROM a.event_type) THEN 'changed'
        |  END IS NOT NULL
        |ORDER BY user_id""".stripMargin),
  )
}
