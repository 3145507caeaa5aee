package graft.gate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Gate queries that round-trip an [[graft.storage.AuditTable]] through
  * append, compaction and snapshot reads. */
object StorageQueries {
  lazy val queries: Seq[GateQuery] = Seq(
    // Audit-table upsert semantics verified against a relational oracle:
    // batch1 = one signup row per user, batch2 = latest purchase per user,
    // snapshot(after both) = batch2 where present else batch1.
    GateQuery("q24_storage_snapshot", (s, dir) => storageRoundTrip(s, dir, compactFirst = false),
      storageOracleSql),

    GateQuery("q25_storage_compact", (s, dir) => storageRoundTrip(s, dir, compactFirst = true),
      storageOracleSql),

    // bloom-pruned PK point lookup over the z-compacted table: sidecar
    // region pruning + snapshotPoint, answer identical to the full
    // snapshot restricted to the probed keys (storage/AuditTable.scala)
    GateQuery("q139_point_lookup", (s, dir) =>
      storageRoundTrip(s, dir, compactFirst = true, pointLookup = true),
      // the point variant restricts the identical snapshot to the 20 lowest
      // user_ids ≡ 0 (mod 7) — the keys the Spark side probes
      (storageOracleSql.stripSuffix("ORDER BY u.user_id") +
        "WHERE u.user_id % 7 = 0 ORDER BY u.user_id LIMIT 20")),
  )

  /** Ingest two event-derived batches into a fresh audit table and snapshot.
    * Exercises append, hive-partitioned region layout, window dedup and
    * (optionally) compaction inside the driver's correctness gate. The
    * `pointLookup` variant (q139) opts into PK bloom sidecars, z-orders
    * the compacted region, and reads back through `snapshotPoint` — the
    * bloom-pruned point path — for the 20 lowest user_ids ≡ 0 (mod 7). */
  private def storageRoundTrip(s: SparkSession, dir: String, compactFirst: Boolean,
      pointLookup: Boolean = false): DataFrame = {
    import graft.storage._
    import org.apache.spark.sql.expressions.Window
    val base = scratchDir("graft-q24")
    val ev = events(s, dir)
    // coalesce the small post-shuffle batches so each appended region is a
    // handful of right-sized files, not one tiny file per shuffle partition
    val batch1 = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id"))
      .agg(min(col("event_id")).as("ref_event"))
      .withColumn("src", lit("signup"))
      .coalesce(4)
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts").desc, col("event_id").desc)
    val batch2 = ev.filter(col("event_type") === "purchase")
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("user_id"), col("event_id").as("ref_event"), lit("purchase").as("src"))
      .coalesce(4)

    val meta = if (pointLookup) Map(AuditTable.PkBloomKey -> "true")
      else Map.empty[String, String]
    val t0 = Storage.getOrCreateTable(s, base,
      AuditTableInfo("user_state", Seq("user_id"), meta, retainHistory = true))
    val t1 = t0.append(batch1, None, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
    val t2 = t1.append(batch2, None, java.sql.Timestamp.valueOf("2024-01-02 00:00:00"))
    val t3 = if (compactFirst)
      t2.compact(java.sql.Timestamp.valueOf("2024-01-03 00:00:00"),
        partitioner = TotalCellsPartitioner(),
        zOrderBy = if (pointLookup) Seq("user_id", "ref_event") else Nil)
    else t2
    val asOf = java.sql.Timestamp.valueOf("2024-06-01 00:00:00")
    if (!pointLookup)
      t3.snapshot(asOf).get
        .select(col("user_id"), col("ref_event"), col("src"))
        .orderBy(col("user_id"))
    else {
      val keys = t3.snapshot(asOf).get
        .where(pmod(col("user_id"), lit(7L)) === 0L)
        .select(col("user_id")).orderBy(col("user_id")).limit(20)
        .collect().map(_.getLong(0)).toSeq
      t3.snapshotPoint(asOf, keys.map(Seq(_)))
        .get
        .select(col("user_id"), col("ref_event"), col("src"))
        .orderBy(col("user_id"))
    }
  }

  private val storageOracleSql: String =
    """WITH b1 AS (
      |  SELECT user_id, min(event_id) AS ref_event, 'signup' AS src
      |  FROM events WHERE event_type = 'signup' GROUP BY user_id
      |), b2 AS (
      |  SELECT user_id, event_id AS ref_event, 'purchase' AS src
      |  FROM events WHERE event_type = 'purchase'
      |  QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
      |), all_u AS (
      |  SELECT user_id FROM b1 UNION SELECT user_id FROM b2
      |)
      |SELECT u.user_id,
      |  coalesce(b2.ref_event, b1.ref_event) AS ref_event,
      |  coalesce(b2.src, b1.src) AS src
      |FROM all_u u
      |LEFT JOIN b1 ON u.user_id = b1.user_id
      |LEFT JOIN b2 ON u.user_id = b2.user_id
      |ORDER BY u.user_id""".stripMargin
}
