package graft.gate

import org.apache.spark.sql.functions._

/** Gate queries whose result comes from [[graft.operators.Export]]. */
object ExportQueries {
  lazy val queries: Seq[GateQuery] = Seq(
    // shard manifest: deterministic hash-bucketed shard assignment (no
    // global row_number — one count job sizes the shard space, assignment
    // is map-side) + per-shard counts and an order-insensitive xor
    // fingerprint (operators.Export)
    GateQuery("q93_shard_manifest", (s, dir) => {
      import graft.operators.Export
      Export.shardManifest(
        Export.shardAssignment(t(s, dir, "documents").select(col("doc_id")),
          col("doc_id"), docsPerShard = 128L),
        col("doc_id"))
        .orderBy(col("shard"))
    },
      """WITH n AS (SELECT count(*) AS cnt FROM documents),
        |a AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |      % CAST(greatest((cnt + 127) // 128, 1) AS BIGINT) AS shard,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
        |  FROM documents, n
        |)
        |SELECT shard, count(*) AS n_docs, bit_xor(h) AS content_xor,
        |  min(doc_id) AS min_key, max(doc_id) AS max_key
        |FROM a GROUP BY shard ORDER BY shard""".stripMargin),

    // deterministic training-epoch shuffle: reproducible (shard, pos)
    // address per doc with NO global sort — hash sharding is map-side, the
    // only shuffle windows within shards (operators.Export.shuffleShard)
    GateQuery("q107_shuffle_shard", (s, dir) => {
      import graft.operators.Export
      Export.shuffleShard(t(s, dir, "documents").select(col("doc_id")),
        col("doc_id"), nShards = 8, epoch = 0)
        .orderBy(col("doc_id"))
    },
      // the 60-bit md5-affine rank is the same primitive as q38/q75; shard =
      // rank % 8 (rank is positive, so % == pmod), pos = in-shard hash order
      """WITH r AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(doc_id::VARCHAR || '_epoch_0'), 1, 15))::BIGINT AS rk
        |  FROM documents
        |)
        |SELECT doc_id, rk % 8 AS shard,
        |  row_number() OVER (PARTITION BY rk % 8 ORDER BY rk, doc_id::VARCHAR) AS pos
        |FROM r
        |ORDER BY doc_id""".stripMargin),
  )
}
