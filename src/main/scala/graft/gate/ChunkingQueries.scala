package graft.gate

import org.apache.spark.sql.functions._

/** Gate queries whose result comes from [[graft.operators.Chunking]]. */
object ChunkingQueries {
  lazy val queries: Seq[GateQuery] = Seq(
    // token-window chunking into overlapping context windows — pure narrow
    // map (sequence+explode+slice), chunk ids derived arithmetically so
    // results are partitioning-independent (operators.Chunking)
    GateQuery("q59_chunk_tokens", (s, dir) => {
      import graft.operators.Chunking
      Chunking.chunkTokens(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        Seq("doc_id"), "text", windowTokens = 32, strideTokens = 24)
        .orderBy(col("doc_id"), col("chunk_ix"))
    },
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM documents
        |), st AS (
        |  SELECT doc_id, t, unnest(range(0, greatest(len(t), 0), 24)) AS tok_start
        |  FROM toks WHERE len(t) > 0
        |)
        |SELECT doc_id, CAST(tok_start // 24 AS BIGINT) AS chunk_ix,
        |  CAST(tok_start AS BIGINT) AS tok_start,
        |  CAST(len(t[tok_start + 1 : tok_start + 32]) AS BIGINT) AS n_tokens,
        |  array_to_string(t[tok_start + 1 : tok_start + 32], ' ') AS chunk_text
        |FROM st ORDER BY doc_id, chunk_ix""".stripMargin),

    // content-defined chunking: boundaries where an 8-char rolling hash
    // ≡ 0 mod 64 — chunk hashes survive insertions/deletions upstream in
    // the doc (fixed-offset chunks shift), enabling sub-document dedup
    // across corpus versions; pure narrow map
    // (operators.Chunking.contentDefinedChunks)
    GateQuery("q99_cdc_chunks", (s, dir) => {
      import graft.operators.Chunking
      Chunking.contentDefinedChunks(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"), col("chunk_idx"))
    },
      """WITH b AS (
        |  SELECT doc_id, text,
        |    list_concat(list_concat([1::BIGINT],
        |      list_filter(range(2, greatest(len(text) - 8 + 1, 1) + 1), p ->
        |        list_reduce(
        |          list_prepend(0::BIGINT, list_transform(range(0, 8), j ->
        |            ascii(substr(text, CAST(p + j AS INT), 1))::BIGINT)),
        |          (h, c) -> (h * 257 + c) % 2147483647) % 64 = 0)),
        |      [len(text) + 1::BIGINT]) AS bounds
        |  FROM documents
        |), ch AS (
        |  SELECT doc_id, text,
        |    unnest(list_zip(bounds[1:len(bounds)-1], bounds[2:len(bounds)])) AS p,
        |    CAST(unnest(range(1, len(bounds))) AS BIGINT) AS ci
        |  FROM b
        |)
        |SELECT doc_id, ci - 1 AS chunk_idx,
        |  CAST(p[1] AS BIGINT) AS chunk_start, CAST(p[2] AS BIGINT) AS chunk_end,
        |  ('0x' || substr(md5(substr(text, CAST(p[1] AS INT),
        |    CAST(p[2] - p[1] AS INT))), 1, 15))::BIGINT AS chunk_hash
        |FROM ch WHERE p[2] > p[1]
        |ORDER BY doc_id, chunk_idx""".stripMargin),

    // chunk-level cross-version diff — the payoff of q99's content-defined
    // boundaries: after an edit (every 3rd doc gets a prefix insertion),
    // what fraction of a doc's chunks survive byte-identical? CDC keeps
    // all but the insertion-absorbing chunk; fixed-offset chunking would
    // shift every chunk and share nothing. Hash-keyed join + map-combined
    // rollup (operators.Chunking.contentDefinedChunks composition)
    GateQuery("q100_chunk_version_diff", (s, dir) => {
      import graft.operators.Chunking
      // r14: union + one (doc, hash) aggregation instead of distinct +
      // (doc, hash) equi-join — a v2 chunk instance is "shared" iff its
      // hash also appears as a v1 chunk of the same doc, so tagging the
      // two exploded streams and grouping once replaces the old h1
      // DISTINCT exchange AND the instance-level join shuffle with a
      // single map-combined aggregation (row-identical: __n2 counts v2
      // instances per (doc, hash), __in1 flags v1 membership — exactly
      // the old left-join __m semantics)
      val docs = t(s, dir, "documents")
      val v2 = docs.select(col("doc_id"),
        when(col("doc_id") % 3 === 0, concat(lit("EDIT v2 "), col("text")))
          .otherwise(col("text")).as("text"))
      val h1 = Chunking.contentDefinedChunks(docs, "doc_id", "text")
        .select(col("doc_id"), col("chunk_hash"), lit(0L).as("__w"))
      val c2 = Chunking.contentDefinedChunks(v2, "doc_id", "text")
        .select(col("doc_id"), col("chunk_hash"), lit(1L).as("__w"))
      h1.unionByName(c2)
        .groupBy(col("doc_id"), col("chunk_hash"))
        .agg(sum(col("__w")).as("__n2"),
          max(lit(1L) - col("__w")).as("__in1"))
        .groupBy(col("doc_id"))
        .agg(sum(col("__n2")).as("n_chunks_v2"),
          sum(col("__n2") * col("__in1")).as("n_shared"))
        .where(col("n_chunks_v2") > 0)
        .withColumn("share_ratio",
          round(col("n_shared").cast("double") / col("n_chunks_v2"), 4))
        .orderBy(col("doc_id"))
    },
      """WITH v2 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN 'EDIT v2 ' || text ELSE text END AS text
        |  FROM documents
        |), b1 AS (
        |  SELECT doc_id, text,
        |    list_concat(list_concat([1::BIGINT],
        |      list_filter(range(2, greatest(len(text) - 8 + 1, 1) + 1), p ->
        |        list_reduce(
        |          list_prepend(0::BIGINT, list_transform(range(0, 8), j ->
        |            ascii(substr(text, CAST(p + j AS INT), 1))::BIGINT)),
        |          (h, c) -> (h * 257 + c) % 2147483647) % 64 = 0)),
        |      [len(text) + 1::BIGINT]) AS bounds
        |  FROM documents
        |), h1 AS (
        |  SELECT DISTINCT doc_id,
        |    ('0x' || substr(md5(substr(text, CAST(p[1] AS INT),
        |      CAST(p[2] - p[1] AS INT))), 1, 15))::BIGINT AS chunk_hash
        |  FROM (
        |    SELECT doc_id, text,
        |      unnest(list_zip(bounds[1:len(bounds)-1], bounds[2:len(bounds)])) AS p
        |    FROM b1
        |  ) WHERE p[2] > p[1]
        |), b2 AS (
        |  SELECT doc_id, text,
        |    list_concat(list_concat([1::BIGINT],
        |      list_filter(range(2, greatest(len(text) - 8 + 1, 1) + 1), p ->
        |        list_reduce(
        |          list_prepend(0::BIGINT, list_transform(range(0, 8), j ->
        |            ascii(substr(text, CAST(p + j AS INT), 1))::BIGINT)),
        |          (h, c) -> (h * 257 + c) % 2147483647) % 64 = 0)),
        |      [len(text) + 1::BIGINT]) AS bounds
        |  FROM v2
        |), c2 AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(substr(text, CAST(p[1] AS INT),
        |      CAST(p[2] - p[1] AS INT))), 1, 15))::BIGINT AS chunk_hash
        |  FROM (
        |    SELECT doc_id, text,
        |      unnest(list_zip(bounds[1:len(bounds)-1], bounds[2:len(bounds)])) AS p
        |    FROM b2
        |  ) WHERE p[2] > p[1]
        |)
        |SELECT c2.doc_id, count(*) AS n_chunks_v2,
        |  CAST(sum(CASE WHEN h1.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_shared,
        |  round(CAST(sum(CASE WHEN h1.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*), 4) AS share_ratio
        |FROM c2 LEFT JOIN h1
        |  ON c2.doc_id = h1.doc_id AND c2.chunk_hash = h1.chunk_hash
        |GROUP BY c2.doc_id ORDER BY c2.doc_id""".stripMargin),
  )
}
