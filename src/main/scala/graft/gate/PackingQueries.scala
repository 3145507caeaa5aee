package graft.gate

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.Dedup

/** Gate queries whose result comes from [[graft.operators.Packing]]. */
object PackingQueries {
  lazy val queries: Seq[GateQuery] = Seq(
    // sequence packing: per-language token streams split into 512-token
    // training windows (operators.Packing)
    GateQuery("q56_packing", (s, dir) => {
      import graft.operators.Packing
      Packing.packSequences(
        t(s, dir, "documents").select(col("doc_id"), col("lang"), col("text")),
        shardCols = Seq(col("lang")), orderCol = col("doc_id"),
        tokenCol = TextFunctions.tokenCount(col("text")), windowTokens = 512L)
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          col("start_offset"), col("chunk_id"), col("spans_boundary"))
        .orderBy(col("doc_id"))
    },
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    CAST(coalesce(len(regexp_extract_all(text, '\S+')), 0) AS BIGINT) AS n_tokens
        |  FROM documents
        |)
        |SELECT doc_id, lang, n_tokens,
        |  CAST(sum(n_tokens) OVER w - n_tokens AS BIGINT) AS start_offset,
        |  CAST(floor((sum(n_tokens) OVER w - n_tokens) / 512.0) AS BIGINT) AS chunk_id,
        |  ((sum(n_tokens) OVER w - n_tokens) % 512 + n_tokens) > 512 AS spans_boundary
        |FROM t
        |WINDOW w AS (PARTITION BY lang ORDER BY doc_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY doc_id""".stripMargin),

    // the full training-data curation pipeline as ONE oracle-checked
    // composition — the chain a 100-TB pretraining prep actually runs:
    // Gopher quality filter (relaxed bounds for the short-doc corpus) →
    // benchmark decontamination (3-gram overlap vs docs 0-4) → exact dedup
    // (min-doc_id keeper per identical text) → deterministic per-language
    // cap (content-hash ranked, partitioning-stable) → fixed-window
    // sequence packing. Each stage is individually gate-checked
    // (q50/q52/q13/q53/q56); this entry pins their COMPOSITION end to end.
    // Scale shape: every shuffle keys on doc_id / gram-hash / lang — the
    // only window is the per-language pack, over the capped (bounded) set
    GateQuery("q140_curation_pipeline", (s, dir) => {
      import graft.operators.{Dedup, Materialize, Packing, Sampling}
      val docs = t(s, dir, "documents")
      // materialize the two multiply-consumed intermediates: without them
      // the composed plan re-scans documents.parquet once per downstream
      // branch (4 scans measured in the round-8 plan dump) and re-runs the
      // decontaminate n-gram join per branch. With them the corpus is
      // scanned exactly twice (gopher pass + the pruned benchmark slice) —
      // the same cacheAsParquet discipline the flow layer applies between
      // pipeline stages
      val filtered = Materialize(docs.where(TextFunctions.gopherPass(col("text"),
        minWords = 5L, minStopwords = 1L, minAlphaFrac = 0.5)))
      val flags = Dedup.decontaminate(filtered, "doc_id", "text",
        benchmark = docs.where(col("doc_id") < 5), benchTextCol = "text",
        n = 3, maxHits = 0L)
      val clean = Materialize(filtered.join(
        flags.where(!col("contaminated")).select("doc_id"),
        Seq("doc_id"), "left_semi"))
      val dups = Dedup.exactDuplicates(clean, "doc_id", "text")
        .select(col("dup_id").as("doc_id"))
      val deduped = clean.join(dups, Seq("doc_id"), "left_anti")
      val capped = Sampling.cappedPerKey(deduped, Seq(col("lang")),
        col("doc_id"), maxPerKey = 50)
      Packing.packSequences(
          capped.select(col("doc_id"), col("lang"), col("text")),
          shardCols = Seq(col("lang")), orderCol = col("doc_id"),
          tokenCol = TextFunctions.tokenCount(col("text")), windowTokens = 512L)
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          col("start_offset"), col("chunk_id"), col("spans_boundary"))
        .orderBy(col("doc_id"))
    },
      // the composed curation chain: q50's gopher metrics (relaxed bounds) →
      // q52's 3-gram decontamination (bench = docs 0-4 of the RAW corpus,
      // grams over the FILTERED survivors) → q13's keep-min-doc_id exact
      // dedup → q53's md5-ranked per-language cap → q56's packing window
      """WITH m AS (
        |  SELECT doc_id, lang, text,
        |    len(regexp_extract_all(text, '\S+')) AS n_words,
        |    round(CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
        |      / greatest(len(regexp_extract_all(text, '\S+')), 1), 4) AS mean_word_len,
        |    round(CAST(len(regexp_extract_all(text, '#|\.\.\.|…')) AS DOUBLE)
        |      / greatest(len(regexp_extract_all(text, '\S+')), 1), 6) AS symbol_ratio,
        |    round(CAST(len(regexp_extract_all(text, '(?m)^[ \t]*[-*•]')) AS DOUBLE)
        |      / greatest(len(string_split(text, chr(10))), 1), 6) AS bullet_frac,
        |    round(CAST(len(regexp_extract_all(text, '(?m)(\.\.\.|…)$')) AS DOUBLE)
        |      / greatest(len(string_split(text, chr(10))), 1), 6) AS ellipsis_frac,
        |    round(CAST(len(regexp_extract_all(text, '\S*\p{L}\S*')) AS DOUBLE)
        |      / greatest(len(regexp_extract_all(text, '\S+')), 1), 6) AS alpha_frac,
        |    (CASE WHEN regexp_matches(lower(text), '\bthe\b') THEN 1 ELSE 0 END
        |     + CASE WHEN regexp_matches(lower(text), '\bbe\b') THEN 1 ELSE 0 END
        |     + CASE WHEN regexp_matches(lower(text), '\bto\b') THEN 1 ELSE 0 END
        |     + CASE WHEN regexp_matches(lower(text), '\bof\b') THEN 1 ELSE 0 END
        |     + CASE WHEN regexp_matches(lower(text), '\band\b') THEN 1 ELSE 0 END
        |     + CASE WHEN regexp_matches(lower(text), '\bthat\b') THEN 1 ELSE 0 END
        |     + CASE WHEN regexp_matches(lower(text), '\bhave\b') THEN 1 ELSE 0 END
        |     + CASE WHEN regexp_matches(lower(text), '\bwith\b') THEN 1 ELSE 0 END
        |    )::BIGINT AS n_stopwords
        |  FROM documents
        |), filtered AS (
        |  SELECT doc_id, lang, text FROM m
        |  WHERE n_words >= 5 AND n_words <= 100000
        |    AND mean_word_len BETWEEN 3.0 AND 10.0
        |    AND symbol_ratio <= 0.1 AND bullet_frac <= 0.9
        |    AND ellipsis_frac <= 0.3 AND alpha_frac >= 0.5
        |    AND n_stopwords >= 1
        |), g AS (
        |  SELECT doc_id,
        |    CASE WHEN len(tk) = 0 THEN []::VARCHAR[]
        |         ELSE list_distinct(list_transform(range(1, greatest(len(tk) - 2, 1) + 1),
        |           i -> array_to_string(tk[i:i+2], ' ')))
        |    END AS grams
        |  FROM (SELECT doc_id, regexp_extract_all(text, '\S+') AS tk FROM filtered)
        |), bench AS (
        |  SELECT DISTINCT unnest(
        |    CASE WHEN len(tk) = 0 THEN []::VARCHAR[]
        |         ELSE list_distinct(list_transform(range(1, greatest(len(tk) - 2, 1) + 1),
        |           i -> array_to_string(tk[i:i+2], ' ')))
        |    END) AS gram
        |  FROM (SELECT regexp_extract_all(text, '\S+') AS tk
        |        FROM documents WHERE doc_id < 5)
        |), hits AS (
        |  SELECT ex.doc_id, count(*) AS n_hits
        |  FROM (SELECT doc_id, unnest(grams) AS gram FROM g) ex
        |  JOIN bench USING (gram) GROUP BY ex.doc_id
        |), clean AS (
        |  SELECT f.doc_id, f.lang, f.text
        |  FROM filtered f LEFT JOIN hits h USING (doc_id)
        |  WHERE coalesce(h.n_hits, 0) = 0
        |), keeper AS (
        |  SELECT min(doc_id) AS doc_id FROM clean GROUP BY md5(text)
        |), capped AS (
        |  SELECT c.doc_id, c.lang, c.text
        |  FROM clean c JOIN keeper k USING (doc_id)
        |  QUALIFY row_number() OVER (PARTITION BY c.lang
        |    ORDER BY ('0x' || substr(md5(CAST(c.doc_id AS VARCHAR)), 1, 15))::BIGINT,
        |      CAST(c.doc_id AS VARCHAR)) <= 50
        |), t2 AS (
        |  SELECT doc_id, lang,
        |    CAST(coalesce(len(regexp_extract_all(text, '\S+')), 0) AS BIGINT) AS n_tokens
        |  FROM capped
        |)
        |SELECT doc_id, lang, n_tokens,
        |  CAST(sum(n_tokens) OVER w - n_tokens AS BIGINT) AS start_offset,
        |  CAST(floor((sum(n_tokens) OVER w - n_tokens) / 512.0) AS BIGINT) AS chunk_id,
        |  ((sum(n_tokens) OVER w - n_tokens) % 512 + n_tokens) > 512 AS spans_boundary
        |FROM t2
        |WINDOW w AS (PARTITION BY lang ORDER BY doc_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY doc_id""".stripMargin),

    // length-bucketed batching: per-lang shards sort by token count and cut
    // fixed-count batches — padded-batch waste minimisation (the dynamic-
    // batching layout for encoder training / batched inference). One window
    // shuffle per shard + map-combined batch stats (Packing
    // .lengthBucketedBatches)
    GateQuery("q130_length_batches", (s, dir) => {
      import graft.operators.Packing
      import graft.functions.TextFunctions
      Packing.lengthBucketedBatches(t(s, dir, "documents"), Seq(col("lang")),
          TextFunctions.tokenCount(col("text")), col("doc_id"), batchSize = 16)
        .select(col("lang"), col("batch_idx"), col("n_docs"), col("max_tokens"),
          col("sum_tokens"), col("padding_waste"))
        .orderBy(col("lang"), col("batch_idx"))
    },
      """WITH d AS (
        |  SELECT lang, doc_id, len(regexp_extract_all(text, '\S+')) AS tok
        |  FROM documents
        |), r AS (
        |  SELECT lang, tok,
        |    (row_number() OVER (PARTITION BY lang ORDER BY tok, doc_id) - 1) // 16
        |      AS batch_idx
        |  FROM d
        |)
        |SELECT lang, batch_idx, count(*) AS n_docs, max(tok) AS max_tokens,
        |  CAST(sum(tok) AS BIGINT) AS sum_tokens,
        |  CAST(count(*) * max(tok) - sum(tok) AS BIGINT) AS padding_waste
        |FROM r GROUP BY lang, batch_idx
        |ORDER BY lang, batch_idx""".stripMargin),
  )
}
