package graft.gate

import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Gate queries whose result comes from [[graft.operators.Ranking]]. */
object RankingQueries {
  lazy val queries: Seq[GateQuery] = Seq(
    // BM25 relevance for a query-term bag: corpus stats (N, total length,
    // per-term df) reduce in one bounded pass; the score is then map-side
    // only — no shuffle of document data (operators.Ranking)
    GateQuery("q43_bm25", (s, dir) => {
      import graft.operators.Ranking
      Ranking.bm25(t(s, dir, "documents"), "doc_id", "text",
        terms = Seq("spark", "window", "join"))
        .orderBy(col("doc_id"))
    },
      // BM25: corpus stats from exact integer sums (identical in any engine);
      // idf rounded to 6 decimals on both sides so libm-vs-JVM ln ulps cannot
      // surface; term order in the score sum is fixed left-to-right
      """WITH d AS (
        |  SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM documents
        |), s AS (
        |  SELECT count(*) AS n, CAST(sum(len(toks)) AS BIGINT) AS total,
        |    sum(CASE WHEN list_contains(toks, 'spark') THEN 1 ELSE 0 END) AS df0,
        |    sum(CASE WHEN list_contains(toks, 'window') THEN 1 ELSE 0 END) AS df1,
        |    sum(CASE WHEN list_contains(toks, 'join') THEN 1 ELSE 0 END) AS df2
        |  FROM d
        |)
        |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |  round(
        |    round(ln((n - df0 + 0.5) / (df0 + 0.5) + 1), 6) * tf0 * 2.2
        |      / (tf0 + 1.2 * (0.25 + 0.75 * (CAST(len(toks) AS DOUBLE) / (CAST(total AS DOUBLE) / n))))
        |  + round(ln((n - df1 + 0.5) / (df1 + 0.5) + 1), 6) * tf1 * 2.2
        |      / (tf1 + 1.2 * (0.25 + 0.75 * (CAST(len(toks) AS DOUBLE) / (CAST(total AS DOUBLE) / n))))
        |  + round(ln((n - df2 + 0.5) / (df2 + 0.5) + 1), 6) * tf2 * 2.2
        |      / (tf2 + 1.2 * (0.25 + 0.75 * (CAST(len(toks) AS DOUBLE) / (CAST(total AS DOUBLE) / n)))), 4) AS bm25
        |FROM (
        |  SELECT doc_id, toks,
        |    CAST(len(list_filter(toks, x -> x = 'spark')) AS DOUBLE) AS tf0,
        |    CAST(len(list_filter(toks, x -> x = 'window')) AS DOUBLE) AS tf1,
        |    CAST(len(list_filter(toks, x -> x = 'join')) AS DOUBLE) AS tf2
        |  FROM d), s
        |ORDER BY doc_id""".stripMargin),

    // whole-vocabulary TF-IDF, top-3 terms per doc: map-combined tf shuffle,
    // df as a window count (no vocab self-join), top-k window
    // (operators.Ranking.tfIdfTopTerms)
    GateQuery("q51_tfidf", (s, dir) => {
      import graft.operators.Ranking
      Ranking.tfIdfTopTerms(t(s, dir, "documents"), "doc_id", "text", topK = 3)
        .orderBy(col("doc_id"), col("rank"))
    },
      // idf rounded to 6 decimals BEFORE the tf multiply on both sides, so the
      // ranking doubles are bit-identical despite libm-vs-JVM ln differences
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS term FROM documents
        |), tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term
        |), wdf AS (
        |  SELECT doc_id, term, tf, count(*) OVER (PARTITION BY term) AS df FROM tf
        |), n AS (SELECT count(*) AS n FROM documents)
        |SELECT doc_id, term, tf, df,
        |  round(CAST(tf AS DOUBLE) * round(ln(CAST(n AS DOUBLE) / CAST(df AS DOUBLE)), 6), 6) AS score,
        |  CAST(row_number() OVER (PARTITION BY doc_id
        |    ORDER BY round(CAST(tf AS DOUBLE) * round(ln(CAST(n AS DOUBLE) / CAST(df AS DOUBLE)), 6), 6) DESC,
        |      term ASC) AS BIGINT) AS rank
        |FROM wdf, n
        |QUALIFY rank <= 3
        |ORDER BY doc_id, rank""".stripMargin),

    // corpus vocabulary with cumulative coverage: distributed TopK prunes
    // the vocab BEFORE the single-partition prefix-sum window
    // (operators.Ranking.vocabulary)
    GateQuery("q64_vocabulary", (s, dir) => {
      import graft.operators.Ranking
      Ranking.vocabulary(t(s, dir, "documents"), "text", topN = 100)
        .orderBy(col("rank"))
    },
      """WITH tok AS (
        |  SELECT unnest(regexp_extract_all(text, '\S+')) AS term FROM documents
        |), tf AS (
        |  SELECT term, count(*) AS n FROM tok GROUP BY term
        |), tot AS (
        |  SELECT CAST(sum(n) AS DOUBLE) AS total FROM tf
        |)
        |SELECT term, n, CAST(row_number() OVER o AS BIGINT) AS rank,
        |  round(CAST(sum(n) OVER (ORDER BY n DESC, term ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / total, 6) AS cum_frac
        |FROM tf, tot
        |WINDOW o AS (ORDER BY n DESC, term ASC)
        |QUALIFY rank <= 100
        |ORDER BY rank""".stripMargin),

    // persisted BM25 postings index over the audit-table storage layer:
    // two ingest days (day 2 re-ingests docs 0-49 with an extra token —
    // the PK snapshot must serve the REPLACED posting lists), retrieval
    // derives contributions from stored postings without re-tokenizing
    // (operators.SparseIndex + Ranking.bm25Retrieve)
    GateQuery("q159_sparse_index_retrieval", (s, dir) => {
      import s.implicits._
      import graft.operators.SparseIndex
      val base = scratchDir("graft-q159")
      val docs = t(s, dir, "documents").where(col("doc_id") < 500)
        .select(col("doc_id"), col("text"))
      val ts = java.sql.Timestamp.valueOf(_: String)
      val t0 = SparseIndex.openOrCreate(s, base)
      val t1 = SparseIndex.indexBatch(t0, docs.where(col("doc_id") < 250),
        "doc_id", "text", ts("2024-01-01 00:00:00"))
      val t2 = SparseIndex.indexBatch(t1,
        docs.where(col("doc_id") >= 250).unionByName(
          docs.where(col("doc_id") < 50)
            .withColumn("text", concat(col("text"), lit(" spark")))),
        "doc_id", "text", ts("2024-01-02 00:00:00"))
      val idx = SparseIndex.bm25IndexAsOf(t2, ts("2024-01-03 00:00:00"))
      val qs = Seq(
        (1L, "spark window join"),
        (2L, "data quality pipeline"),
        (3L, "the and of")).toDF("query_id", "qtext")
      graft.operators.Ranking.bm25Retrieve(idx, qs, "query_id", "qtext", k = 5)
        .orderBy(col("query_id"), col("rank"))
    },
      // persisted sparse index: the oracle never sees the audit table — it
      // replays the LIVE corpus state (docs < 500, first 50 re-ingested with
      // an appended token) through the q157 BM25 SQL; PK-replace, postings
      // storage and contribution re-derivation must all be right to match
      """WITH base AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id < 50 THEN text || ' spark' ELSE text END AS text
        |  FROM documents WHERE doc_id < 500
        |), q(query_id, qtext) AS (VALUES
        |  (1, 'spark window join'),
        |  (2, 'data quality pipeline'),
        |  (3, 'the and of')
        |), dd AS (
        |  SELECT doc_id, regexp_extract_all(text, '\S+') AS toks,
        |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS dl
        |  FROM base
        |), st AS (
        |  SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS total FROM dd
        |), p AS (
        |  SELECT term, doc_id, count(*) AS tf, max(dl) AS dl
        |  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM dd)
        |  GROUP BY term, doc_id
        |), df AS (
        |  SELECT term, count(*) AS df FROM p GROUP BY term
        |), qt AS (
        |  SELECT DISTINCT query_id, unnest(regexp_extract_all(qtext, '\S+')) AS term FROM q
        |), qd AS (
        |  SELECT query_id, qt.term,
        |    round(ln((n - df + 0.5) / (df + 0.5) + 1), 6) AS idf, n, total
        |  FROM qt JOIN df ON qt.term = df.term, st
        |), c AS (
        |  SELECT query_id, doc_id,
        |    CAST(round(round(idf * CAST(tf AS DOUBLE) * 2.2
        |      / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75
        |        * (CAST(dl AS DOUBLE) / (CAST(total AS DOUBLE) / n)))), 6)
        |      * 1000000.0) AS BIGINT) AS ci
        |  FROM p JOIN qd ON p.term = qd.term
        |), s AS (
        |  SELECT query_id, doc_id, CAST(sum(ci) AS BIGINT) AS si
        |  FROM c GROUP BY query_id, doc_id
        |), r AS (
        |  SELECT query_id, doc_id, CAST(si AS DOUBLE) / 1000000.0 AS score,
        |    row_number() OVER (PARTITION BY query_id ORDER BY si DESC, doc_id ASC) AS rank
        |  FROM s
        |)
        |SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rank AS BIGINT) AS rank,
        |  doc_id, score
        |FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin),

    // multi-query BM25 retrieval through an inverted-index plan: postings
    // build in one map-combined shuffle, the query-term idf frame
    // broadcasts, per-term contributions sum as exact integer micro-units,
    // per-query top-5 rides the k-bounded graft_topk aggregate
    // (operators.Ranking.bm25TopK)
    GateQuery("q157_bm25_retrieval", (s, dir) => {
      import s.implicits._
      val qs = Seq(
        (1L, "spark window join"),
        (2L, "data quality pipeline"),
        (3L, "the and of")).toDF("query_id", "qtext")
      graft.operators.Ranking.bm25TopK(
        t(s, dir, "documents"), "doc_id", "text", qs, "query_id", "qtext", k = 5)
        .orderBy(col("query_id"), col("rank"))
    },
      // BM25 retrieval: idf rounds to 6 in-DAG, each term contribution
      // rounds to 6 and sums as integer micro-units (order-free), ranks
      // replay as row_number(si DESC, doc_id ASC)
      """WITH q(query_id, qtext) AS (VALUES
        |  (1, 'spark window join'),
        |  (2, 'data quality pipeline'),
        |  (3, 'the and of')
        |), dd AS (
        |  SELECT doc_id, regexp_extract_all(text, '\S+') AS toks,
        |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS dl
        |  FROM documents
        |), st AS (
        |  SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS total FROM dd
        |), p AS (
        |  SELECT term, doc_id, count(*) AS tf, max(dl) AS dl
        |  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM dd)
        |  GROUP BY term, doc_id
        |), df AS (
        |  SELECT term, count(*) AS df FROM p GROUP BY term
        |), qt AS (
        |  SELECT DISTINCT query_id, unnest(regexp_extract_all(qtext, '\S+')) AS term FROM q
        |), qd AS (
        |  SELECT query_id, qt.term,
        |    round(ln((n - df + 0.5) / (df + 0.5) + 1), 6) AS idf, n, total
        |  FROM qt JOIN df ON qt.term = df.term, st
        |), c AS (
        |  SELECT query_id, doc_id,
        |    CAST(round(round(idf * CAST(tf AS DOUBLE) * 2.2
        |      / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75
        |        * (CAST(dl AS DOUBLE) / (CAST(total AS DOUBLE) / n)))), 6)
        |      * 1000000.0) AS BIGINT) AS ci
        |  FROM p JOIN qd ON p.term = qd.term
        |), s AS (
        |  SELECT query_id, doc_id, CAST(sum(ci) AS BIGINT) AS si
        |  FROM c GROUP BY query_id, doc_id
        |), r AS (
        |  SELECT query_id, doc_id, CAST(si AS DOUBLE) / 1000000.0 AS score,
        |    row_number() OVER (PARTITION BY query_id ORDER BY si DESC, doc_id ASC) AS rank
        |  FROM s
        |)
        |SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rank AS BIGINT) AS rank,
        |  doc_id, score
        |FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin),

    // unigram-LM surprisal quality signal: corpus-fitted token frequencies,
    // mean -ln p(token) per doc (operators.Ranking.unigramSurprisal)
    GateQuery("q73_unigram_surprisal", (s, dir) => {
      import graft.operators.Ranking
      Ranking.unigramSurprisal(t(s, dir, "documents"), "doc_id", "text")
        // token-less docs carry a null score; sentinel keeps the gate frame
        // null-free
        .withColumn("avg_surprisal", coalesce(col("avg_surprisal"), lit(-1.0)))
        .orderBy(col("doc_id"))
    },
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '\S+')) AS term
        |  FROM documents
        |), vocab AS (
        |  SELECT term, count(*) AS c FROM tok GROUP BY term
        |), tot AS (
        |  SELECT CAST(sum(c) AS DOUBLE) AS n FROM vocab
        |), s AS (
        |  SELECT doc_id, count(*) AS n_tokens,
        |    round(avg(-ln(c / n)), 4) AS avg_surprisal
        |  FROM tok JOIN vocab USING (term), tot GROUP BY doc_id
        |)
        |SELECT d.doc_id, coalesce(s.n_tokens, 0) AS n_tokens,
        |  coalesce(s.avg_surprisal, -1.0) AS avg_surprisal
        |FROM documents d LEFT JOIN s USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),

    // top-50 adjacent-token collocations by PMI (BPE merge-candidate
    // scoring); PMI rounds BEFORE ranking so libm last-ulp differences
    // cannot flip near-equal ranks
    GateQuery("q88_collocations", (s, dir) => {
      import graft.operators.Ranking
      Ranking.collocations(t(s, dir, "documents"), "text",
        minCount = 5L, topK = 50)
        .orderBy(col("rank"))
    },
      """WITH t AS (
        |  SELECT regexp_extract_all(lower(text), '\S+') AS arr FROM documents
        |), u AS (
        |  SELECT tok, count(*) AS n FROM (SELECT unnest(arr) AS tok FROM t) GROUP BY tok
        |), n1 AS (
        |  SELECT CAST(sum(n) AS DOUBLE) AS n1 FROM u
        |), pairs AS (
        |  SELECT z[1] AS a, z[2] AS b
        |  FROM (SELECT unnest(list_zip(arr, arr[2:])) AS z FROM t)
        |  WHERE z[2] IS NOT NULL
        |), bi AS (
        |  SELECT a, b, count(*) AS n_ab FROM pairs GROUP BY a, b
        |  HAVING count(*) >= 5
        |), n2 AS (
        |  SELECT CAST(sum(greatest(len(arr) - 1, 0)) AS DOUBLE) AS n2 FROM t
        |), scored AS (
        |  SELECT bi.a, bi.b, bi.n_ab,
        |    round(ln((n_ab / n2) / ((ua.n / n1) * (ub.n / n1))), 6) AS pmi
        |  FROM bi JOIN u ua ON bi.a = ua.tok JOIN u ub ON bi.b = ub.tok, n1, n2
        |)
        |SELECT a, b, n_ab, pmi,
        |  CAST(row_number() OVER (ORDER BY pmi DESC, a ASC, b ASC) AS BIGINT) AS rank
        |FROM scored QUALIFY rank <= 50 ORDER BY rank""".stripMargin),

    // bigram-LM surprisal (CCNet-style perplexity filtering, one step past
    // q73's unigram): add-1-smoothed P(b|a) fitted on the corpus itself;
    // token-less/1-token docs carry the -1 sentinel
    // (operators.Ranking.bigramSurprisal)
    GateQuery("q95_bigram_surprisal", (s, dir) => {
      import graft.operators.Ranking
      Ranking.bigramSurprisal(t(s, dir, "documents"), "doc_id", "text")
        .withColumn("avg_surprisal", coalesce(col("avg_surprisal"), lit(-1.0)))
        .orderBy(col("doc_id"))
    },
      """WITH tok AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS t FROM documents
        |), big AS (
        |  SELECT doc_id, unnest(list_zip(t[1:len(t)-1], t[2:len(t)])) AS z
        |  FROM tok WHERE len(t) >= 2
        |), b2 AS (
        |  SELECT doc_id, z[1] AS a, z[2] AS b FROM big
        |), lm AS (
        |  SELECT a, b, count(*) AS c_ab FROM b2 GROUP BY a, b
        |), ctx AS (
        |  SELECT a, CAST(sum(c_ab) AS BIGINT) AS c_a FROM lm GROUP BY a
        |), v AS (
        |  SELECT CAST(count(DISTINCT tk) AS DOUBLE) AS vs
        |  FROM (SELECT unnest(t) AS tk FROM tok)
        |), prof AS (
        |  SELECT doc_id, a, b, count(*) AS cnt FROM b2 GROUP BY doc_id, a, b
        |), s AS (
        |  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_bigrams,
        |    round(sum(cnt * -ln((c_ab + 1.0) / (c_a + 1.0 * vs)))
        |      / sum(cnt), 4) AS avg_surprisal
        |  FROM prof JOIN lm USING (a, b) JOIN ctx USING (a), v GROUP BY doc_id
        |)
        |SELECT d.doc_id, coalesce(s.n_bigrams, 0) AS n_bigrams,
        |  coalesce(s.avg_surprisal, -1.0) AS avg_surprisal
        |FROM documents d LEFT JOIN s USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),

    // per-source score calibration: percent-rank of n_chars WITHIN each
    // source, so one global threshold cuts every source at the same
    // quantile — one keyed window shuffle, no global sort
    // (operators.Ranking.calibrateWithinGroup)
    GateQuery("q98_calibrated_quality", (s, dir) => {
      import graft.operators.Ranking
      Ranking.calibrateWithinGroup(
        t(s, dir, "documents").select(col("doc_id"), col("source"), col("n_chars")),
        groupCols = Seq("source"), score = col("n_chars"), tieBreak = col("doc_id"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id, source, n_chars,
        |  round(percent_rank() OVER (PARTITION BY source
        |    ORDER BY n_chars ASC, doc_id ASC), 6) AS calibrated
        |FROM documents ORDER BY doc_id""".stripMargin),

    // top-3 events by value per type via the custom bounded graft_topk
    // AGGREGATE (sql.TopKPairs): <= k pairs of buffer per group, merged
    // map-side — the hottest key combines before the shuffle where the
    // row_number window (the oracle's formulation) drags every row of it
    // through one task (operators.Ranking.topKPerKey)
    GateQuery("q118_topk_per_key", (s, dir) => {
      import graft.operators.Ranking
      Ranking.topKPerKey(events(s, dir), Seq(col("event_type")),
        col("value"), col("event_id"), k = 3)
        .orderBy(col("event_type"), col("rank"))
    },
      """SELECT event_type, CAST(rn AS BIGINT) AS rank, value AS score,
        |  event_id AS id
        |FROM (
        |  SELECT event_type, event_id, value,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY value DESC, event_id ASC) AS rn
        |  FROM events)
        |WHERE rn <= 3 ORDER BY event_type, rank""".stripMargin),

    // retrieval evaluation: nDCG@10 of the exact-cosine system against
    // deterministic synthetic judgments (rel keyed on id arithmetic so
    // DuckDB recomputes them) — graded-relevance twin of the q117 MRR
    // gate. DCG/IDCG are exact long sums of integer discount units
    // (operators.Ranking.ndcgAtK): no float accumulation order anywhere
    GateQuery("q145_ndcg", (s, dir) => {
      import graft.operators.{Ranking, Similarity}
      val emb = t(s, dir, "embeddings")
      val results = Similarity.bruteForceTopK(emb,
          emb.where(col("vec_id") < 5), "vec_id", "embedding", k = 10)
        .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
      val qrels = emb.select(col("vec_id").as("doc_id"))
        .crossJoin(broadcast(
          emb.where(col("vec_id") < 5).select(col("vec_id").as("query_id"))))
        .select(col("query_id"), col("doc_id"),
          when((col("doc_id") + col("query_id")) % 7 === 0, lit(3L))
            .when((col("doc_id") + col("query_id")) % 7 === 1, lit(1L))
            .otherwise(lit(0L)).as("rel"))
      Ranking.ndcgAtK(results, qrels, k = 10)
        .select(col("query_id"), col("dcg_units"), col("idcg_units"),
          coalesce(col("ndcg"), lit(-1.0)).as("ndcg"))
        .orderBy(col("query_id"))
    },
      // full replay: cosine top-10 ranks, id-arithmetic judgments, and the
      // SAME hardcoded integer discount units (1e9/log2(rank+1), fixed on
      // the driver in Ranking.ndcgAtK so neither engine's libm is in play)
      """WITH disc AS (
        |  SELECT rnk, CAST(units AS BIGINT) AS units FROM (VALUES
        |    (1, 1000000000), (2, 630929754), (3, 500000000), (4, 430676558),
        |    (5, 386852807), (6, 356207187), (7, 333333333), (8, 315464877),
        |    (9, 301029996), (10, 289064826)) AS t(rnk, units)
        |), q AS (
        |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS q_vec
        |  FROM embeddings WHERE vec_id < 5
        |), s AS (
        |  SELECT query_id, vec_id AS doc_id,
        |    round(list_dot_product(CAST(embedding AS DOUBLE[]), q_vec)
        |      / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |                               CAST(embedding AS DOUBLE[])))
        |         * sqrt(list_dot_product(q_vec, q_vec))), 6) AS cos
        |  FROM embeddings, q WHERE vec_id <> query_id
        |), res AS (
        |  SELECT query_id, doc_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, doc_id ASC) AS rnk
        |  FROM s QUALIFY rnk <= 10
        |), qrels AS (
        |  SELECT q.query_id, e.vec_id AS doc_id,
        |    CASE (e.vec_id + q.query_id) % 7 WHEN 0 THEN 3 WHEN 1 THEN 1
        |      ELSE 0 END AS rel
        |  FROM embeddings e, q
        |), dcg AS (
        |  SELECT r.query_id,
        |    CAST(sum((CASE coalesce(j.rel, 0) WHEN 3 THEN 7 WHEN 1 THEN 1
        |      ELSE 0 END) * d.units) AS BIGINT) AS dcg_units
        |  FROM res r
        |  JOIN disc d ON d.rnk = r.rnk
        |  LEFT JOIN qrels j ON j.query_id = r.query_id AND j.doc_id = r.doc_id
        |  GROUP BY r.query_id
        |), ideal AS (
        |  SELECT query_id, rel,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY rel DESC, doc_id ASC) AS ir
        |  FROM qrels WHERE rel > 0 QUALIFY ir <= 10
        |), idcg AS (
        |  SELECT i.query_id,
        |    CAST(sum((CASE i.rel WHEN 3 THEN 7 WHEN 1 THEN 1 ELSE 0 END)
        |      * d.units) AS BIGINT) AS idcg_units
        |  FROM ideal i JOIN disc d ON d.rnk = i.ir
        |  GROUP BY i.query_id
        |)
        |SELECT dcg.query_id, dcg.dcg_units,
        |  coalesce(idcg.idcg_units, 0) AS idcg_units,
        |  CASE WHEN coalesce(idcg.idcg_units, 0) > 0
        |    THEN round(CAST(dcg.dcg_units AS DOUBLE)
        |      / CAST(idcg.idcg_units AS DOUBLE), 6)
        |    ELSE -1.0 END AS ndcg
        |FROM dcg LEFT JOIN idcg ON idcg.query_id = dcg.query_id
        |ORDER BY dcg.query_id""".stripMargin),

    // binary-relevance twin of q145: precision/recall@10 of the same
    // system against the same judgments (rel > 0 = relevant) — pure
    // integer counting, ratios rounded once
    // (operators.Ranking.precisionRecallAtK)
    GateQuery("q146_precision_recall", (s, dir) => {
      import graft.operators.{Ranking, Similarity}
      val emb = t(s, dir, "embeddings")
      val results = Similarity.bruteForceTopK(emb,
          emb.where(col("vec_id") < 5), "vec_id", "embedding", k = 10)
        .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
      val qrels = emb.select(col("vec_id").as("doc_id"))
        .crossJoin(broadcast(
          emb.where(col("vec_id") < 5).select(col("vec_id").as("query_id"))))
        .select(col("query_id"), col("doc_id"),
          when((col("doc_id") + col("query_id")) % 7 === 0, lit(3L))
            .when((col("doc_id") + col("query_id")) % 7 === 1, lit(1L))
            .otherwise(lit(0L)).as("rel"))
      Ranking.precisionRecallAtK(results, qrels, k = 10)
        .select(col("query_id"), col("n_hits"), col("n_relevant"),
          col("precision_at_k"),
          coalesce(col("recall_at_k"), lit(-1.0)).as("recall_at_k"))
        .orderBy(col("query_id"))
    },
      // same cosine ranks and judgments as q145; hits/relevant counted as
      // integers, the two ratios rounded once
      """WITH q AS (
        |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS q_vec
        |  FROM embeddings WHERE vec_id < 5
        |), s AS (
        |  SELECT query_id, vec_id AS doc_id,
        |    round(list_dot_product(CAST(embedding AS DOUBLE[]), q_vec)
        |      / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |                               CAST(embedding AS DOUBLE[])))
        |         * sqrt(list_dot_product(q_vec, q_vec))), 6) AS cos
        |  FROM embeddings, q WHERE vec_id <> query_id
        |), res AS (
        |  SELECT query_id, doc_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, doc_id ASC) AS rnk
        |  FROM s QUALIFY rnk <= 10
        |), rel AS (
        |  SELECT q.query_id, e.vec_id AS doc_id
        |  FROM embeddings e, q
        |  WHERE (e.vec_id + q.query_id) % 7 IN (0, 1)
        |), h AS (
        |  SELECT r.query_id, count(*) AS n_hits
        |  FROM res r JOIN rel j
        |    ON j.query_id = r.query_id AND j.doc_id = r.doc_id
        |  GROUP BY r.query_id
        |), t AS (
        |  SELECT query_id, count(*) AS n_relevant FROM rel GROUP BY query_id
        |)
        |SELECT q.query_id,
        |  coalesce(h.n_hits, 0) AS n_hits,
        |  coalesce(t.n_relevant, 0) AS n_relevant,
        |  round(CAST(coalesce(h.n_hits, 0) AS DOUBLE) / 10, 6) AS precision_at_k,
        |  CASE WHEN coalesce(t.n_relevant, 0) > 0
        |    THEN round(CAST(coalesce(h.n_hits, 0) AS DOUBLE) / t.n_relevant, 6)
        |    ELSE -1.0 END AS recall_at_k
        |FROM q
        |LEFT JOIN h ON h.query_id = q.query_id
        |LEFT JOIN t ON t.query_id = q.query_id
        |ORDER BY q.query_id""".stripMargin),

    // hybrid retrieval: BM25 lexical top-20 and exact-cosine vector top-20
    // fused by reciprocal-rank fusion (operators.Ranking.rrfFuse) — the
    // combiner every hybrid search stack runs. Both lists are k-bounded
    // retrieval outputs, the fusion sums INTEGER micro-units (no float
    // accumulation order), docs and embeddings align 1:1 by id
    GateQuery("q144_hybrid_rrf", (s, dir) => {
      import graft.operators.{Ranking, Similarity}
      val bm = Ranking.bm25(t(s, dir, "documents"), "doc_id", "text",
        Seq("spark", "window", "join"))
      val lexical = Ranking.topKPerKey(bm, Seq(lit(1).as("__g")),
          col("bm25"), col("doc_id"), k = 20)
        .select(col("id").as("doc_id"), col("rank"))
      val emb = t(s, dir, "embeddings")
      val vector = Similarity.bruteForceTopK(emb,
          emb.where(col("vec_id") === 0), "vec_id", "embedding", k = 20)
        .select(col("neighbor_id").as("doc_id"), col("rank"))
      Ranking.rrfFuse(Seq(lexical, vector), "doc_id", "rank", topK = 10)
        .orderBy(col("rank"))
    },
      // full replay: q43's BM25 ranked top-20, q20-style cosine top-20 for
      // query 0, RRF-fused in integer micro-units with the same tie orders
      """WITH d AS (
        |  SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM documents
        |), s AS (
        |  SELECT count(*) AS n, CAST(sum(len(toks)) AS BIGINT) AS total,
        |    sum(CASE WHEN list_contains(toks, 'spark') THEN 1 ELSE 0 END) AS df0,
        |    sum(CASE WHEN list_contains(toks, 'window') THEN 1 ELSE 0 END) AS df1,
        |    sum(CASE WHEN list_contains(toks, 'join') THEN 1 ELSE 0 END) AS df2
        |  FROM d
        |), bmscore AS (
        |  SELECT doc_id,
        |    round(
        |      round(ln((n - df0 + 0.5) / (df0 + 0.5) + 1), 6) * tf0 * 2.2
        |        / (tf0 + 1.2 * (0.25 + 0.75 * (CAST(len(toks) AS DOUBLE) / (CAST(total AS DOUBLE) / n))))
        |    + round(ln((n - df1 + 0.5) / (df1 + 0.5) + 1), 6) * tf1 * 2.2
        |        / (tf1 + 1.2 * (0.25 + 0.75 * (CAST(len(toks) AS DOUBLE) / (CAST(total AS DOUBLE) / n))))
        |    + round(ln((n - df2 + 0.5) / (df2 + 0.5) + 1), 6) * tf2 * 2.2
        |        / (tf2 + 1.2 * (0.25 + 0.75 * (CAST(len(toks) AS DOUBLE) / (CAST(total AS DOUBLE) / n)))), 4) AS bm25
        |  FROM (
        |    SELECT doc_id, toks,
        |      CAST(len(list_filter(toks, x -> x = 'spark')) AS DOUBLE) AS tf0,
        |      CAST(len(list_filter(toks, x -> x = 'window')) AS DOUBLE) AS tf1,
        |      CAST(len(list_filter(toks, x -> x = 'join')) AS DOUBLE) AS tf2
        |    FROM d), s
        |), lex AS (
        |  SELECT doc_id,
        |    row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS rnk
        |  FROM bmscore QUALIFY rnk <= 20
        |), qv AS (
        |  SELECT CAST(embedding AS DOUBLE[]) AS q_vec
        |  FROM embeddings WHERE vec_id = 0
        |), vec AS (
        |  SELECT doc_id,
        |    row_number() OVER (ORDER BY cos DESC, doc_id ASC) AS rnk
        |  FROM (
        |    SELECT vec_id AS doc_id,
        |      round(list_dot_product(CAST(embedding AS DOUBLE[]), q_vec)
        |        / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |                                 CAST(embedding AS DOUBLE[])))
        |           * sqrt(list_dot_product(q_vec, q_vec))), 6) AS cos
        |    FROM embeddings, qv WHERE vec_id <> 0)
        |  QUALIFY rnk <= 20
        |), u AS (
        |  SELECT doc_id, CAST(round(1e9 / (60 + rnk)) AS BIGINT) AS units FROM lex
        |  UNION ALL
        |  SELECT doc_id, CAST(round(1e9 / (60 + rnk)) AS BIGINT) AS units FROM vec
        |), f AS (
        |  SELECT doc_id, CAST(sum(units) AS BIGINT) AS rrf_units,
        |    count(*) AS n_lists
        |  FROM u GROUP BY doc_id
        |)
        |SELECT CAST(row_number() OVER (ORDER BY rrf_units DESC, doc_id ASC) AS BIGINT) AS rank,
        |  doc_id, rrf_units, n_lists
        |FROM f QUALIFY rank <= 10
        |ORDER BY rank""".stripMargin),

    // DSIR importance log-weights: hashed-unigram likelihood ratio of the
    // English (target) slice vs the raw corpus — resampling ∝ exp(weight)
    // tilts a crawl toward the target domain with no classifier training.
    // Bucket counts map-combine to ≤1024 rows, the score table broadcasts,
    // the only real shuffle keys on doc_id (operators.Ranking.dsirLogWeights)
    GateQuery("q126_dsir_weights", (s, dir) => {
      import graft.operators.Ranking
      Ranking.dsirLogWeights(t(s, dir, "documents"), "doc_id", "text",
        isTarget = col("lang") === "en", buckets = 1024)
        .orderBy(col("doc_id"))
    },
      """WITH prof AS (
        |  SELECT doc_id, tgt, bucket, count(*) AS cnt
        |  FROM (SELECT doc_id, tgt,
        |          ('0x' || substr(md5(tok), 1, 8))::BIGINT % 1024 AS bucket
        |        FROM (SELECT doc_id,
        |                CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS tgt,
        |                unnest(regexp_extract_all(lower(text), '\S+')) AS tok
        |              FROM documents))
        |  GROUP BY doc_id, tgt, bucket
        |), counts AS (
        |  SELECT bucket, CAST(sum(cnt) AS BIGINT) AS raw_n,
        |    CAST(sum(tgt * cnt) AS BIGINT) AS tgt_n
        |  FROM prof GROUP BY bucket
        |), totals AS (
        |  SELECT CAST(sum(raw_n) AS DOUBLE) AS raw_t,
        |    CAST(sum(tgt_n) AS DOUBLE) AS tgt_t FROM counts
        |), scores AS (
        |  SELECT bucket,
        |    ln((tgt_n + 1.0) / (tgt_t + 1024.0))
        |      - ln((raw_n + 1.0) / (raw_t + 1024.0)) AS sc
        |  FROM counts, totals
        |), per_doc AS (
        |  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens,
        |    round(sum(cnt * sc), 4) AS log_weight
        |  FROM prof JOIN scores USING (bucket) GROUP BY doc_id
        |)
        |SELECT d.doc_id, coalesce(p.n_tokens, 0) AS n_tokens,
        |  coalesce(p.log_weight, 0) AS log_weight
        |FROM documents d LEFT JOIN per_doc p USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),
  )
}
