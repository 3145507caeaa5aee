package graft.gate

import org.apache.spark.sql.functions._

/** Gate queries whose result comes from [[graft.operators.Bpe]]. */
object BpeQueries {
  lazy val queries: Seq[GateQuery] = Seq(
    // tokenization with a LEARNED subword table: train 8 BPE merges on the
    // corpus (operators.Bpe.learnBpe — one word count, then the driver
    // trainer while the word table fits), then tokenize every document via
    // the final symbolized vocab (one equi-join + map-combined rollup; the
    // merge fold never re-runs over the corpus). Oracle unrolls the identical 8
    // training iterations in DuckDB list SQL and joins the same way.
    GateQuery("q39_bpe_tokens", (s, dir) => {
      import graft.operators.Bpe
      val docs = t(s, dir, "documents")
      val (_, vocab) = Bpe.learnBpe(docs, col("text"), numMerges = 8)
      // the returned frame joins the vocab lazily, AFTER this body exits —
      // swap learnBpe's frame (persisted when it came from distributed
      // rounds) for a localCheckpoint (blocks free on GC) so the session
      // never accumulates unreleasable cache entries
      val flat = vocab.localCheckpoint(true)
      vocab.unpersist()
      // no floor on this train => nothing is OOV; keep the pre-round-13
      // 4-column shape (q161 gates the OOV/floor path with its mass column)
      Bpe.tokenizeWithVocab(docs, col("doc_id"), col("text"), flat)
        .select(col("doc_id"), col("n_tok"), col("n_words"), col("fertility"))
        .orderBy(col("doc_id"))
    },
      bpeTokenizeOracle),

    // BPE serving with a FLOOR-TRUNCATED vocab — the recommended 100 TB
    // train path (minCount tail truncation). floor = doc count puts the
    // corpus's rare word(s) out-of-vocab, so tokenization MUST take the
    // OOV fallback (the applyMerges fold over the DISTINCT unseen words —
    // vocab-sized work) instead of silently dropping the tail, and report
    // the OOV token mass per doc. Oracle replays the same 8 training
    // iterations with pair COUNTING restricted to retained words while
    // merge APPLICATION covers every word — for sub-floor words that per-
    // iteration application is exactly the rank-order applyMerges fold
    GateQuery("q161_bpe_oov", (s, dir) => {
      import graft.operators.Bpe
      val docs = t(s, dir, "documents")
      val floor = docs.count()
      val (merges, vocab) = Bpe.learnBpeLocalFromCounts(
        Bpe.wordCounts(docs, col("text")), numMerges = 8, minCount = floor)
      val flat = vocab.localCheckpoint(true)
      vocab.unpersist()
      Bpe.tokenizeWithVocab(docs, col("doc_id"), col("text"), flat, merges)
        .orderBy(col("doc_id"))
    },
      bpeOovOracle),

    // BPE merge LEARNING (the training half of a subword tokenizer): 8
    // iterations of adjacent-pair counting over the vocab-sized word table
    // + an argmax each, on the driver while the table fits, as Spark rounds
    // past the cap. Deterministic tie-break (count DESC, lhs ASC, rhs ASC);
    // the oracle replays the same iterations with relational run-parity
    // greedy merge application (operators.Bpe.learnBpe)
    GateQuery("q102_bpe_learn", (s, dir) => {
      import graft.operators.Bpe
      val (merges, vocab) = Bpe.learnBpe(t(s, dir, "documents"), col("text"), numMerges = 8)
      vocab.unpersist()
      Bpe.mergesDf(s, merges).orderBy(col("rank"))
    },
      bpeLearnOracle),
  )

  /** One unrolled BPE training iteration for the q39/q102 oracles. Mirrors
    * [[graft.operators.Bpe]] exactly: pc = map-combined adjacent-pair
    * counts, b = 1-row argmax (count DESC, pair ASC), s = greedy
    * left-to-right non-overlapping merge application. The greedy pass is
    * relational here (run-parity: within a run of consecutive matching
    * positions only even offsets merge — provably identical to the Scala
    * side's fold, since a freshly merged symbol can never re-match as the
    * pair's left element). */
  private def bpeIterBlock(i: Int, floored: Boolean = false): String = {
    val prev = s"s${i - 1}"
    // floored: pair COUNTING sees only retained (cnt >= floor) words —
    // minCount-truncated training — while merge APPLICATION below still
    // covers every word, so sub-floor words end up with exactly the
    // rank-order applyMerges fold (the serving-time OOV fallback)
    val floorPred = if (floored) " AND cnt >= (SELECT f FROM fl)" else ""
    s"""
       |pc$i AS (
       |  SELECT pr.s1 AS s1, pr.s2 AS s2, CAST(sum(cnt) AS BIGINT) AS pcnt FROM (
       |    SELECT cnt, unnest(list_transform(generate_series(1, len(syms)-1),
       |      i -> {'s1': syms[i], 's2': syms[i+1]})) AS pr
       |    FROM $prev WHERE len(syms) > 1$floorPred
       |  ) GROUP BY 1, 2
       |),
       |b$i AS (SELECT s1 AS l, s2 AS r, pcnt FROM pc$i ORDER BY pcnt DESC, s1, s2 LIMIT 1),
       |s$i AS (
       |  SELECT word, cnt,
       |    list_filter(
       |      list_transform(generate_series(1, len(syms)), i ->
       |        CASE WHEN act[i] THEN syms[i] || syms[i+1]
       |             WHEN i > 1 AND act[i-1] THEN NULL
       |             ELSE syms[i] END),
       |      x -> x IS NOT NULL) AS syms
       |  FROM (
       |    SELECT word, cnt, syms,
       |      list_transform(generate_series(1, len(syms)), i ->
       |        m[i] AND ((i - coalesce(list_max(list_filter(generate_series(1, i-1),
       |          p -> NOT m[p])), 0) - 1) % 2 = 0)) AS act
       |    FROM (
       |      SELECT word, cnt, syms,
       |        list_transform(generate_series(1, len(syms)), i ->
       |          i < len(syms) AND syms[i] = b.l AND syms[i+1] = b.r) AS m
       |      FROM $prev, b$i b
       |    )
       |  )
       |)""".stripMargin
  }

  private val bpeNumMerges = 8

  /** Shared CTE prefix: word counts, char symbolisation, 8 unrolled
    * iterations. `s8` = every distinct word fully tokenised with the
    * learned table; `b1..b8` = the merge sequence. `floored` trains on the
    * minCount-truncated corpus (floor = doc count via the `fl` CTE) while
    * still applying merges to every word — the q161 OOV-serving replay. */
  private def bpeTrainingCtes(floored: Boolean): String =
    (if (floored)
       "WITH fl AS (SELECT CAST(count(*) AS BIGINT) AS f FROM documents),\n"
     else "WITH ") +
      """w0 AS (
      |  SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (
      |    SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word FROM documents
      |  ) GROUP BY word
      |),
      |s0 AS (
      |  SELECT word, cnt,
      |    list_transform(generate_series(1, len(word)), i -> word[i]) AS syms
      |  FROM w0
      |),""".stripMargin +
      (1 to bpeNumMerges).map(i => bpeIterBlock(i, floored)).mkString(",")

  private val bpeLearnOracle: String =
    bpeTrainingCtes(floored = false) + "\n" +
      (1 to bpeNumMerges)
        .map(i => s"SELECT $i AS rank, l AS lhs, r AS rhs, l || r AS merged, pcnt AS pair_count FROM b$i")
        .mkString("\nUNION ALL ") +
      "\nORDER BY rank"

  private val bpeTokenizeOracle: String =
    bpeTrainingCtes(floored = false) + s""",
      |dw AS (
      |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
      |  FROM documents
      |),
      |bpeagg AS (
      |  SELECT dw.doc_id AS doc_id, CAST(sum(len(s.syms)) AS BIGINT) AS n_tok,
      |         CAST(count(*) AS BIGINT) AS n_words
      |  FROM dw JOIN s$bpeNumMerges s ON dw.word = s.word GROUP BY 1
      |)
      |SELECT d.doc_id AS doc_id, coalesce(a.n_tok, 0) AS n_tok,
      |  coalesce(a.n_words, 0) AS n_words,
      |  round(CAST(coalesce(a.n_tok, 0) AS DOUBLE)
      |    / greatest(coalesce(a.n_words, 0), 1), 4) AS fertility
      |FROM documents d LEFT JOIN bpeagg a ON d.doc_id = a.doc_id
      |ORDER BY doc_id""".stripMargin

  /** q161: floored training replay (merges learned from retained words
    * only), then tokenize EVERY word from the shared s8 — sub-floor words
    * carry the same 8 merges applied in rank order, i.e. the serving-time
    * applyMerges fallback — and roll up their token mass as n_oov_tok. */
  private val bpeOovOracle: String =
    bpeTrainingCtes(floored = true) + s""",
      |dw AS (
      |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
      |  FROM documents
      |),
      |bpeagg AS (
      |  SELECT dw.doc_id AS doc_id, CAST(sum(len(s.syms)) AS BIGINT) AS n_tok,
      |         CAST(count(*) AS BIGINT) AS n_words,
      |         CAST(coalesce(sum(CASE WHEN s.cnt < (SELECT f FROM fl)
      |           THEN len(s.syms) END), 0) AS BIGINT) AS n_oov_tok
      |  FROM dw JOIN s$bpeNumMerges s ON dw.word = s.word GROUP BY 1
      |)
      |SELECT d.doc_id AS doc_id, coalesce(a.n_tok, 0) AS n_tok,
      |  coalesce(a.n_words, 0) AS n_words,
      |  round(CAST(coalesce(a.n_tok, 0) AS DOUBLE)
      |    / greatest(coalesce(a.n_words, 0), 1), 4) AS fertility,
      |  coalesce(a.n_oov_tok, 0) AS n_oov_tok
      |FROM documents d LEFT JOIN bpeagg a ON d.doc_id = a.doc_id
      |ORDER BY doc_id""".stripMargin
}
