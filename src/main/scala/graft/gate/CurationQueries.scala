package graft.gate

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Gate queries whose result comes from [[graft.operators.Curation]]. */
object CurationQueries {
  lazy val queries: Seq[GateQuery] = Seq(
    // one-call per-source curation report; the gate checks the oracle-
    // expressible columns (gopher/entropy components are gated on their
    // own as q50/q80 — Catalyst prunes their aggregates out of this plan)
    GateQuery("q81_curation_report", (s, dir) => {
      import graft.operators.Curation
      Curation.report(t(s, dir, "documents"), "source", "text")
        .select(col("source"), col("docs"), col("total_tokens"),
          col("mean_tokens"), col("mean_quality"), col("exact_dup_rate"))
        .orderBy(col("source"))
    },
      // quality formula replayed from q15; fingerprint from q14; HUGEINT sum
      // cast back to BIGINT (DuckDB sum(BIGINT) widens)
      """WITH per AS (
        |  SELECT source,
        |    len(regexp_extract_all(text, '\S+')) AS toks,
        |    round((least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
        |      + greatest(1.0 - round(CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE) / greatest(length(text), 1), 6) * 5.0, 0.0)
        |      + least(round(CAST(len(regexp_extract_all(lower(text), '\b(the|a|an|and|of|to|in|is|it|that)\b')) AS DOUBLE) / greatest(len(regexp_extract_all(text, '\S+')), 1), 6) * 4.0, 1.0)
        |     ) / 3.0, 6) AS q,
        |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |  FROM documents
        |)
        |SELECT source, count(*) AS docs,
        |  CAST(sum(toks) AS BIGINT) AS total_tokens,
        |  round(avg(toks), 4) AS mean_tokens,
        |  round(avg(q), 4) AS mean_quality,
        |  round(1.0 - CAST(count(DISTINCT fp) AS DOUBLE) / count(*), 4) AS exact_dup_rate
        |FROM per GROUP BY source ORDER BY source""".stripMargin),

    // quality-filter ablation matrix: one combination-of-verdicts row per
    // observed bitmask with its doc count — marginals, unique removals and
    // survivor counts for every single-filter ablation from ONE corpus
    // pass; shuffle is <= 2^4 rows (operators.Curation.filterAblation)
    GateQuery("q132_filter_ablation", (s, dir) => {
      import graft.operators.Curation
      import graft.functions.TextFunctions
      Curation.filterAblation(t(s, dir, "documents"), Seq(
        "f_short" -> (col("n_chars") < 200),
        "f_non_en" -> (col("lang") =!= "en"),
        "f_few_tokens" -> (TextFunctions.tokenCount(col("text")) < 30),
        "f_repetitive" -> (TextFunctions.distinctTokenRatio(col("text")) < 0.5)))
        .orderBy(col("f_short"), col("f_non_en"), col("f_few_tokens"),
          col("f_repetitive"))
    },
      """WITH f AS (
        |  SELECT
        |    n_chars < 200 AS f_short,
        |    lang <> 'en' AS f_non_en,
        |    len(regexp_extract_all(text, '\S+')) < 30 AS f_few_tokens,
        |    round(CAST(len(list_distinct(regexp_extract_all(text, '\S+'))) AS DOUBLE)
        |      / greatest(len(regexp_extract_all(text, '\S+')), 1), 4) < 0.5
        |      AS f_repetitive
        |  FROM documents
        |)
        |SELECT f_short, f_non_en, f_few_tokens, f_repetitive,
        |  count(*) AS n_docs,
        |  CAST(CAST(f_short AS INT) + CAST(f_non_en AS INT)
        |    + CAST(f_few_tokens AS INT) + CAST(f_repetitive AS INT) AS BIGINT)
        |    AS n_flagged
        |FROM f GROUP BY 1, 2, 3, 4
        |ORDER BY f_short, f_non_en, f_few_tokens, f_repetitive""".stripMargin),
  )
}
