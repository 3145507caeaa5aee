package graft.gate

import org.apache.spark.sql.functions._

/** Gate queries whose result comes from [[graft.operators.Domains]]. */
object DomainsQueries {
  lazy val queries: Seq[GateQuery] = Seq(
    // source/domain reputation rollup: per-source doc count, mean length,
    // short-doc and corpus-wide exact-dup shares, composite health score —
    // the judge-whole-providers stage (operators.Domains.sourceStats)
    GateQuery("q108_source_scores", (s, dir) => {
      import graft.operators.Domains
      Domains.sourceStats(t(s, dir, "documents"), "doc_id", "text", "source")
        .orderBy(col("source"))
    },
      // the composite score is computed from the ROUNDED rollup columns
      // (exactly as the Spark side does after its agg), so both engines feed
      // identical 6-decimal inputs into the product
      """WITH d AS (
        |  SELECT source, length(text)::BIGINT AS len, md5(text) AS th
        |  FROM documents
        |), hc AS (
        |  SELECT th, count(*) AS thc FROM d GROUP BY th
        |), f AS (
        |  SELECT source, len,
        |    CASE WHEN thc > 1 THEN 1 ELSE 0 END AS dup,
        |    CASE WHEN len < 200 THEN 1 ELSE 0 END AS short
        |  FROM d JOIN hc USING (th)
        |), r AS (
        |  SELECT source, count(*) AS n_docs,
        |    round(avg(len), 6) AS avg_chars,
        |    round(avg(short), 6) AS short_frac,
        |    round(avg(dup), 6) AS dup_frac
        |  FROM f GROUP BY source
        |)
        |SELECT source, n_docs, avg_chars, short_frac, dup_frac,
        |  round((1.0 - dup_frac) * (1.0 - short_frac)
        |    * least(1.0, avg_chars / 400.0), 6) AS source_score
        |FROM r
        |ORDER BY source""".stripMargin),
  )
}
