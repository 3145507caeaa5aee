package graft.gate

import org.apache.spark.sql.functions._

/** Gate queries whose result comes from [[graft.operators.Classifier]]. */
object ClassifierQueries {
  lazy val queries: Seq[GateQuery] = Seq(
    // in-engine classifier training + scoring (fastText-style model-based
    // quality filtering): 3 rounds of full-batch GD on IEEE-exact features
    // (rational sigmoid, fixed-point gradient sums), then a map-side scoring
    // pass with the learned weights; the oracle unrolls the identical 3
    // rounds in SQL (operators.Classifier.trainLinear/score)
    GateQuery("q105_quality_classifier", (s, dir) => {
      import graft.operators.Classifier
      val docs = t(s, dir, "documents")
      val ntok = size(split(col("text"), " ")).cast("double")
      val feats = Seq(
        col("n_chars").cast("double") / lit(1000.0),
        ntok / lit(100.0),
        col("n_chars").cast("double") / ntok / lit(10.0))
      val label = when(col("lang") === "en", 1.0).otherwise(0.0)
      val model = Classifier.trainLinear(docs, feats, label,
        iterations = 3, learningRate = 0.5)
      Classifier.score(docs, feats, model)
        .select(col("doc_id"), (col("lang") === "en").as("is_en"),
          col("quality_score"),
          (col("quality_score") >= 0.5).as("predicted"))
        .orderBy(col("doc_id"))
    },
      // integers (exact ties are binary-unrepresentable at that grid, so
      // round() cannot diverge between engines), and every literal is cast to
      // DOUBLE so DuckDB's DECIMAL parsing cannot change the arithmetic
      """WITH f AS (
        |  SELECT doc_id, lang = 'en' AS is_en,
        |    CASE WHEN lang = 'en' THEN CAST(1.0 AS DOUBLE)
        |         ELSE CAST(0.0 AS DOUBLE) END AS y,
        |    CAST(n_chars AS DOUBLE) / CAST(1000.0 AS DOUBLE) AS x1,
        |    CAST(len(string_split(text, ' ')) AS DOUBLE) / CAST(100.0 AS DOUBLE) AS x2,
        |    CAST(n_chars AS DOUBLE) / CAST(len(string_split(text, ' ')) AS DOUBLE)
        |      / CAST(10.0 AS DOUBLE) AS x3
        |  FROM documents
        |), nn AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n FROM f
        |), w0 AS (
        |  SELECT CAST(0.0 AS DOUBLE) AS wb, CAST(0.0 AS DOUBLE) AS w1,
        |         CAST(0.0 AS DOUBLE) AS w2, CAST(0.0 AS DOUBLE) AS w3
        |), p1 AS (
        |  SELECT f.*, CAST(0.5 AS DOUBLE) + z / (CAST(2.0 AS DOUBLE)
        |    * (CAST(1.0 AS DOUBLE) + abs(z))) AS p
        |  FROM (SELECT f.*, wb + w1*x1 + w2*x2 + w3*x3 AS z FROM f, w0) f
        |), g1 AS (
        |  SELECT
        |    CAST(sum(CAST(round((p - y) * 1000000.0) AS BIGINT)) AS DOUBLE) AS gb,
        |    CAST(sum(CAST(round((p - y) * x1 * 1000000.0) AS BIGINT)) AS DOUBLE) AS g1,
        |    CAST(sum(CAST(round((p - y) * x2 * 1000000.0) AS BIGINT)) AS DOUBLE) AS g2,
        |    CAST(sum(CAST(round((p - y) * x3 * 1000000.0) AS BIGINT)) AS DOUBLE) AS g3
        |  FROM p1
        |), w1c AS (
        |  SELECT
        |    round(wb - CAST(0.5 AS DOUBLE) * (gb / CAST(1000000.0 AS DOUBLE) / n), 6) AS wb,
        |    round(w1 - CAST(0.5 AS DOUBLE) * (g1 / CAST(1000000.0 AS DOUBLE) / n), 6) AS w1,
        |    round(w2 - CAST(0.5 AS DOUBLE) * (g2 / CAST(1000000.0 AS DOUBLE) / n), 6) AS w2,
        |    round(w3 - CAST(0.5 AS DOUBLE) * (g3 / CAST(1000000.0 AS DOUBLE) / n), 6) AS w3
        |  FROM w0, g1, nn
        |), p2 AS (
        |  SELECT f.*, CAST(0.5 AS DOUBLE) + z / (CAST(2.0 AS DOUBLE)
        |    * (CAST(1.0 AS DOUBLE) + abs(z))) AS p
        |  FROM (SELECT f.*, wb + w1*x1 + w2*x2 + w3*x3 AS z FROM f, w1c) f
        |), g2c AS (
        |  SELECT
        |    CAST(sum(CAST(round((p - y) * 1000000.0) AS BIGINT)) AS DOUBLE) AS gb,
        |    CAST(sum(CAST(round((p - y) * x1 * 1000000.0) AS BIGINT)) AS DOUBLE) AS g1,
        |    CAST(sum(CAST(round((p - y) * x2 * 1000000.0) AS BIGINT)) AS DOUBLE) AS g2,
        |    CAST(sum(CAST(round((p - y) * x3 * 1000000.0) AS BIGINT)) AS DOUBLE) AS g3
        |  FROM p2
        |), w2c AS (
        |  SELECT
        |    round(wb - CAST(0.5 AS DOUBLE) * (gb / CAST(1000000.0 AS DOUBLE) / n), 6) AS wb,
        |    round(w1 - CAST(0.5 AS DOUBLE) * (g1 / CAST(1000000.0 AS DOUBLE) / n), 6) AS w1,
        |    round(w2 - CAST(0.5 AS DOUBLE) * (g2 / CAST(1000000.0 AS DOUBLE) / n), 6) AS w2,
        |    round(w3 - CAST(0.5 AS DOUBLE) * (g3 / CAST(1000000.0 AS DOUBLE) / n), 6) AS w3
        |  FROM w1c, g2c, nn
        |), p3 AS (
        |  SELECT f.*, CAST(0.5 AS DOUBLE) + z / (CAST(2.0 AS DOUBLE)
        |    * (CAST(1.0 AS DOUBLE) + abs(z))) AS p
        |  FROM (SELECT f.*, wb + w1*x1 + w2*x2 + w3*x3 AS z FROM f, w2c) f
        |), g3c AS (
        |  SELECT
        |    CAST(sum(CAST(round((p - y) * 1000000.0) AS BIGINT)) AS DOUBLE) AS gb,
        |    CAST(sum(CAST(round((p - y) * x1 * 1000000.0) AS BIGINT)) AS DOUBLE) AS g1,
        |    CAST(sum(CAST(round((p - y) * x2 * 1000000.0) AS BIGINT)) AS DOUBLE) AS g2,
        |    CAST(sum(CAST(round((p - y) * x3 * 1000000.0) AS BIGINT)) AS DOUBLE) AS g3
        |  FROM p3
        |), w3c AS (
        |  SELECT
        |    round(wb - CAST(0.5 AS DOUBLE) * (gb / CAST(1000000.0 AS DOUBLE) / n), 6) AS wb,
        |    round(w1 - CAST(0.5 AS DOUBLE) * (g1 / CAST(1000000.0 AS DOUBLE) / n), 6) AS w1,
        |    round(w2 - CAST(0.5 AS DOUBLE) * (g2 / CAST(1000000.0 AS DOUBLE) / n), 6) AS w2,
        |    round(w3 - CAST(0.5 AS DOUBLE) * (g3 / CAST(1000000.0 AS DOUBLE) / n), 6) AS w3
        |  FROM w2c, g3c, nn
        |), scored AS (
        |  SELECT doc_id, is_en, round(CAST(0.5 AS DOUBLE) + z / (CAST(2.0 AS DOUBLE)
        |    * (CAST(1.0 AS DOUBLE) + abs(z))), 6) AS quality_score
        |  FROM (SELECT f.*, wb + w1*x1 + w2*x2 + w3*x3 AS z FROM f, w3c) f
        |)
        |SELECT doc_id, is_en, quality_score,
        |  quality_score >= CAST(0.5 AS DOUBLE) AS predicted
        |FROM scored ORDER BY doc_id""".stripMargin),
  )
}
