package graft.gate

import org.apache.spark.sql.functions._

/** Gate queries whose result comes from [[graft.operators.Pca]]. */
object PcaQueries {
  lazy val queries: Seq[GateQuery] = Seq(
    // distributed top principal component: one FLOPs-bound pass builds the
    // d×d Gramian via map-combined sums (shuffle ≤ d(d+1)/2 rows per
    // partition), power iteration runs on the driver over O(d²) state —
    // corpus-size-independent; fixed 4 iterations + per-step rounding make
    // the eigenvector SQL-reproducible (operators.Pca.principalComponent)
    GateQuery("q120_pca_top_component", (s, dir) => {
      import graft.operators.Pca
      Pca.principalComponent(t(s, dir, "embeddings"), "embedding",
        iterations = 4)
        .orderBy(col("pos"))
    },
      // exact mirror of Pca.principalComponent's no-cross-row-float-sum
      // contract: every aggregated term is quantized to an integer (×1e9
      // moments, ×1e15 iteration terms) and summed exactly, so engine/order
      // differences cannot move anything even an ulp. Per-step rounding
      // alone was measured insufficient — a sum near a round-9 boundary
      // flipped between DuckDB plans and the flip amplified through the
      // iterations. MATERIALIZED: the matrix CTE is referenced 6× and DuckDB
      // would otherwise re-run the d²-explode join for each.
      """WITH ex AS MATERIALIZED (
        |  SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS i,
        |    CAST(unnest(embedding) AS DOUBLE) AS x
        |  FROM embeddings
        |), nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM embeddings),
        |m AS MATERIALIZED (
        |  SELECT i, CAST(sum(CAST(round(x * 1000000000.0) AS BIGINT)) AS DOUBLE)
        |    / 1000000000.0 / (SELECT n FROM nn) AS mx
        |  FROM ex GROUP BY i
        |),
        |cm AS MATERIALIZED (
        |  SELECT a.i AS i, b.i AS j,
        |    round(CAST(sum(CAST(round(a.x * b.x * 1000000000.0) AS BIGINT)) AS DOUBLE)
        |      / 1000000000.0 / (SELECT n FROM nn) - ma.mx * mb.mx, 9) AS c
        |  FROM ex a JOIN ex b ON a.vec_id = b.vec_id
        |  JOIN m ma ON ma.i = a.i JOIN m mb ON mb.i = b.i
        |  GROUP BY a.i, b.i, ma.mx, mb.mx
        |),
        |v0 AS (SELECT i, 1.0 / 64 AS v FROM m),
        |w1 AS (SELECT cm.i AS i, round(CAST(sum(CAST(round(cm.c * v0.v
        |    * 1000000000000000.0) AS BIGINT)) AS DOUBLE) / 1000000000000000.0, 9) AS w
        |  FROM cm JOIN v0 ON v0.i = cm.j GROUP BY cm.i),
        |v1 AS (SELECT i, round(w / (SELECT sqrt(CAST(sum(CAST(round(w * w
        |    * 1000000000000000.0) AS BIGINT)) AS DOUBLE) / 1000000000000000.0)
        |  FROM w1), 9) AS v FROM w1),
        |w2 AS (SELECT cm.i AS i, round(CAST(sum(CAST(round(cm.c * v1.v
        |    * 1000000000000000.0) AS BIGINT)) AS DOUBLE) / 1000000000000000.0, 9) AS w
        |  FROM cm JOIN v1 ON v1.i = cm.j GROUP BY cm.i),
        |v2 AS (SELECT i, round(w / (SELECT sqrt(CAST(sum(CAST(round(w * w
        |    * 1000000000000000.0) AS BIGINT)) AS DOUBLE) / 1000000000000000.0)
        |  FROM w2), 9) AS v FROM w2),
        |w3 AS (SELECT cm.i AS i, round(CAST(sum(CAST(round(cm.c * v2.v
        |    * 1000000000000000.0) AS BIGINT)) AS DOUBLE) / 1000000000000000.0, 9) AS w
        |  FROM cm JOIN v2 ON v2.i = cm.j GROUP BY cm.i),
        |v3 AS (SELECT i, round(w / (SELECT sqrt(CAST(sum(CAST(round(w * w
        |    * 1000000000000000.0) AS BIGINT)) AS DOUBLE) / 1000000000000000.0)
        |  FROM w3), 9) AS v FROM w3),
        |w4 AS (SELECT cm.i AS i, round(CAST(sum(CAST(round(cm.c * v3.v
        |    * 1000000000000000.0) AS BIGINT)) AS DOUBLE) / 1000000000000000.0, 9) AS w
        |  FROM cm JOIN v3 ON v3.i = cm.j GROUP BY cm.i),
        |v4 AS MATERIALIZED (SELECT i, round(w / (SELECT sqrt(CAST(sum(CAST(round(w * w
        |    * 1000000000000000.0) AS BIGINT)) AS DOUBLE) / 1000000000000000.0)
        |  FROM w4), 9) AS v FROM w4),
        |sgn AS (SELECT CASE WHEN v < 0 THEN -1.0 ELSE 1.0 END AS s
        |  FROM v4 ORDER BY abs(v) DESC, i ASC LIMIT 1),
        |ray AS (SELECT sum(CAST(round(va.v * cm.c * vb.v
        |    * 1000000000000000.0) AS BIGINT)) AS num
        |  FROM cm JOIN v4 va ON va.i = cm.i JOIN v4 vb ON vb.i = cm.j),
        |dn AS (SELECT sum(CAST(round(v * v * 1000000000000000.0) AS BIGINT)) AS d
        |  FROM v4),
        |tr AS (SELECT sum(CAST(round(c * 1000000000.0) AS BIGINT)) AS t
        |  FROM cm WHERE i = j)
        |SELECT CAST(i AS BIGINT) AS pos,
        |  round((SELECT s FROM sgn) * v, 6) AS loading,
        |  round(CAST((SELECT num FROM ray) AS DOUBLE)
        |    / CAST((SELECT d FROM dn) AS DOUBLE)
        |    / (CAST((SELECT t FROM tr) AS DOUBLE) / 1000000000.0), 6) AS var_share
        |FROM v4 ORDER BY pos""".stripMargin),
  )
}
