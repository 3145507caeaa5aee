package graft.gate

import org.apache.spark.sql.functions._

/** Gate queries whose result comes from [[graft.operators.Quantization]]. */
object QuantizationQueries {
  lazy val queries: Seq[GateQuery] = Seq(
    // product quantization: 4 subspaces x 8 centroids, 1 Lloyd round —
    // integer codes are exactly reproducible by replaying the training
    // recurrence (operators.Quantization)
    GateQuery("q45_pq_codes", (s, dir) => {
      import graft.operators.Quantization
      val emb = t(s, dir, "embeddings")
      val model = Quantization.train(emb, "vec_id", "embedding",
        dim = 64, m = 4, k = 8, lloydIters = 1)
      Quantization.encode(emb, "vec_id", "embedding", model)
        .orderBy(col("vec_id"))
    },
      // PQ training replayed in SQL: per-subspace slices, first-8 init, one
      // Lloyd round (argmin assign / per-dim mean / empty-cell fallback),
      // final integer codes — exact-match (no float output at all)
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), sub AS (
        |  SELECT vec_id, CAST(t.j AS INT) AS j,
        |    v[CAST(t.j*16+1 AS INT):CAST(t.j*16+16 AS INT)] AS sv
        |  FROM e CROSS JOIN range(0, 4) t(j)
        |), c0 AS (
        |  SELECT j, list(sv ORDER BY vec_id) AS cs
        |  FROM (SELECT vec_id, j, sv FROM sub
        |        QUALIFY row_number() OVER (PARTITION BY j ORDER BY vec_id) <= 8)
        |  GROUP BY j
        |), a1 AS (
        |  SELECT vec_id, j, sv, list_position(d, list_min(d)) - 1 AS cell
        |  FROM (
        |    SELECT vec_id, sub.j AS j, sv,
        |      list_transform(cs, c -> list_sum(list_transform(range(0, 16), i ->
        |        (sv[CAST(i AS INT)+1] - c[CAST(i AS INT)+1]) * (sv[CAST(i AS INT)+1] - c[CAST(i AS INT)+1])))) AS d
        |    FROM sub JOIN c0 ON sub.j = c0.j)
        |), u1 AS (
        |  SELECT j, cell, list(m ORDER BY pos) AS cent
        |  FROM (
        |    SELECT j, cell, pos, avg(x) AS m
        |    FROM (SELECT j, cell, generate_subscripts(sv, 1) AS pos, unnest(sv) AS x FROM a1)
        |    GROUP BY j, cell, pos)
        |  GROUP BY j, cell
        |), c1 AS (
        |  SELECT g.j, list(coalesce(u1.cent, c0.cs[CAST(g.c AS INT)+1]) ORDER BY g.c) AS cs
        |  FROM (SELECT CAST(t.j AS INT) AS j, CAST(t2.c AS INT) AS c
        |        FROM range(0, 4) t(j) CROSS JOIN range(0, 8) t2(c)) g
        |  JOIN c0 ON c0.j = g.j
        |  LEFT JOIN u1 ON u1.j = g.j AND u1.cell = g.c
        |  GROUP BY g.j
        |), codes AS (
        |  SELECT vec_id, j, list_position(d, list_min(d)) - 1 AS cell
        |  FROM (
        |    SELECT vec_id, sub.j AS j,
        |      list_transform(cs, c -> list_sum(list_transform(range(0, 16), i ->
        |        (sv[CAST(i AS INT)+1] - c[CAST(i AS INT)+1]) * (sv[CAST(i AS INT)+1] - c[CAST(i AS INT)+1])))) AS d
        |    FROM sub JOIN c1 ON sub.j = c1.j)
        |)
        |SELECT vec_id,
        |  CAST(max(CASE WHEN j = 0 THEN cell END) AS BIGINT) AS code_0,
        |  CAST(max(CASE WHEN j = 1 THEN cell END) AS BIGINT) AS code_1,
        |  CAST(max(CASE WHEN j = 2 THEN cell END) AS BIGINT) AS code_2,
        |  CAST(max(CASE WHEN j = 3 THEN cell END) AS BIGINT) AS code_3
        |FROM codes GROUP BY vec_id ORDER BY vec_id""".stripMargin),

    // asymmetric-distance (ADC) top-k over the PQ codes: per-query distance
    // tables on the broadcast side, m lookups per corpus vector
    GateQuery("q46_pq_adc", (s, dir) => {
      import graft.operators.Quantization
      val emb = t(s, dir, "embeddings")
      val model = Quantization.train(emb, "vec_id", "embedding",
        dim = 64, m = 4, k = 8, lloydIters = 1)
      val coded = Quantization.encode(emb, "vec_id", "embedding", model)
      Quantization.adcTopK(coded, emb.filter(col("vec_id") < 20),
        "vec_id", "embedding", model, k = 5)
        .orderBy(col("query_id"), col("rank"))
    },
      // ADC search over the q45 model: per-query subspace distance tables,
      // score = 4 table lookups summed left-to-right, rank asc + id tie-break
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), sub AS (
        |  SELECT vec_id, CAST(t.j AS INT) AS j,
        |    v[CAST(t.j*16+1 AS INT):CAST(t.j*16+16 AS INT)] AS sv
        |  FROM e CROSS JOIN range(0, 4) t(j)
        |), c0 AS (
        |  SELECT j, list(sv ORDER BY vec_id) AS cs
        |  FROM (SELECT vec_id, j, sv FROM sub
        |        QUALIFY row_number() OVER (PARTITION BY j ORDER BY vec_id) <= 8)
        |  GROUP BY j
        |), a1 AS (
        |  SELECT vec_id, j, sv, list_position(d, list_min(d)) - 1 AS cell
        |  FROM (
        |    SELECT vec_id, sub.j AS j, sv,
        |      list_transform(cs, c -> list_sum(list_transform(range(0, 16), i ->
        |        (sv[CAST(i AS INT)+1] - c[CAST(i AS INT)+1]) * (sv[CAST(i AS INT)+1] - c[CAST(i AS INT)+1])))) AS d
        |    FROM sub JOIN c0 ON sub.j = c0.j)
        |), u1 AS (
        |  SELECT j, cell, list(m ORDER BY pos) AS cent
        |  FROM (
        |    SELECT j, cell, pos, avg(x) AS m
        |    FROM (SELECT j, cell, generate_subscripts(sv, 1) AS pos, unnest(sv) AS x FROM a1)
        |    GROUP BY j, cell, pos)
        |  GROUP BY j, cell
        |), c1 AS (
        |  SELECT g.j, list(coalesce(u1.cent, c0.cs[CAST(g.c AS INT)+1]) ORDER BY g.c) AS cs
        |  FROM (SELECT CAST(t.j AS INT) AS j, CAST(t2.c AS INT) AS c
        |        FROM range(0, 4) t(j) CROSS JOIN range(0, 8) t2(c)) g
        |  JOIN c0 ON c0.j = g.j
        |  LEFT JOIN u1 ON u1.j = g.j AND u1.cell = g.c
        |  GROUP BY g.j
        |), codes AS (
        |  SELECT vec_id, j, list_position(d, list_min(d)) - 1 AS cell
        |  FROM (
        |    SELECT vec_id, sub.j AS j,
        |      list_transform(cs, c -> list_sum(list_transform(range(0, 16), i ->
        |        (sv[CAST(i AS INT)+1] - c[CAST(i AS INT)+1]) * (sv[CAST(i AS INT)+1] - c[CAST(i AS INT)+1])))) AS d
        |    FROM sub JOIN c1 ON sub.j = c1.j)
        |), wide AS (
        |  SELECT vec_id AS neighbor_id,
        |    CAST(max(CASE WHEN j = 0 THEN cell END) AS INT) AS k0,
        |    CAST(max(CASE WHEN j = 1 THEN cell END) AS INT) AS k1,
        |    CAST(max(CASE WHEN j = 2 THEN cell END) AS INT) AS k2,
        |    CAST(max(CASE WHEN j = 3 THEN cell END) AS INT) AS k3
        |  FROM codes GROUP BY vec_id
        |), tq AS (
        |  SELECT q.vec_id AS query_id, c1.j,
        |    list_transform(cs, c -> list_sum(list_transform(range(0, 16), i ->
        |      (q.v[CAST(c1.j*16 AS INT) + CAST(i AS INT) + 1] - c[CAST(i AS INT)+1])
        |      * (q.v[CAST(c1.j*16 AS INT) + CAST(i AS INT) + 1] - c[CAST(i AS INT)+1])))) AS tab
        |  FROM (SELECT vec_id, v FROM e WHERE vec_id < 20) q CROSS JOIN c1
        |), tw AS (
        |  SELECT query_id,
        |    max(CASE WHEN j = 0 THEN tab END) AS t0,
        |    max(CASE WHEN j = 1 THEN tab END) AS t1,
        |    max(CASE WHEN j = 2 THEN tab END) AS t2,
        |    max(CASE WHEN j = 3 THEN tab END) AS t3
        |  FROM tq GROUP BY query_id
        |), s AS (
        |  SELECT query_id, neighbor_id,
        |    round(t0[k0+1] + t1[k1+1] + t2[k2+1] + t3[k3+1], 6) AS adc_dist
        |  FROM tw CROSS JOIN wide WHERE query_id <> neighbor_id
        |)
        |SELECT query_id, neighbor_id, adc_dist,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY adc_dist ASC, neighbor_id ASC) AS BIGINT) AS rank
        |FROM s QUALIFY rank <= 5 ORDER BY query_id, rank""".stripMargin),

    // per-dimension scalar int8 quantization of the embedding corpus +
    // per-vector reconstruction MSE: dimension ranges are one map-combined
    // 64-group aggregation packed into a 1-row broadcast; coding is a
    // narrow map. float→double promotion before every subtraction and an
    // element-order fold keep codes AND mse engine-exact
    // (operators.Quantization.int8Quantize). Gate contract: NO raw array
    // column may reach the driver's pandas comparator (round-7 red:
    // array<int> is unhashable in sort_values) — the codes array is
    // flattened to a csv string, full-value-checked against the oracle's
    // identical flattening
    GateQuery("q113_int8_quant", (s, dir) => {
      import graft.operators.Quantization
      Quantization.int8Quantize(t(s, dir, "embeddings"), "vec_id", "embedding")
        .select(col("id"),
          array_join(transform(col("codes"), c => c.cast("string")), ",")
            .as("codes_csv"),
          col("mse"))
        .orderBy(col("id"))
    },
      """WITH ex AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
        |    unnest(embedding) AS v
        |  FROM embeddings
        |), st AS (
        |  SELECT dim, min(v) AS mn, max(v) AS mx FROM ex GROUP BY dim
        |), arrs AS (
        |  SELECT list(CAST(mn AS DOUBLE) ORDER BY dim) AS mins,
        |    list(CAST(mx AS DOUBLE) ORDER BY dim) AS maxs
        |  FROM st
        |)
        |SELECT vec_id AS id,
        |  array_to_string(list_transform(range(1, len(embedding) + 1), i ->
        |    CAST(CASE WHEN maxs[CAST(i AS INT)] > mins[CAST(i AS INT)] THEN
        |      CAST(least(greatest(floor((CAST(embedding[CAST(i AS INT)] AS DOUBLE)
        |          - mins[CAST(i AS INT)])
        |        / (maxs[CAST(i AS INT)] - mins[CAST(i AS INT)]) * 255.0), 0.0), 255.0)
        |        AS INT) - 128
        |    ELSE 0 END AS VARCHAR)), ',') AS codes_csv,
        |  round(list_reduce(list_prepend(0.0,
        |    list_transform(range(1, len(embedding) + 1), i ->
        |      CASE WHEN maxs[CAST(i AS INT)] > mins[CAST(i AS INT)] THEN
        |        CAST(embedding[CAST(i AS INT)] AS DOUBLE)
        |          - (mins[CAST(i AS INT)]
        |             + (CAST(CAST(least(greatest(floor((CAST(embedding[CAST(i AS INT)] AS DOUBLE)
        |                  - mins[CAST(i AS INT)])
        |                / (maxs[CAST(i AS INT)] - mins[CAST(i AS INT)]) * 255.0), 0.0), 255.0)
        |                AS INT) - 128 AS DOUBLE) + 128.5)
        |               * (maxs[CAST(i AS INT)] - mins[CAST(i AS INT)]) / 255.0)
        |      ELSE 0.0 END)),
        |    (a, d) -> a + d * d) / len(embedding), 9) AS mse
        |FROM embeddings, arrs
        |ORDER BY id""".stripMargin),
  )
}
