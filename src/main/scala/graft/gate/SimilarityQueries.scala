package graft.gate

import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Gate queries whose result comes from [[graft.operators.Similarity]]. */
object SimilarityQueries {
  lazy val queries: Seq[GateQuery] = Seq(
    GateQuery("q20_embed_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 20), "vec_id", "embedding", k = 5)
        .orderBy(col("query_id"), col("rank"))
    },
      """WITH q AS (
        |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS q_vec
        |  FROM embeddings WHERE vec_id < 20
        |), c AS (
        |  SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS c_vec
        |  FROM embeddings
        |), s AS (
        |  SELECT query_id, neighbor_id,
        |    round(list_dot_product(q_vec, c_vec)
        |      / (sqrt(list_dot_product(q_vec, q_vec)) * sqrt(list_dot_product(c_vec, c_vec))), 6) AS cos
        |  FROM q, c WHERE query_id <> neighbor_id
        |)
        |SELECT query_id, neighbor_id, cos,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS BIGINT) AS rank
        |FROM s
        |QUALIFY rank <= 5
        |ORDER BY query_id, rank""".stripMargin),

    GateQuery("q21_embed_ann_srp", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      // probeRadius pinned: round-2 switched the default to multi-probe
      // (recall fix) — pinning keeps this query's series deliberate
      Similarity.srpAnnTopK(emb, emb.filter(col("vec_id") < 20), "vec_id", "embedding",
        k = 5, nPlanes = 8, dim = 64, probeRadius = 1)
        .orderBy(col("query_id"), col("rank"))
    },
      // SRP ANN: hyperplane components are md5-derived multiples of 2^-10
      // (Similarity.hyperplanes), so DuckDB recomputes the exact sign buckets;
      // the radius-1 multi-probe is expressed as hamming(bucket_q, bucket_c)<=1
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), b AS (
        |  SELECT vec_id, v,
        |    list_sum(list_transform(range(0, 8), p ->
        |      CASE WHEN list_sum(list_transform(range(0, 64), d ->
        |          ((('0x' || substr(md5('srp_42_' || p || '_' || d), 1, 15))::BIGINT % 2048 - 1024)
        |            / 1024.0) * v[CAST(d AS INT) + 1])) >= 0
        |      THEN 1::BIGINT << (7 - CAST(p AS INT)) ELSE 0 END))::BIGINT AS bucket
        |  FROM e
        |), s AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    round(list_dot_product(q.v, c.v)
        |      / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 6) AS cos
        |  FROM b q JOIN b c
        |    ON bit_count(xor(q.bucket, c.bucket)) <= 1 AND q.vec_id <> c.vec_id
        |  WHERE q.vec_id < 20
        |)
        |SELECT query_id, neighbor_id, cos,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS BIGINT) AS rank
        |FROM s
        |QUALIFY rank <= 5
        |ORDER BY query_id, rank""".stripMargin),

    GateQuery("q22_embed_centroids", (s, dir) => {
      Similarity.centroids(t(s, dir, "embeddings"), "label", "embedding")
        .orderBy(col("label"), col("pos"))
    },
      """WITH e AS (
        | SELECT label,
        |  CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS pos,
        |  CAST(unnest(embedding) AS DOUBLE) AS component
        | FROM embeddings
        |)
        |SELECT label, pos, round(avg(component), 6) AS centroid
        |FROM e GROUP BY label, pos ORDER BY label, pos""".stripMargin),

    // IVF ANN (k-means cells + nProbe search): fully oracle-checked — the
    // k-means is deterministic (init = first nLists vectors by id, 2 Lloyd
    // rounds, strict-< argmin) so the oracle unrolls both rounds in SQL
    GateQuery("q33_embed_ivf", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 20), "vec_id", "embedding",
        k = 5, nLists = 8, lloydIters = 2, nProbe = 2)
        .orderBy(col("query_id"), col("rank"))
    },
      // IVF: the whole pipeline — seeded init (first 8 vectors by id), two
      // Lloyd rounds (argmin assign, per-dim mean update, empty-cell
      // fallback), 2-probe search, exact cosine rerank — unrolled in SQL.
      // Distances/means are double in both engines; an assignment flip would
      // need two centroid distances within ~1e-13, never observed.
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), c0 AS (
        |  SELECT list(v ORDER BY vec_id) AS cs FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 8)
        |), a1 AS (
        |  SELECT vec_id, v, list_position(dists, list_min(dists)) - 1 AS cell
        |  FROM (
        |    SELECT vec_id, v,
        |      list_transform(cs, cent -> list_sum(list_transform(range(0, 64),
        |        d -> (v[CAST(d AS INT)+1] - cent[CAST(d AS INT)+1]) * (v[CAST(d AS INT)+1] - cent[CAST(d AS INT)+1])))) AS dists
        |    FROM e, c0)
        |), u1 AS (
        |  SELECT cell, list(m ORDER BY pos) AS cent
        |  FROM (
        |    SELECT cell, pos, avg(x) AS m
        |    FROM (SELECT cell, generate_subscripts(v, 1) AS pos, unnest(v) AS x FROM a1)
        |    GROUP BY cell, pos)
        |  GROUP BY cell
        |), c1 AS (
        |  SELECT list(coalesce(u1.cent, c0.cs[CAST(t.i AS INT)+1]) ORDER BY t.i) AS cs
        |  FROM range(0, 8) t(i) CROSS JOIN c0 LEFT JOIN u1 ON u1.cell = t.i
        |  GROUP BY c0.cs
        |), a2 AS (
        |  SELECT vec_id, v, list_position(dists, list_min(dists)) - 1 AS cell
        |  FROM (
        |    SELECT vec_id, v,
        |      list_transform(cs, cent -> list_sum(list_transform(range(0, 64),
        |        d -> (v[CAST(d AS INT)+1] - cent[CAST(d AS INT)+1]) * (v[CAST(d AS INT)+1] - cent[CAST(d AS INT)+1])))) AS dists
        |    FROM e, c1)
        |), u2 AS (
        |  SELECT cell, list(m ORDER BY pos) AS cent
        |  FROM (
        |    SELECT cell, pos, avg(x) AS m
        |    FROM (SELECT cell, generate_subscripts(v, 1) AS pos, unnest(v) AS x FROM a2)
        |    GROUP BY cell, pos)
        |  GROUP BY cell
        |), c2 AS (
        |  SELECT list(coalesce(u2.cent, c1.cs[CAST(t.i AS INT)+1]) ORDER BY t.i) AS cs
        |  FROM range(0, 8) t(i) CROSS JOIN c1 LEFT JOIN u2 ON u2.cell = t.i
        |  GROUP BY c1.cs
        |), idx AS (
        |  SELECT vec_id, v, list_position(dists, list_min(dists)) - 1 AS cell
        |  FROM (
        |    SELECT vec_id, v,
        |      list_transform(cs, cent -> list_sum(list_transform(range(0, 64),
        |        d -> (v[CAST(d AS INT)+1] - cent[CAST(d AS INT)+1]) * (v[CAST(d AS INT)+1] - cent[CAST(d AS INT)+1])))) AS dists
        |    FROM e, c2)
        |), probe AS (
        |  SELECT vec_id, v, cell FROM (
        |    SELECT q.vec_id, q.v, t.i AS cell,
        |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |        list_sum(list_transform(range(0, 64),
        |          d -> (q.v[CAST(d AS INT)+1] - cs[CAST(t.i AS INT)+1][CAST(d AS INT)+1])
        |             * (q.v[CAST(d AS INT)+1] - cs[CAST(t.i AS INT)+1][CAST(d AS INT)+1]))), t.i) AS rn
        |    FROM (SELECT vec_id, v FROM e WHERE vec_id < 20) q
        |    CROSS JOIN range(0, 8) t(i) CROSS JOIN c2)
        |  WHERE rn <= 2
        |), s AS (
        |  SELECT p.vec_id AS query_id, i.vec_id AS neighbor_id,
        |    round(list_dot_product(p.v, i.v)
        |      / (sqrt(list_dot_product(p.v, p.v)) * sqrt(list_dot_product(i.v, i.v))), 6) AS cos
        |  FROM probe p JOIN idx i ON p.cell = i.cell AND p.vec_id <> i.vec_id
        |)
        |SELECT query_id, neighbor_id, cos,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS BIGINT) AS rank
        |FROM s QUALIFY rank <= 5 ORDER BY query_id, rank""".stripMargin),

    // embedding-cosine near-dup pairs, blocked on the label column
    GateQuery("q36_embed_neardup", (s, dir) => {
      Similarity.cosineNearDupPairs(t(s, dir, "embeddings"), "vec_id", "embedding",
        blockCol = col("label"), threshold = 0.3)
        .orderBy(col("id_a"), col("id_b"))
    },
      """WITH e AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), s AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    round(list_dot_product(a.v, b.v)
        |      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
        |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        |)
        |SELECT id_a, id_b, cos FROM s WHERE cos >= 0.3
        |ORDER BY id_a, id_b""".stripMargin),

    // semantic dedup (SemDeDup-style): k-means cells bound the pairwise
    // search; a row is a duplicate when an EARLIER same-cell row has cosine
    // >= 0.3. Same deterministic k-means as q33 (first-8-by-id init, 2
    // Lloyd rounds), so the oracle reuses the unrolled-Lloyd SQL prefix
    GateQuery("q67_semdedup", (s, dir) => {
      Similarity.semDedup(t(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.3, nCells = 8, lloydIters = 2)
        // kept rows have no dup_of; -1 sentinel keeps the gate column
        // null-free (null == null is not "equal" to a bitwise differ)
        .withColumn("dup_of", coalesce(col("dup_of"), lit(-1L)))
        .orderBy(col("vec_id"))
    },
      // SemDeDup: same unrolled deterministic k-means as q33 (seeded init,
      // two Lloyd rounds), then within-cell earlier-row cosine test
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), c0 AS (
        |  SELECT list(v ORDER BY vec_id) AS cs FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 8)
        |), a1 AS (
        |  SELECT vec_id, v, list_position(dists, list_min(dists)) - 1 AS cell
        |  FROM (
        |    SELECT vec_id, v,
        |      list_transform(cs, cent -> list_sum(list_transform(range(0, 64),
        |        d -> (v[CAST(d AS INT)+1] - cent[CAST(d AS INT)+1]) * (v[CAST(d AS INT)+1] - cent[CAST(d AS INT)+1])))) AS dists
        |    FROM e, c0)
        |), u1 AS (
        |  SELECT cell, list(m ORDER BY pos) AS cent
        |  FROM (
        |    SELECT cell, pos, avg(x) AS m
        |    FROM (SELECT cell, generate_subscripts(v, 1) AS pos, unnest(v) AS x FROM a1)
        |    GROUP BY cell, pos)
        |  GROUP BY cell
        |), c1 AS (
        |  SELECT list(coalesce(u1.cent, c0.cs[CAST(t.i AS INT)+1]) ORDER BY t.i) AS cs
        |  FROM range(0, 8) t(i) CROSS JOIN c0 LEFT JOIN u1 ON u1.cell = t.i
        |  GROUP BY c0.cs
        |), a2 AS (
        |  SELECT vec_id, v, list_position(dists, list_min(dists)) - 1 AS cell
        |  FROM (
        |    SELECT vec_id, v,
        |      list_transform(cs, cent -> list_sum(list_transform(range(0, 64),
        |        d -> (v[CAST(d AS INT)+1] - cent[CAST(d AS INT)+1]) * (v[CAST(d AS INT)+1] - cent[CAST(d AS INT)+1])))) AS dists
        |    FROM e, c1)
        |), u2 AS (
        |  SELECT cell, list(m ORDER BY pos) AS cent
        |  FROM (
        |    SELECT cell, pos, avg(x) AS m
        |    FROM (SELECT cell, generate_subscripts(v, 1) AS pos, unnest(v) AS x FROM a2)
        |    GROUP BY cell, pos)
        |  GROUP BY cell
        |), c2 AS (
        |  SELECT list(coalesce(u2.cent, c1.cs[CAST(t.i AS INT)+1]) ORDER BY t.i) AS cs
        |  FROM range(0, 8) t(i) CROSS JOIN c1 LEFT JOIN u2 ON u2.cell = t.i
        |  GROUP BY c1.cs
        |), idx AS (
        |  SELECT vec_id, v, list_position(dists, list_min(dists)) - 1 AS cell
        |  FROM (
        |    SELECT vec_id, v,
        |      list_transform(cs, cent -> list_sum(list_transform(range(0, 64),
        |        d -> (v[CAST(d AS INT)+1] - cent[CAST(d AS INT)+1]) * (v[CAST(d AS INT)+1] - cent[CAST(d AS INT)+1])))) AS dists
        |    FROM e, c2)
        |), dups AS (
        |  SELECT b.vec_id AS vec_id, min(a.vec_id) AS dup_of
        |  FROM idx a JOIN idx b ON a.cell = b.cell AND a.vec_id < b.vec_id
        |  WHERE round(list_dot_product(a.v, b.v)
        |    / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.3
        |  GROUP BY b.vec_id
        |)
        |SELECT i.vec_id, CAST(i.cell AS BIGINT) AS cell,
        |  coalesce(d.dup_of, -1) AS dup_of,
        |  d.dup_of IS NULL AS keep
        |FROM idx i LEFT JOIN dups d USING (vec_id)
        |ORDER BY i.vec_id""".stripMargin),

    // margin-based parallel-pair mining (Artetxe & Schwenk ratio margin):
    // two fixed-id embedding slices as the "languages", mutual best matches
    // scored by cosine over the mean of both endpoints' top-4 neighbourhood
    // averages; all sums ride exact integer micro-units so any engine
    // replays the margin bit-for-bit (Similarity.marginMinePairs)
    GateQuery("q156_margin_mine", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.marginMinePairs(
        emb.where(col("vec_id") < 150),
        emb.where(col("vec_id") >= 150 && col("vec_id") < 300),
        "vec_id", "embedding", k = 4, threshold = 1.02)
        .orderBy(col("x_id"))
    },
      // margin mining: cosines held as integer micro-units (round(cos*1e6) as
      // BIGINT) so the top-4 neighbourhood sums are order-free exact integer
      // sums and the margin is a fixed expression tree over exact integers —
      // bit-identical here and in Spark; rank replay = cos_i DESC, id ASC
      """WITH x AS (
        |  SELECT vec_id AS x_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id < 150
        |), y AS (
        |  SELECT vec_id AS y_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id >= 150 AND vec_id < 300
        |), s AS (
        |  SELECT x_id, y_id,
        |    CAST(round(round(list_dot_product(x.v, y.v)
        |      / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))), 6)
        |      * 1000000.0) AS BIGINT) AS cos_i
        |  FROM x, y
        |), f AS (
        |  SELECT x_id, y_id, cos_i,
        |    row_number() OVER (PARTITION BY x_id ORDER BY cos_i DESC, y_id ASC) AS r
        |  FROM s
        |), fa AS (
        |  SELECT x_id,
        |    max(CASE WHEN r = 1 THEN y_id END) AS best_y,
        |    max(CASE WHEN r = 1 THEN cos_i END) AS best_cos,
        |    sum(cos_i) AS sum_f, count(*) AS k_f
        |  FROM f WHERE r <= 4 GROUP BY x_id
        |), b AS (
        |  SELECT x_id, y_id, cos_i,
        |    row_number() OVER (PARTITION BY y_id ORDER BY cos_i DESC, x_id ASC) AS r
        |  FROM s
        |), ba AS (
        |  SELECT y_id,
        |    max(CASE WHEN r = 1 THEN x_id END) AS best_x,
        |    sum(cos_i) AS sum_b, count(*) AS k_b
        |  FROM b WHERE r <= 4 GROUP BY y_id
        |), p AS (
        |  SELECT fa.x_id, ba.y_id, fa.best_cos AS cos_i,
        |    CAST(fa.sum_f AS DOUBLE) / fa.k_f + CAST(ba.sum_b AS DOUBLE) / ba.k_b AS den
        |  FROM fa JOIN ba ON fa.best_y = ba.y_id AND ba.best_x = fa.x_id
        |)
        |SELECT x_id, y_id, cos_i / 1000000.0 AS cos,
        |  round(2.0 * cos_i / den, 6) AS margin
        |FROM p
        |WHERE den > 0 AND round(2.0 * cos_i / den, 6) >= 1.02
        |ORDER BY x_id""".stripMargin),

    // the celled margin-mining scale path, oracle-gated end to end: Y
    // k-means-celled (2 unrolled Lloyd rounds in the oracle), each x probes
    // its 2 nearest of 4 cells, the ratio-margin arithmetic runs over the
    // surviving candidates only (Similarity.marginMinePairsCelled)
    GateQuery("q158_margin_mine_celled", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.marginMinePairsCelled(
        emb.where(col("vec_id") < 150),
        emb.where(col("vec_id") >= 150 && col("vec_id") < 300),
        "vec_id", "embedding", k = 4, threshold = 1.0,
        nCells = 4, nProbe = 2, lloydIters = 2)
        .orderBy(col("x_id"))
    },
      // celled margin mining: Lloyd rounds unrolled (q33's idiom — seed =
      // first 4 Y-vectors by id, assign/mean/empty-cell-coalesce twice),
      // probes replay as row_number(dist, cell) <= 2, then q156's exact
      // integer-micro-unit margin tail over the candidate pairs only
      """WITH x AS (
        |  SELECT vec_id AS x_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id < 150
        |), y AS (
        |  SELECT vec_id AS y_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id >= 150 AND vec_id < 300
        |), c0 AS (
        |  SELECT list(v ORDER BY y_id) AS cs
        |  FROM (SELECT y_id, v FROM y ORDER BY y_id LIMIT 4)
        |), a1 AS (
        |  SELECT y_id, v, list_position(dists, list_min(dists)) - 1 AS cell
        |  FROM (
        |    SELECT y_id, v,
        |      list_transform(cs, cent -> list_sum(list_transform(range(0, 64),
        |        d -> (v[CAST(d AS INT)+1] - cent[CAST(d AS INT)+1]) * (v[CAST(d AS INT)+1] - cent[CAST(d AS INT)+1])))) AS dists
        |    FROM y, c0)
        |), u1 AS (
        |  SELECT cell, list(m ORDER BY pos) AS cent
        |  FROM (
        |    SELECT cell, pos, avg(xx) AS m
        |    FROM (SELECT cell, generate_subscripts(v, 1) AS pos, unnest(v) AS xx FROM a1)
        |    GROUP BY cell, pos)
        |  GROUP BY cell
        |), c1 AS (
        |  SELECT list(coalesce(u1.cent, c0.cs[CAST(t.i AS INT)+1]) ORDER BY t.i) AS cs
        |  FROM range(0, 4) t(i) CROSS JOIN c0 LEFT JOIN u1 ON u1.cell = t.i
        |  GROUP BY c0.cs
        |), a2 AS (
        |  SELECT y_id, v, list_position(dists, list_min(dists)) - 1 AS cell
        |  FROM (
        |    SELECT y_id, v,
        |      list_transform(cs, cent -> list_sum(list_transform(range(0, 64),
        |        d -> (v[CAST(d AS INT)+1] - cent[CAST(d AS INT)+1]) * (v[CAST(d AS INT)+1] - cent[CAST(d AS INT)+1])))) AS dists
        |    FROM y, c1)
        |), u2 AS (
        |  SELECT cell, list(m ORDER BY pos) AS cent
        |  FROM (
        |    SELECT cell, pos, avg(xx) AS m
        |    FROM (SELECT cell, generate_subscripts(v, 1) AS pos, unnest(v) AS xx FROM a2)
        |    GROUP BY cell, pos)
        |  GROUP BY cell
        |), c2 AS (
        |  SELECT list(coalesce(u2.cent, c1.cs[CAST(t.i AS INT)+1]) ORDER BY t.i) AS cs
        |  FROM range(0, 4) t(i) CROSS JOIN c1 LEFT JOIN u2 ON u2.cell = t.i
        |  GROUP BY c1.cs
        |), ycell AS (
        |  SELECT y_id, v, list_position(dists, list_min(dists)) - 1 AS cell
        |  FROM (
        |    SELECT y_id, v,
        |      list_transform(cs, cent -> list_sum(list_transform(range(0, 64),
        |        d -> (v[CAST(d AS INT)+1] - cent[CAST(d AS INT)+1]) * (v[CAST(d AS INT)+1] - cent[CAST(d AS INT)+1])))) AS dists
        |    FROM y, c2)
        |), probe AS (
        |  SELECT x_id, v, cell FROM (
        |    SELECT x.x_id, x.v, t.i AS cell,
        |      row_number() OVER (PARTITION BY x.x_id ORDER BY
        |        list_sum(list_transform(range(0, 64),
        |          d -> (x.v[CAST(d AS INT)+1] - cs[CAST(t.i AS INT)+1][CAST(d AS INT)+1])
        |             * (x.v[CAST(d AS INT)+1] - cs[CAST(t.i AS INT)+1][CAST(d AS INT)+1]))), t.i) AS rn
        |    FROM x CROSS JOIN range(0, 4) t(i) CROSS JOIN c2)
        |  WHERE rn <= 2
        |), s AS (
        |  SELECT p.x_id, yc.y_id,
        |    CAST(round(round(list_dot_product(p.v, yc.v)
        |      / (sqrt(list_dot_product(p.v, p.v)) * sqrt(list_dot_product(yc.v, yc.v))), 6)
        |      * 1000000.0) AS BIGINT) AS cos_i
        |  FROM probe p JOIN ycell yc ON p.cell = yc.cell
        |), f AS (
        |  SELECT x_id, y_id, cos_i,
        |    row_number() OVER (PARTITION BY x_id ORDER BY cos_i DESC, y_id ASC) AS r
        |  FROM s
        |), fa AS (
        |  SELECT x_id,
        |    max(CASE WHEN r = 1 THEN y_id END) AS best_y,
        |    max(CASE WHEN r = 1 THEN cos_i END) AS best_cos,
        |    sum(cos_i) AS sum_f, count(*) AS k_f
        |  FROM f WHERE r <= 4 GROUP BY x_id
        |), b AS (
        |  SELECT x_id, y_id, cos_i,
        |    row_number() OVER (PARTITION BY y_id ORDER BY cos_i DESC, x_id ASC) AS r
        |  FROM s
        |), ba AS (
        |  SELECT y_id,
        |    max(CASE WHEN r = 1 THEN x_id END) AS best_x,
        |    sum(cos_i) AS sum_b, count(*) AS k_b
        |  FROM b WHERE r <= 4 GROUP BY y_id
        |), p2 AS (
        |  SELECT fa.x_id, ba.y_id, fa.best_cos AS cos_i,
        |    CAST(fa.sum_f AS DOUBLE) / fa.k_f + CAST(ba.sum_b AS DOUBLE) / ba.k_b AS den
        |  FROM fa JOIN ba ON fa.best_y = ba.y_id AND ba.best_x = fa.x_id
        |)
        |SELECT x_id, y_id, cos_i / 1000000.0 AS cos,
        |  round(2.0 * cos_i / den, 6) AS margin
        |FROM p2
        |WHERE den > 0 AND round(2.0 * cos_i / den, 6) >= 1.0
        |ORDER BY x_id""".stripMargin),

    // JL random projection 64 -> 8 dims: md5-derived directions are exact
    // multiples of 2^-10, so the oracle recomputes the identical matrix
    GateQuery("q76_random_projection", (s, dir) => {
      Similarity.randomProjection(t(s, dir, "embeddings"), "embedding",
        outDim = 8, dim = 64)
        .select(col("vec_id"), posexplode(col("projected")).as(Seq("pos", "component")))
        .select(col("vec_id"), col("pos").cast("long").as("pos"), col("component"))
        .orderBy(col("vec_id"), col("pos"))
    },
      // plane component(p,d) = (md5_60("srp_42_p_d") % 2048 - 1024) / 1024 —
      // the same formula Similarity.hyperplanes uses (see q21)
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |)
        |SELECT vec_id, CAST(t.p AS BIGINT) AS pos,
        |  round(list_sum(list_transform(range(0, 64), d ->
        |    (((('0x' || substr(md5('srp_42_' || t.p || '_' || d), 1, 15))::BIGINT % 2048)
        |      - 1024) / 1024.0) * v[CAST(d AS INT) + 1])), 6) AS component
        |FROM e CROSS JOIN range(0, 8) t(p)
        |ORDER BY vec_id, pos""".stripMargin),

    // hard-negative mining for contrastive training: per query vector the
    // top-5 most-similar corpus vectors with a DIFFERENT label (queries
    // broadcast, corpus streams; operators.Similarity.hardNegatives)
    GateQuery("q106_hard_negatives", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.hardNegatives(emb, emb.filter(col("vec_id") < 20),
        "vec_id", "embedding", "label", k = 5)
        .orderBy(col("query_id"), col("rank"))
    },
      // 3 unrolled GD rounds; the rational sigmoid uses only + * / abs (no
      // libm), gradient terms round onto a 1e-6 fixed-point grid summed as
      // labels ride alongside the q20-style cosine scoring; the label
      // inequality restricts candidates BEFORE ranking, mirroring
      // Similarity.hardNegatives
      """WITH q AS (
        |  SELECT vec_id AS query_id, label AS query_label,
        |         CAST(embedding AS DOUBLE[]) AS q_vec
        |  FROM embeddings WHERE vec_id < 20
        |), c AS (
        |  SELECT vec_id AS neighbor_id, label AS neighbor_label,
        |         CAST(embedding AS DOUBLE[]) AS c_vec
        |  FROM embeddings
        |), s AS (
        |  SELECT query_id, query_label, neighbor_id, neighbor_label,
        |    round(list_dot_product(q_vec, c_vec)
        |      / (sqrt(list_dot_product(q_vec, q_vec)) * sqrt(list_dot_product(c_vec, c_vec))), 6) AS cos
        |  FROM q, c WHERE query_label <> neighbor_label
        |)
        |SELECT query_id, query_label, neighbor_id, neighbor_label, cos,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS BIGINT) AS rank
        |FROM s
        |QUALIFY rank <= 5
        |ORDER BY query_id, rank""".stripMargin),

    // per-query ANN quality vs exact ground truth: where does each query's
    // true nearest neighbour land in the SRP top-10? found + reciprocal
    // rank (MRR when averaged) — the oracle-checked slice of the
    // RecallProbe sweep (operators.Similarity.annRecallMrr)
    GateQuery("q117_ann_mrr", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.annRecallMrr(emb, emb.where(col("vec_id") < 20),
        "vec_id", "embedding", k = 10, nPlanes = 8, dim = 64,
        seed = 42L, probeRadius = 1)
        .orderBy(col("query_id"))
    },
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), truth AS (
        |  SELECT query_id, neighbor_id AS true_nn FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |      round(list_dot_product(q.v, c.v)
        |        / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 6) AS cos,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY round(list_dot_product(q.v, c.v)
        |          / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 6) DESC,
        |        c.vec_id ASC) AS rnk
        |    FROM e q JOIN e c ON q.vec_id <> c.vec_id
        |    WHERE q.vec_id < 20)
        |  WHERE rnk = 1
        |), b AS (
        |  SELECT vec_id, v,
        |    list_sum(list_transform(range(0, 8), p ->
        |      CASE WHEN list_sum(list_transform(range(0, 64), d ->
        |          ((('0x' || substr(md5('srp_42_' || p || '_' || d), 1, 15))::BIGINT % 2048 - 1024)
        |            / 1024.0) * v[CAST(d AS INT) + 1])) >= 0
        |      THEN 1::BIGINT << (7 - CAST(p AS INT)) ELSE 0 END))::BIGINT AS bucket
        |  FROM e
        |), approx AS (
        |  SELECT query_id, neighbor_id, rank FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |      round(list_dot_product(q.v, c.v)
        |        / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 6) AS cos,
        |      CAST(row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY round(list_dot_product(q.v, c.v)
        |          / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 6) DESC,
        |        c.vec_id ASC) AS BIGINT) AS rank
        |    FROM b q JOIN b c
        |      ON bit_count(xor(q.bucket, c.bucket)) <= 1 AND q.vec_id <> c.vec_id
        |    WHERE q.vec_id < 20)
        |  WHERE rank <= 10
        |)
        |SELECT t.query_id, t.true_nn, a.rank IS NOT NULL AS found,
        |  round(coalesce(CAST(1.0 AS DOUBLE) / a.rank, CAST(0.0 AS DOUBLE)), 6) AS rr
        |FROM truth t LEFT JOIN approx a
        |  ON a.query_id = t.query_id AND a.neighbor_id = t.true_nn
        |ORDER BY t.query_id""".stripMargin),

    // late-interaction retrieval (ColBERT-style MaxSim with one query
    // vector): docs are CHUNK SETS (4 consecutive embeddings each);
    // score(query, doc) = max cosine over the doc's chunks, so one strong
    // passage retrieves a long document pooled embeddings would dilute.
    // Queries broadcast; the shuffle carries |queries| x |docs| maxes,
    // never per-chunk rows; top-k per query is the k-bounded graft_topk
    // aggregate (operators.Similarity.lateInteractionTopK)
    GateQuery("q143_late_interaction", (s, dir) => {
      import graft.operators.Similarity
      val emb = t(s, dir, "embeddings")
      val chunks = emb.select((col("vec_id") / 4).cast("long").as("doc_id"),
        col("embedding"))
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_vec"))
      Similarity.lateInteractionTopK(chunks, "doc_id", "embedding",
          queries, "query_id", "q_vec", k = 5)
        .orderBy(col("query_id"), col("rank"))
    },
      // full replay: per-chunk cosines -> per-(query, doc) max -> ranked
      // top-5 with the same (score desc, doc_id asc) tie order
      """WITH c AS (
        |  SELECT vec_id // 4 AS doc_id, CAST(embedding AS DOUBLE[]) AS c_vec
        |  FROM embeddings
        |), q AS (
        |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS q_vec
        |  FROM embeddings WHERE vec_id < 5
        |), s AS (
        |  SELECT query_id, doc_id,
        |    max(round(list_dot_product(c_vec, q_vec)
        |      / (sqrt(list_dot_product(c_vec, c_vec))
        |         * sqrt(list_dot_product(q_vec, q_vec))), 6)) AS score
        |  FROM q, c GROUP BY query_id, doc_id
        |)
        |SELECT query_id,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank,
        |  doc_id, score
        |FROM s QUALIFY rank <= 5
        |ORDER BY query_id, rank""".stripMargin),

    // embedding-based decontamination: every 200th vector plays the eval
    // set (disjoint from the scored corpus), the rest get their max cosine
    // to it — the semantic twin of q52's n-gram decontamination; eval side
    // broadcast, |corpus|×|eval| fused-codegen cosines map-side
    // (operators.Similarity.decontaminateByEmbedding)
    GateQuery("q91_embed_decontaminate", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val evalSet = emb.where(pmod(col("vec_id"), lit(200L)) === 0)
      // spread the scoring work: the embeddings table is one ~10MB input
      // split locally, which would put the whole map-side cosine loop on a
      // single task (same production sizing note as the media payloads —
      // at real scale input splits provide the parallelism natively)
      val corpus = emb.where(pmod(col("vec_id"), lit(200L)) =!= 0)
        .repartition(s.sparkContext.defaultParallelism)
      Similarity.decontaminateByEmbedding(corpus, "vec_id", "embedding",
        evalSet, "vec_id", "embedding", threshold = 0.3)
        .orderBy(col("vec_id"))
    },
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), ev AS (
        |  SELECT vec_id AS eid, v AS evec FROM e WHERE vec_id % 200 = 0
        |), c AS (
        |  SELECT vec_id, v FROM e WHERE vec_id % 200 <> 0
        |), scored AS (
        |  SELECT c.vec_id, ev.eid,
        |    round(list_dot_product(c.v, ev.evec)
        |      / (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(ev.evec, ev.evec))), 6) AS cos
        |  FROM c CROSS JOIN ev
        |), mx AS (
        |  SELECT vec_id, max(cos) AS mc FROM scored GROUP BY vec_id
        |)
        |SELECT s.vec_id, mx.mc AS max_eval_cos,
        |  max(s.eid) AS matched_eval_id,
        |  mx.mc >= 0.3 AS contaminated
        |FROM scored s JOIN mx USING (vec_id) WHERE s.cos = mx.mc
        |GROUP BY s.vec_id, mx.mc ORDER BY s.vec_id""".stripMargin),
  )
}
