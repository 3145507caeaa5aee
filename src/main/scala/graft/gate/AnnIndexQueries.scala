package graft.gate

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Gate queries whose result comes from [[graft.operators.AnnIndex]]. */
object AnnIndexQueries {
  lazy val queries: Seq[GateQuery] = Seq(
    // persisted IVF ANN index: train-once / ingest-daily / query-any-
    // snapshot over the storage layer — centroids trained on the FIRST
    // batch only, the second batch ingests against them frozen, queries
    // probe 2 of 8 cells of the merged snapshot (operators.AnnIndex)
    GateQuery("q134_persisted_ann", (s, dir) => {
      import graft.operators.AnnIndex
      // index memoized per sfDir (see ivfIndexDir): the timed body is the
      // SEARCH — probe 2 of 8 cells of the merged snapshot — not training
      val base = ivfIndexDir(s, dir)
      val emb = t(s, dir, "embeddings")
      AnnIndex.queryIvf(s, base, emb.where(col("vec_id") < 20),
        "vec_id", "embedding", k = 5, nProbe = 2, ts0("2024-06-01 00:00:00"))
        .orderBy(col("query_id"), col("rank"))
    },
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), eb AS (
        |  SELECT vec_id, v FROM e WHERE vec_id < 1500
        |), c0 AS (
        |  SELECT list(v ORDER BY vec_id) AS cs FROM (SELECT vec_id, v FROM eb ORDER BY vec_id LIMIT 8)
        |), a1 AS (
        |  SELECT vec_id, v, list_position(dists, list_min(dists)) - 1 AS cell
        |  FROM (
        |    SELECT vec_id, v,
        |      list_transform(cs, cent -> list_sum(list_transform(range(0, 64),
        |        d -> (v[CAST(d AS INT)+1] - cent[CAST(d AS INT)+1]) * (v[CAST(d AS INT)+1] - cent[CAST(d AS INT)+1])))) AS dists
        |    FROM eb, c0)
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
        |    FROM eb, c1)
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

    // PQ-coded persisted ANN index — q134's operational loop with CODES-ONLY
    // storage (m longs per row instead of dim doubles; the raw-vector table
    // would be as large as the corpus at 100 TB). Coarse centroids AND
    // residual codebooks train on the first batch and FREEZE; the second
    // batch ingests against them (encode is a narrow map); queries probe 2
    // of 8 cells and score members by asymmetric distance — m table lookups
    // per candidate, no vector is ever read (operators.AnnIndex.buildIvfPq/
    // queryIvfPq; exact-cosine re-rank variant spec-covered)
    GateQuery("q135_persisted_ivfpq", (s, dir) => {
      import graft.operators.AnnIndex
      // index memoized per sfDir (shared with q136): the timed body is the
      // ADC search — m table lookups per candidate — not PQ training
      val base = ivfPqIndexDir(s, dir)
      val emb = t(s, dir, "embeddings")
      AnnIndex.queryIvfPq(s, base, emb.where(col("vec_id") < 20),
        "vec_id", "embedding", k = 5, nProbe = 2, ts0("2024-06-01 00:00:00"))
        .orderBy(col("query_id"), col("rank"))
    },
      // full replay of the PQ-coded persisted index: coarse k-means (first-8
      // init on the TRAIN batch, 2 Lloyd rounds) -> per-row residual vs the
      // frozen winning centroid -> residual PQ (first-8 init, 1 round) ->
      // integer codes for ALL rows -> per-query 2-of-8 probe -> ADC = sum of
      // per-subspace code-to-residual distances, rounded then ranked
      (ivfPqReplayPrefix + "\n" +
        """SELECT query_id, neighbor_id, adc_dist,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY adc_dist ASC, neighbor_id ASC) AS BIGINT) AS rank
        |FROM agg QUALIFY rank <= 5 ORDER BY query_id, rank""".stripMargin)),

    // ADC shortlist + exact-cosine re-rank from the codes-only index: top-50
    // candidates per query by ADC (m table lookups each), then ONLY those
    // 50 rows fetch their raw vector from the source table by id and
    // re-score exactly — quantization noise never reaches the final order
    // (operators.AnnIndex.queryIvfPqRerank)
    GateQuery("q136_ivfpq_rerank", (s, dir) => {
      import graft.operators.AnnIndex
      // same memoized codes-only index as q135: the timed body is ADC
      // shortlist + exact re-rank of 50 rows, not index construction
      val base = ivfPqIndexDir(s, dir)
      val emb = t(s, dir, "embeddings")
      AnnIndex.queryIvfPqRerank(s, base, emb.where(col("vec_id") < 20), emb,
        "vec_id", "embedding", k = 5, nProbe = 2, ts0("2024-06-01 00:00:00"),
        shortlist = 50)
        .orderBy(col("query_id"), col("rank"))
    },
      // q135's ADC relation re-ranked by EXACT cosine: the top-50 ADC
      // shortlist per query fetches raw vectors by id and re-scores — the
      // production IVFADC + re-rank split, oracle-checked end to end
      (ivfPqReplayPrefix + "\n" +
        """SELECT query_id, neighbor_id, cos,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY cos DESC, neighbor_id ASC) AS BIGINT) AS rank
        |FROM (
        |  SELECT s.query_id, s.neighbor_id,
        |    round(list_dot_product(q.v, c.v)
        |      / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 6) AS cos
        |  FROM (
        |    SELECT query_id, neighbor_id,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY adc_dist ASC, neighbor_id ASC) AS srnk
        |    FROM agg) s
        |  JOIN e q ON q.vec_id = s.query_id
        |  JOIN e c ON c.vec_id = s.neighbor_id
        |  WHERE s.srnk <= 50)
        |QUALIFY rank <= 5 ORDER BY query_id, rank""".stripMargin)),
  )

  /** Persisted-ANN gate indexes (q134/q135/q136), built ONCE per (kind,
    * sfDir) in this JVM and reused by every later invocation. Build+ingest
    * is deterministic given the input dir, so reuse never changes results;
    * it makes the bench honest — the round-8 verdict measured q135/q136 at
    * ~4s of which nearly all was k-means training + encode, not the search
    * the query name claims to measure. Bench pre-builds both indexes in its
    * warmup via [[prewarmPersistedIndexes]]; Verify's single pass builds on
    * first touch (still inside the gate — the oracle replays the build). */
  private val annIndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def ts0(v: String) = java.sql.Timestamp.valueOf(v)

  private def ivfIndexDir(s: SparkSession, dir: String): String =
    annIndexCache.computeIfAbsent("ivf:" + dir, _ => {
      import graft.operators.AnnIndex
      val base = scratchDir("graft-q134")
      val emb = t(s, dir, "embeddings")
      AnnIndex.buildIvf(s, base, emb.where(col("vec_id") < 1500),
        "vec_id", "embedding", nLists = 8, lloydIters = 2,
        ts0("2024-01-01 00:00:00"))
      AnnIndex.appendVectors(s, base, emb.where(col("vec_id") >= 1500),
        "vec_id", "embedding", ts0("2024-01-02 00:00:00"))
      base
    })

  private def ivfPqIndexDir(s: SparkSession, dir: String): String =
    annIndexCache.computeIfAbsent("ivfpq:" + dir, _ => {
      import graft.operators.AnnIndex
      val base = scratchDir("graft-q135")
      val emb = t(s, dir, "embeddings")
      AnnIndex.buildIvfPq(s, base, emb.where(col("vec_id") < 250),
        "vec_id", "embedding", nLists = 8, lloydIters = 2,
        m = 4, codesPerSubspace = 8, pqIters = 1, ts0("2024-01-01 00:00:00"))
      AnnIndex.appendVectorsPq(s, base, emb.where(col("vec_id") >= 250),
        "vec_id", "embedding", ts0("2024-01-02 00:00:00"))
      base
    })

  /** Bench warmup hook: build the persisted gate indexes outside the timed
    * region so q134–q136 time SEARCH (probe + ADC / re-rank), not
    * training + ingest. */
  def prewarmPersistedIndexes(s: SparkSession, dir: String): Unit = {
    ivfIndexDir(s, dir); ivfPqIndexDir(s, dir)
  }

  /** Shared DuckDB replay of the PQ-coded persisted index up to the
    * per-(query, neighbor) ADC distance relation `agg` — q135 ranks it
    * directly, q136 re-ranks an ADC shortlist by exact cosine. */
  private val ivfPqReplayPrefix: String =
    """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), eb AS (
        |  SELECT vec_id, v FROM e WHERE vec_id < 250
        |), c0 AS (
        |  SELECT list(v ORDER BY vec_id) AS cs FROM (SELECT vec_id, v FROM eb ORDER BY vec_id LIMIT 8)
        |), a1 AS (
        |  SELECT vec_id, v, list_position(dists, list_min(dists)) - 1 AS cell
        |  FROM (
        |    SELECT vec_id, v,
        |      list_transform(cs, cent -> list_sum(list_transform(range(0, 64),
        |        d -> (v[CAST(d AS INT)+1] - cent[CAST(d AS INT)+1]) * (v[CAST(d AS INT)+1] - cent[CAST(d AS INT)+1])))) AS dists
        |    FROM eb, c0)
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
        |    FROM eb, c1)
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
        |), asg AS (
        |  SELECT vec_id, v, list_position(dists, list_min(dists)) - 1 AS cell
        |  FROM (
        |    SELECT vec_id, v,
        |      list_transform(cs, cent -> list_sum(list_transform(range(0, 64),
        |        d -> (v[CAST(d AS INT)+1] - cent[CAST(d AS INT)+1]) * (v[CAST(d AS INT)+1] - cent[CAST(d AS INT)+1])))) AS dists
        |    FROM e, c2)
        |), r AS (
        |  SELECT a.vec_id, a.cell,
        |    list_transform(range(0, 64), d ->
        |      a.v[CAST(d AS INT)+1] - cs[CAST(a.cell AS INT)+1][CAST(d AS INT)+1]) AS res
        |  FROM asg a, c2
        |), rsub AS (
        |  SELECT vec_id, cell, CAST(t.j AS INT) AS j,
        |    res[CAST(t.j*16+1 AS INT):CAST(t.j*16+16 AS INT)] AS sv
        |  FROM r CROSS JOIN range(0, 4) t(j)
        |), p0 AS (
        |  SELECT j, list(sv ORDER BY vec_id) AS cs
        |  FROM (SELECT vec_id, j, sv FROM rsub WHERE vec_id < 250
        |        QUALIFY row_number() OVER (PARTITION BY j ORDER BY vec_id) <= 8)
        |  GROUP BY j
        |), pa1 AS (
        |  SELECT vec_id, j, sv, list_position(d, list_min(d)) - 1 AS cell
        |  FROM (
        |    SELECT rsub.vec_id, rsub.j AS j, sv,
        |      list_transform(cs, c -> list_sum(list_transform(range(0, 16), i ->
        |        (sv[CAST(i AS INT)+1] - c[CAST(i AS INT)+1]) * (sv[CAST(i AS INT)+1] - c[CAST(i AS INT)+1])))) AS d
        |    FROM rsub JOIN p0 ON rsub.j = p0.j
        |    WHERE rsub.vec_id < 250)
        |), pu1 AS (
        |  SELECT j, cell, list(m ORDER BY pos) AS cent
        |  FROM (
        |    SELECT j, cell, pos, avg(x) AS m
        |    FROM (SELECT j, cell, generate_subscripts(sv, 1) AS pos, unnest(sv) AS x FROM pa1)
        |    GROUP BY j, cell, pos)
        |  GROUP BY j, cell
        |), pc1 AS (
        |  SELECT g.j, list(coalesce(pu1.cent, p0.cs[CAST(g.c AS INT)+1]) ORDER BY g.c) AS cs
        |  FROM (SELECT CAST(t.j AS INT) AS j, CAST(t2.c AS INT) AS c
        |        FROM range(0, 4) t(j) CROSS JOIN range(0, 8) t2(c)) g
        |  JOIN p0 ON p0.j = g.j
        |  LEFT JOIN pu1 ON pu1.j = g.j AND pu1.cell = g.c
        |  GROUP BY g.j
        |), codes AS (
        |  SELECT vec_id, cell, j, list_position(d, list_min(d)) - 1 AS code
        |  FROM (
        |    SELECT rsub.vec_id, rsub.cell, rsub.j AS j,
        |      list_transform(cs, c -> list_sum(list_transform(range(0, 16), i ->
        |        (sv[CAST(i AS INT)+1] - c[CAST(i AS INT)+1]) * (sv[CAST(i AS INT)+1] - c[CAST(i AS INT)+1])))) AS d
        |    FROM rsub JOIN pc1 ON rsub.j = pc1.j)
        |), probe AS (
        |  SELECT vec_id, cell,
        |    list_transform(range(0, 64), d ->
        |      v[CAST(d AS INT)+1] - cs[CAST(cell AS INT)+1][CAST(d AS INT)+1]) AS qres
        |  FROM (
        |    SELECT q.vec_id, q.v, t.i AS cell, cs,
        |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |        list_sum(list_transform(range(0, 64),
        |          d -> (q.v[CAST(d AS INT)+1] - cs[CAST(t.i AS INT)+1][CAST(d AS INT)+1])
        |             * (q.v[CAST(d AS INT)+1] - cs[CAST(t.i AS INT)+1][CAST(d AS INT)+1]))), t.i) AS rn
        |    FROM (SELECT vec_id, v FROM e WHERE vec_id < 20) q
        |    CROSS JOIN range(0, 8) t(i) CROSS JOIN c2)
        |  WHERE rn <= 2
        |), sc AS (
        |  SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id, c.j,
        |    list_sum(list_transform(range(0, 16), i ->
        |      (p.qres[CAST(c.j*16 + i AS INT)+1] - k.cs[CAST(c.code AS INT)+1][CAST(i AS INT)+1])
        |      * (p.qres[CAST(c.j*16 + i AS INT)+1] - k.cs[CAST(c.code AS INT)+1][CAST(i AS INT)+1]))) AS dj
        |  FROM probe p
        |  JOIN codes c ON p.cell = c.cell AND p.vec_id <> c.vec_id
        |  JOIN pc1 k ON k.j = c.j
        |), agg AS (
        |  SELECT query_id, neighbor_id,
        |    round(sum(dj), 6) AS adc_dist
        |  FROM sc GROUP BY query_id, neighbor_id
        |)
""".stripMargin
}
