package graft.gate

import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Gate queries whose result comes from [[graft.operators.Graphs]]. */
object GraphsQueries {
  import DedupQueries.jaccardClusterCore

  lazy val queries: Seq[GateQuery] = Seq(
    // dedup clusters: near-dup pairs -> connected components -> keep flags,
    // oracle-checked against a recursive-CTE transitive closure in DuckDB
    GateQuery("q32_dup_clusters", (s, dir) => {
      import graft.operators.Graphs
      val docs = t(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        blockCols = Seq(col("lang"), floor(col("n_chars") / lit(50)).as("len_bucket")),
        n = 3, threshold = 0.7)
      Graphs.dedupClusters(docs, "doc_id", pairs, "id_a", "id_b")
        .orderBy(col("doc_id"))
    },
      (jaccardClusterCore +
      """
        |SELECT doc_id, cluster_id, cluster_id = doc_id AS keep
        |FROM clustered ORDER BY doc_id""".stripMargin)),

    // fixed-iteration PageRank on the customer->supplier purchase graph:
    // 3 power iterations, per-round rounding pins cross-engine floats;
    // the oracle unrolls the same 3 rounds in SQL
    GateQuery("q74_pagerank", (s, dir) => {
      import graft.operators.Graphs
      // key spaces overlap numerically; parity-encode so customer 5 and
      // supplier 5 stay distinct vertices. LONG vertices, not the oracle's
      // "c5"/"s5" strings: every iteration joins and aggregates on the
      // vertex, and 8-byte keys beat strings in the shuffle, the broadcast
      // map, and the checkpoint blocks at any scale — the string form is
      // reconstructed only in the final projection (grouping is identical,
      // so every per-vertex double matches the string-keyed unroll bit for
      // bit)
      val edges = t(s, dir, "orders")
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
      Graphs.pageRank(edges, "src", "dst", iterations = 3)
        .select(
          when(pmod(col("vertex"), lit(2)) === 0,
            concat(lit("c"), expr("vertex div 2").cast("string")))
            .otherwise(concat(lit("s"), expr("(vertex - 1) div 2").cast("string")))
            .as("vertex"),
          col("pagerank"))
        .orderBy(col("vertex"))
    },
      // 3 unrolled power iterations; all literals cast to DOUBLE so DuckDB's
      // default DECIMAL parsing cannot change the arithmetic
      """WITH e AS (
        |  SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
        |         's' || CAST(l_suppkey AS VARCHAR) AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |), v AS (
        |  SELECT src AS vertex FROM e UNION SELECT dst FROM e
        |), nn AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n FROM v
        |), deg AS (
        |  SELECT src, count(*) AS deg FROM e GROUP BY src
        |), base AS (
        |  SELECT vertex, deg FROM v LEFT JOIN deg ON vertex = deg.src
        |), s0 AS (
        |  SELECT vertex, deg, round(CAST(1.0 AS DOUBLE) / n, 9) AS pr FROM base, nn
        |), c1 AS (
        |  SELECT dst, sum(pr / deg) AS m FROM s0 JOIN e ON s0.vertex = e.src GROUP BY dst
        |), s1 AS (
        |  SELECT b.vertex, b.deg,
        |    round((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / n
        |      + CAST(0.85 AS DOUBLE) * coalesce(m, CAST(0.0 AS DOUBLE)), 9) AS pr
        |  FROM base b LEFT JOIN c1 ON b.vertex = c1.dst, nn
        |), c2 AS (
        |  SELECT dst, sum(pr / deg) AS m FROM s1 JOIN e ON s1.vertex = e.src GROUP BY dst
        |), s2 AS (
        |  SELECT b.vertex, b.deg,
        |    round((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / n
        |      + CAST(0.85 AS DOUBLE) * coalesce(m, CAST(0.0 AS DOUBLE)), 9) AS pr
        |  FROM base b LEFT JOIN c2 ON b.vertex = c2.dst, nn
        |), c3 AS (
        |  SELECT dst, sum(pr / deg) AS m FROM s2 JOIN e ON s2.vertex = e.src GROUP BY dst
        |), s3 AS (
        |  SELECT b.vertex, b.deg,
        |    round((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / n
        |      + CAST(0.85 AS DOUBLE) * coalesce(m, CAST(0.0 AS DOUBLE)), 9) AS pr
        |  FROM base b LEFT JOIN c3 ON b.vertex = c3.dst, nn
        |)
        |SELECT vertex, round(pr, 6) AS pagerank FROM s3 ORDER BY vertex""".stripMargin),

    // personalized PageRank from three seed customers: proximity-to-seed
    // scores, same deterministic unroll contract as q74
    GateQuery("q86_personalized_pagerank", (s, dir) => {
      import graft.operators.Graphs
      // same parity-encoded long vertices as q74 (see there); seeds c1/c2/c3
      // become 2/4/6 in the encoded space
      val edges = t(s, dir, "orders")
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
      Graphs.personalizedPageRank(edges, "src", "dst",
        seeds = Seq("2", "4", "6"), iterations = 3)
        .select(
          when(pmod(col("vertex"), lit(2)) === 0,
            concat(lit("c"), expr("vertex div 2").cast("string")))
            .otherwise(concat(lit("s"), expr("(vertex - 1) div 2").cast("string")))
            .as("vertex"),
          col("pagerank"))
        .orderBy(col("vertex"))
    },
      // q74's unroll with seed-restricted teleport: restart mass lands only
      // on the three seed customers, both in init and every round
      """WITH e AS (
        |  SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
        |         's' || CAST(l_suppkey AS VARCHAR) AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |), v AS (
        |  SELECT src AS vertex FROM e UNION SELECT dst FROM e
        |), deg AS (
        |  SELECT src, count(*) AS deg FROM e GROUP BY src
        |), base AS (
        |  SELECT vertex, deg,
        |    CASE WHEN vertex IN ('c1', 'c2', 'c3')
        |         THEN (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / 3
        |         ELSE CAST(0.0 AS DOUBLE) END AS tp
        |  FROM v LEFT JOIN deg ON vertex = deg.src
        |), s0 AS (
        |  SELECT vertex, deg, tp,
        |    CASE WHEN vertex IN ('c1', 'c2', 'c3')
        |         THEN round(CAST(1.0 AS DOUBLE) / 3, 9) ELSE CAST(0.0 AS DOUBLE)
        |    END AS pr
        |  FROM base
        |), c1 AS (
        |  SELECT dst, sum(pr / deg) AS m FROM s0 JOIN e ON s0.vertex = e.src GROUP BY dst
        |), s1 AS (
        |  SELECT b.vertex, b.deg, b.tp,
        |    round(b.tp + CAST(0.85 AS DOUBLE) * coalesce(m, CAST(0.0 AS DOUBLE)), 9) AS pr
        |  FROM base b LEFT JOIN c1 ON b.vertex = c1.dst
        |), c2 AS (
        |  SELECT dst, sum(pr / deg) AS m FROM s1 JOIN e ON s1.vertex = e.src GROUP BY dst
        |), s2 AS (
        |  SELECT b.vertex, b.deg, b.tp,
        |    round(b.tp + CAST(0.85 AS DOUBLE) * coalesce(m, CAST(0.0 AS DOUBLE)), 9) AS pr
        |  FROM base b LEFT JOIN c2 ON b.vertex = c2.dst
        |), c3 AS (
        |  SELECT dst, sum(pr / deg) AS m FROM s2 JOIN e ON s2.vertex = e.src GROUP BY dst
        |), s3 AS (
        |  SELECT b.vertex, b.deg, b.tp,
        |    round(b.tp + CAST(0.85 AS DOUBLE) * coalesce(m, CAST(0.0 AS DOUBLE)), 9) AS pr
        |  FROM base b LEFT JOIN c3 ON b.vertex = c3.dst
        |)
        |SELECT vertex, round(pr, 6) AS pagerank FROM s3 ORDER BY vertex""".stripMargin),
  )
}
