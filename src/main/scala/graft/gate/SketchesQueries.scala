package graft.gate

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Gate queries whose result comes from [[graft.operators.Sketches]]. */
object SketchesQueries {
  lazy val queries: Seq[GateQuery] = Seq(
    // count-min sketch: md5-derived hash family, so the oracle recomputes
    // the IDENTICAL depth×width sketch and the gate hash-compares the
    // estimates themselves (not just bounds, unlike HLL q31); width 32 on
    // a 31-token vocab forces real collisions, min-over-depth resolves
    // them; one-sided estimate >= exact asserted per token
    // (operators.Sketches)
    GateQuery("q101_count_min", (s, dir) => {
      import graft.operators.Sketches
      val toks = t(s, dir, "documents")
        .select(explode(graft.functions.TextFunctions.tokens(lower(col("text"))))
          .as("token"))
      // one corpus pass: the exact frequency frame feeds the weighted sketch
      // construction (linear sketch — bit-identical to hashing every token
      // instance, but md5 runs over the 31-token vocab, not ~1M instances).
      // The vocab frame is materialized to the driver (31 rows) rather than
      // persist()ed: the caller evaluates the returned frame AFTER this
      // body exits, so a persist here could never be released and would
      // hold cached blocks for the rest of a 149-query session.
      val exactDist = toks.groupBy(col("token"))
        .agg(count(lit(1)).as("exact_count"))
      val exactRows = java.util.Arrays.asList(exactDist.collect(): _*)
      val exact = s.createDataFrame(exactRows, exactDist.schema)
      val sketch = Sketches.countMinSketchWeighted(exact, "token", "exact_count",
        depth = 4, width = 32)
      Sketches.countMinEstimate(exact, "token", sketch, depth = 4, width = 32)
        .withColumn("one_sided_ok", col("cm_estimate") >= col("exact_count"))
        .orderBy(col("token"))
    },
      """WITH tok AS (
        |  SELECT unnest(regexp_extract_all(lower(text), '\S+')) AS t FROM documents
        |), exact AS (
        |  SELECT t, count(*) AS exact_count FROM tok GROUP BY t
        |), cells AS (
        |  SELECT t, d.range AS d,
        |    ('0x' || substr(md5('cm_' || d.range || '_' || t), 1, 8))::BIGINT % 32 AS b
        |  FROM tok, range(0, 4) d
        |), sk AS (
        |  SELECT d, b, count(*) AS c FROM cells GROUP BY d, b
        |), qb AS (
        |  SELECT t, d.range AS d,
        |    ('0x' || substr(md5('cm_' || d.range || '_' || t), 1, 8))::BIGINT % 32 AS b
        |  FROM exact, range(0, 4) d
        |), est AS (
        |  SELECT t, CAST(min(coalesce(c, 0)) AS BIGINT) AS cm_estimate
        |  FROM qb LEFT JOIN sk USING (d, b) GROUP BY t
        |)
        |SELECT e.t AS token, exact_count, cm_estimate,
        |  cm_estimate >= exact_count AS one_sided_ok
        |FROM exact e JOIN est USING (t) ORDER BY token""".stripMargin),

    // two-pass heavy hitters: count-min sketch (pass 1, bounded driver
    // state) filters the instance stream MAP-SIDE — only candidate-token
    // instances reach the exact-count shuffle (pass 2). One-sidedness makes
    // candidates a superset of the true heavy set; width 32 on a 31-token
    // vocab forces collisions, so some candidates arrive un`confirmed` —
    // the false-positive mechanics the oracle replays exactly
    // (operators.Sketches.heavyHitters)
    GateQuery("q110_heavy_hitters", (s, dir) => {
      import graft.operators.Sketches
      val toks = t(s, dir, "documents")
        .select(explode(TextFunctions.tokens(lower(col("text")))).as("token"))
      Sketches.heavyHitters(toks, "token", threshold = 900L, depth = 4, width = 32)
        .orderBy(col("token"))
    },
      """WITH tok AS (
        |  SELECT unnest(regexp_extract_all(lower(text), '\S+')) AS token FROM documents
        |), cells AS (
        |  SELECT token, d.range AS d,
        |    ('0x' || substr(md5('cm_' || d.range || '_' || token), 1, 8))::BIGINT % 32 AS b
        |  FROM tok, range(0, 4) d
        |), sk AS (
        |  SELECT d, b, count(*) AS c FROM cells GROUP BY d, b
        |), est AS (
        |  SELECT token, CAST(min(coalesce(c, 0)) AS BIGINT) AS cm_estimate
        |  FROM (SELECT DISTINCT token, d, b FROM cells) q
        |  LEFT JOIN sk USING (d, b) GROUP BY token
        |), exact AS (
        |  SELECT token, count(*) AS exact_count FROM tok GROUP BY token
        |)
        |SELECT e.token, est.cm_estimate, e.exact_count::BIGINT AS exact_count,
        |  e.exact_count >= 900 AS confirmed
        |FROM exact e JOIN est USING (token)
        |WHERE est.cm_estimate >= 900 ORDER BY token""".stripMargin),

    // pre-flight join sizing WITHOUT running the join: count-min inner
    // product (min over depths of Σ cmA·cmB — one-sided by construction)
    // estimates |lineitem ⋈ urgent orders|; both sides reduce map-combined
    // to depth×width cells first (Sketches.cmJoinSizeEstimate). The exact
    // join runs alongside only to exhibit the bound
    GateQuery("q131_cm_join_size", (s, dir) => {
      import graft.operators.Sketches
      val li = t(s, dir, "lineitem").select(col("l_orderkey").as("k"))
      val ord = t(s, dir, "orders").where(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey").as("k"))
      val est = Sketches.cmJoinSizeEstimate(
        Sketches.countMinSketch(li, "k", depth = 4, width = 2048),
        Sketches.countMinSketch(ord, "k", depth = 4, width = 2048),
        depth = Some(4))
      val exact = li.join(ord, Seq("k")).agg(count(lit(1)).as("exact_rows"))
      est.crossJoin(exact) // 1 row × 1 row
        .withColumn("one_sided_ok", col("cm_join_estimate") >= col("exact_rows"))
    },
      """WITH a AS (SELECT l_orderkey AS k FROM lineitem),
        |b AS (SELECT o_orderkey AS k FROM orders
        |      WHERE o_orderpriority = '1-URGENT'),
        |ca AS (
        |  SELECT d.range AS d,
        |    ('0x' || substr(md5('cm_' || d.range || '_' || k), 1, 8))::BIGINT % 2048 AS bkt,
        |    count(*) AS cm_a
        |  FROM a, range(0, 4) d GROUP BY 1, 2
        |), cb AS (
        |  SELECT d.range AS d,
        |    ('0x' || substr(md5('cm_' || d.range || '_' || k), 1, 8))::BIGINT % 2048 AS bkt,
        |    count(*) AS cm_b
        |  FROM b, range(0, 4) d GROUP BY 1, 2
        |), dotsj AS (
        |  SELECT d, sum(cm_a * cm_b) AS dot
        |  FROM ca JOIN cb USING (d, bkt) GROUP BY d
        |), dots AS (
        |  -- full depth spine: a depth with NO overlapping cells is dot = 0,
        |  -- the tightest one-sided bound — the inner join above would drop it
        |  SELECT dd.range AS d, coalesce(dotsj.dot, 0) AS dot
        |  FROM range(0, 4) dd LEFT JOIN dotsj ON dotsj.d = dd.range
        |), est AS (SELECT CAST(coalesce(min(dot), 0) AS BIGINT)
        |           AS cm_join_estimate FROM dots),
        |ex AS (SELECT count(*) AS exact_rows FROM a JOIN b USING (k))
        |SELECT cm_join_estimate, exact_rows,
        |  cm_join_estimate >= exact_rows AS one_sided_ok
        |FROM est, ex""".stripMargin),

    // per-year distinct-partkey cardinality via the bounded graft_kmv
    // aggregate (sql.KmvSketch): buffer = 128 longs per group regardless of
    // input size, map-combined; estimate = (k-1)·2^60/kth, exact below k
    GateQuery("q127_kmv_distinct", (s, dir) => {
      import graft.operators.Sketches
      val sk = Sketches.kmvSketch(t(s, dir, "lineitem"),
        Seq(year(col("l_shipdate")).cast("long").as("yr")), col("l_partkey"), 128)
      sk.select(col("yr"), size(col("kmv")).cast("long").as("k_used"),
          round(Sketches.kmvEstimate(col("kmv"), 128), 4).as("est_distinct"))
        .orderBy(col("yr"))
    },
      """WITH h AS (
        |  SELECT DISTINCT year(l_shipdate) AS yr,
        |    ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15))::BIGINT AS hv
        |  FROM lineitem
        |), r AS (
        |  SELECT yr, hv, row_number() OVER (PARTITION BY yr ORDER BY hv) AS rn,
        |    count(*) OVER (PARTITION BY yr) AS nd
        |  FROM h
        |), s AS (
        |  SELECT yr, count(*) FILTER (WHERE rn <= 128) AS k_used,
        |    max(CASE WHEN rn = 128 THEN hv END) AS kth, max(nd) AS nd
        |  FROM r GROUP BY yr
        |)
        |SELECT yr, k_used,
        |  round(CASE WHEN nd < 128 THEN CAST(nd AS DOUBLE)
        |    ELSE 127.0 * 1152921504606846976.0 / CAST(kth AS DOUBLE) END, 4)
        |    AS est_distinct
        |FROM s ORDER BY yr""".stripMargin),

    // corpus-overlap audit from MERGED sketches: distinct partkeys shipped
    // in each date half, their union, and the intersection estimate —
    // computed entirely from two 256-long arrays, the roll-up HLL can't do
    GateQuery("q128_kmv_overlap", (s, dir) => {
      import graft.operators.Sketches
      val k = 256
      val li = t(s, dir, "lineitem")
        .select(col("l_partkey"),
          (col("l_shipdate") < lit("1997-01-01").cast("timestamp")).as("early"))
      val sides = Sketches.kmvSketch(li, Seq(col("early")), col("l_partkey"), k)
      val a = sides.where(col("early")).select(col("kmv").as("kmv_a"))
      val b = sides.where(!col("early")).select(col("kmv").as("kmv_b"))
      a.crossJoin(b).select( // 1 row × 1 row
          round(Sketches.kmvEstimate(col("kmv_a"), k), 4).as("est_early"),
          round(Sketches.kmvEstimate(col("kmv_b"), k), 4).as("est_late"),
          round(Sketches.kmvEstimate(
            Sketches.kmvMerge(col("kmv_a"), col("kmv_b"), k), k), 4).as("est_union"),
          round(Sketches.kmvIntersectEstimate(col("kmv_a"), col("kmv_b"), k), 4)
            .as("est_overlap"))
    },
      """WITH d AS (
        |  SELECT DISTINCT (l_shipdate < TIMESTAMP '1997-01-01') AS early,
        |    ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15))::BIGINT AS hv
        |  FROM lineitem
        |), r AS (
        |  SELECT early, hv,
        |    row_number() OVER (PARTITION BY early ORDER BY hv) AS rn
        |  FROM d
        |), ka AS (
        |  SELECT list_sort(list(hv)) AS kmv FROM r WHERE early AND rn <= 256
        |), kb AS (
        |  SELECT list_sort(list(hv)) AS kmv FROM r WHERE NOT early AND rn <= 256
        |), u AS (
        |  SELECT list_sort(list_distinct(ka.kmv || kb.kmv))[1:256] AS kmv,
        |    ka.kmv AS a, kb.kmv AS b
        |  FROM ka, kb
        |), est AS (
        |  SELECT
        |    CASE WHEN len(a) < 256 THEN CAST(len(a) AS DOUBLE)
        |      ELSE 255.0 * 1152921504606846976.0 / CAST(a[256] AS DOUBLE) END AS ea,
        |    CASE WHEN len(b) < 256 THEN CAST(len(b) AS DOUBLE)
        |      ELSE 255.0 * 1152921504606846976.0 / CAST(b[256] AS DOUBLE) END AS eb,
        |    CASE WHEN len(kmv) < 256 THEN CAST(len(kmv) AS DOUBLE)
        |      ELSE 255.0 * 1152921504606846976.0 / CAST(kmv[256] AS DOUBLE) END AS eu,
        |    CAST(len(list_filter(kmv,
        |        x -> list_contains(a, x) AND list_contains(b, x))) AS DOUBLE)
        |      / CAST(len(kmv) AS DOUBLE) AS rho
        |  FROM u
        |)
        |SELECT round(ea, 4) AS est_early, round(eb, 4) AS est_late,
        |  round(eu, 4) AS est_union, round(rho * eu, 4) AS est_overlap
        |FROM est""".stripMargin),
  )
}
