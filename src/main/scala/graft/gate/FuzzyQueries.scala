package graft.gate

import org.apache.spark.sql.functions._

/** Gate queries whose result comes from [[graft.operators.Fuzzy]]. */
object FuzzyQueries {
  lazy val queries: Seq[GateQuery] = Seq(
    // fuzzy dup pairs (record linkage): token-blocked candidates (equi-join
    // on a shared lowercase word — never all-pairs), Levenshtein <= 2.
    // maxTokenFreq caps blocking-bucket occupancy: tokens carried by more
    // than 1000 DISTINCT values are dropped from candidate generation (the
    // Zipfian-stopword scale guard; mirrored in the oracle, since capping
    // changes match semantics). Never binds on this corpus (8 distinct
    // names/token) — the cap is the 100-TB posture, not a tuning hack.
    GateQuery("q70_fuzzy_dups", (s, dir) => {
      import graft.operators.Fuzzy
      Fuzzy.fuzzyDupPairs(t(s, dir, "part"), "p_partkey", "p_name", maxDist = 2,
        maxTokenFreq = Some(1000L))
        .orderBy(col("id_a"), col("id_b"))
    },
      """WITH tok0 AS (
        |  SELECT p_partkey, p_name,
        |    unnest(list_distinct(string_split_regex(lower(p_name), '\s+'))) AS t
        |  FROM part
        |), hot AS (
        |  SELECT t FROM (
        |    SELECT t, count(DISTINCT p_name) AS c FROM tok0
        |    WHERE len(t) > 0 GROUP BY t
        |  ) WHERE c > 1000
        |), tok AS (
        |  SELECT * FROM tok0
        |  WHERE len(t) > 0 AND t NOT IN (SELECT t FROM hot)
        |), cand AS (
        |  SELECT DISTINCT a.p_partkey AS id_a, b.p_partkey AS id_b,
        |    a.p_name AS n1, b.p_name AS n2
        |  FROM tok a JOIN tok b ON a.t = b.t AND a.p_partkey < b.p_partkey
        |)
        |SELECT id_a, id_b, CAST(levenshtein(n1, n2) AS BIGINT) AS dist
        |FROM cand WHERE levenshtein(n1, n2) <= 2
        |ORDER BY id_a, id_b""".stripMargin),

    // q70 with BOUNDED output: only the 3 smallest ids per distinct name
    // expand into pairs (WindowGroupLimit top-k, map-side partial), so dup
    // groups emit <= 9 pairs instead of |group|^2 — the variant that stays
    // result-feasible at any replication factor; q70's unbounded twin is the
    // lone documented sf1 oracle exclusion (operators.Fuzzy
    // .fuzzyDupPairsBounded)
    GateQuery("q147_fuzzy_dups_bounded", (s, dir) => {
      import graft.operators.Fuzzy
      Fuzzy.fuzzyDupPairsBounded(t(s, dir, "part"), "p_partkey", "p_name",
        maxDist = 2, maxTokenFreq = Some(1000L), maxIdsPerName = 3)
        .orderBy(col("id_a"), col("id_b"))
    },
      // q70's oracle over the per-name 3 smallest ids only — the id-level
      // blocked join is then bounded by 3x distinct names, which keeps the
      // oracle replayable at sf1 (the unbounded q70 oracle needs ~1e9
      // levenshtein calls there). Hot-token counts are over DISTINCT names,
      // identical to q70 (capping ids never removes a name entirely).
      """WITH ranked AS (
        |  SELECT p_partkey, p_name,
        |    row_number() OVER (PARTITION BY p_name ORDER BY p_partkey) AS rk
        |  FROM part WHERE p_name IS NOT NULL
        |), capped_ids AS (
        |  SELECT p_partkey, p_name FROM ranked WHERE rk <= 3
        |), tok0 AS (
        |  SELECT p_partkey, p_name,
        |    unnest(list_distinct(string_split_regex(lower(p_name), '\s+'))) AS t
        |  FROM capped_ids
        |), hot AS (
        |  SELECT t FROM (
        |    SELECT t, count(DISTINCT p_name) AS c FROM tok0
        |    WHERE len(t) > 0 GROUP BY t
        |  ) WHERE c > 1000
        |), tok AS (
        |  SELECT * FROM tok0
        |  WHERE len(t) > 0 AND t NOT IN (SELECT t FROM hot)
        |), cand AS (
        |  SELECT DISTINCT a.p_partkey AS id_a, b.p_partkey AS id_b,
        |    a.p_name AS n1, b.p_name AS n2
        |  FROM tok a JOIN tok b ON a.t = b.t AND a.p_partkey < b.p_partkey
        |)
        |SELECT id_a, id_b, CAST(levenshtein(n1, n2) AS BIGINT) AS dist
        |FROM cand WHERE levenshtein(n1, n2) <= 2
        |ORDER BY id_a, id_b""".stripMargin),

    // end-to-end entity resolution over dirty string keys: token-blocked
    // fuzzy pairs at DISTINCT-name level -> connected components -> each row
    // mapped to (entity_id, canonical_name, n_members); rows only ever
    // equi-join the entity map (operators.Fuzzy.resolveEntities)
    GateQuery("q121_entity_resolution", (s, dir) => {
      import graft.operators.Fuzzy
      Fuzzy.resolveEntities(t(s, dir, "part"), "p_partkey", "p_name",
        maxDist = 2, maxTokenFreq = Some(1000L))
        .orderBy(col("p_partkey"))
    },
      // name-level fuzzy pairs (q70's blocking + thresholded levenshtein),
      // recursive min-label walk for components, then every part row mapped
      // through the entity map
      """WITH RECURSIVE names AS (
        |  SELECT DISTINCT p_name AS name FROM part
        |), tok AS (
        |  SELECT name, unnest(list_distinct(string_split_regex(lower(name), '\s+'))) AS t
        |  FROM names
        |), tok2 AS (SELECT * FROM tok WHERE len(t) > 0),
        |hot AS (SELECT t FROM tok2 GROUP BY t HAVING count(*) > 1000),
        |tokc AS (SELECT * FROM tok2 ANTI JOIN hot USING (t)),
        |pairs AS (
        |  SELECT a.name AS name_a, b.name AS name_b
        |  FROM tokc a JOIN tokc b ON a.t = b.t AND a.name < b.name
        |  WHERE abs(length(a.name) - length(b.name)) <= 2
        |    AND levenshtein(a.name, b.name) <= 2
        |  GROUP BY 1, 2
        |), edges AS (
        |  SELECT name_a AS src, name_b AS dst FROM pairs
        |  UNION SELECT name_b, name_a FROM pairs
        |), walk(v, c) AS (
        |  SELECT src, src FROM edges
        |  UNION SELECT e.dst, w.c FROM walk w JOIN edges e ON e.src = w.v
        |), comp AS (SELECT v AS name, min(c) AS canon FROM walk GROUP BY v),
        |mapped AS (
        |  SELECT p.p_partkey, p.p_name,
        |    coalesce(comp.canon, p.p_name) AS canonical_name
        |  FROM part p LEFT JOIN comp ON comp.name = p.p_name
        |), stats AS (
        |  SELECT canonical_name, min(p_partkey) AS entity_id,
        |    count(*) AS n_members
        |  FROM mapped GROUP BY canonical_name
        |)
        |SELECT m.p_partkey, m.p_name, s.entity_id, m.canonical_name,
        |  s.n_members
        |FROM mapped m JOIN stats s USING (canonical_name)
        |ORDER BY m.p_partkey""".stripMargin),
  )
}
