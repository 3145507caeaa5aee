package graft.gate

import org.apache.spark.sql.functions._

/** Gate queries whose result comes from [[graft.operators.DedupIndex]]. */
object DedupIndexQueries {
  lazy val queries: Seq[GateQuery] = Seq(
    // persisted dedup index — the daily-crawl loop: MinHash signatures of
    // docs 0-399 stored in an audit table over TWO append cycles (PK =
    // doc_id), then docs 400+ deduped against snapshot(ts) WITHOUT
    // re-shingling the indexed corpus: banded batch x index equi-join, only
    // (id, band, bucket) rows through the shuffle. Oracle recomputes the
    // same md5-affine signatures and restricts the q18 pair SQL to
    // batch-vs-index pairs (operators.DedupIndex over storage.AuditTable)
    GateQuery("q103_incremental_dedup", (s, dir) => {
      import graft.operators.DedupIndex
      val base = scratchDir("graft-q103")
      val docs = t(s, dir, "documents")
      val ts = java.sql.Timestamp.valueOf(_: String)
      val t0 = DedupIndex.openOrCreate(s, base)
      val t1 = DedupIndex.indexBatch(t0, docs.where(col("doc_id") < 200),
        "doc_id", "text", ts("2024-01-01 00:00:00"))
      val t2 = DedupIndex.indexBatch(t1,
        docs.where(col("doc_id") >= 200 && col("doc_id") < 400),
        "doc_id", "text", ts("2024-01-02 00:00:00"))
      DedupIndex.dedupAgainst(t2, ts("2024-06-01 00:00:00"),
        docs.where(col("doc_id") >= 400), "doc_id", "text")
        .orderBy(col("id_new"), col("id_idx"))
    },
      // distinct-text collapse (see q18's oracle comment), asymmetric delta x
      // index expansion: rep-level band candidates + estimates, then id pairs
      // oriented by the 400 split on BOTH rep-pair orientations (replicas of
      // one text can straddle the split); identical texts est exactly 1.0
      """WITH params AS (
        |  SELECT
        |    list_transform(range(0, 64), i ->
        |      (('0x' || substr(md5('minhash_a_' || i), 1, 8))::BIGINT % 536870912) * 2 + 1) AS pa,
        |    list_transform(range(0, 64), i ->
        |      ('0x' || substr(md5('minhash_b_' || i), 1, 8))::BIGINT) AS pb
        |), dt AS (
        |  SELECT text, min(doc_id) AS rep FROM documents GROUP BY text
        |), ids AS (
        |  SELECT d.doc_id, t.rep FROM documents d
        |    JOIN dt t ON d.text IS NOT DISTINCT FROM t.text
        |), sh AS (
        |  SELECT rep,
        |    list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
        |      s -> array_to_string(toks[s:s+2], ' ')) AS shingles
        |  FROM (SELECT rep, regexp_extract_all(text, '\S+') AS toks FROM dt)
        |  WHERE len(toks) > 0
        |), p AS (
        |  SELECT rep,
        |    list_transform(range(0, 64), i ->
        |      list_min(list_transform(xs, x -> (pa[i+1] * x + pb[i+1]) % 2305843009213693951))) AS sig
        |  FROM (SELECT rep,
        |          list_transform(shingles, s -> ('0x' || substr(md5(s), 1, 8))::BIGINT) AS xs
        |        FROM sh), params
        |)
        |, bb AS (
        |  SELECT rep, CAST(t.b AS INT) AS band,
        |    array_to_string(sig[CAST(t.b*8+1 AS INT):CAST(t.b*8+8 AS INT)], ',') AS bkey
        |  FROM p CROSS JOIN range(0, 8) t(b)
        |), cand AS (
        |  SELECT DISTINCT a.rep AS rep_a, b.rep AS rep_b
        |  FROM bb a JOIN bb b
        |    ON a.band = b.band AND a.bkey = b.bkey AND a.rep < b.rep
        |), rp AS (
        |  SELECT c.rep_a, c.rep_b,
        |    round(len(list_filter(range(0, 64), i -> pa.sig[i+1] = pb.sig[i+1])) / 64.0, 4) AS est_jaccard
        |  FROM cand c JOIN p pa ON pa.rep = c.rep_a JOIN p pb ON pb.rep = c.rep_b
        |  WHERE round(len(list_filter(range(0, 64), i -> pa.sig[i+1] = pb.sig[i+1])) / 64.0, 4) >= 0.5
        |)
        |SELECT id_new, id_idx, est_jaccard FROM (
        |  SELECT n.doc_id AS id_new, i.doc_id AS id_idx, r.est_jaccard
        |  FROM rp r JOIN ids n ON n.rep = r.rep_a JOIN ids i ON i.rep = r.rep_b
        |  WHERE n.doc_id >= 400 AND i.doc_id < 400
        |  UNION ALL
        |  SELECT n.doc_id AS id_new, i.doc_id AS id_idx, r.est_jaccard
        |  FROM rp r JOIN ids n ON n.rep = r.rep_b JOIN ids i ON i.rep = r.rep_a
        |  WHERE n.doc_id >= 400 AND i.doc_id < 400
        |  UNION ALL
        |  SELECT a.doc_id AS id_new, b.doc_id AS id_idx, 1.0 AS est_jaccard
        |  FROM ids a JOIN ids b ON a.rep = b.rep
        |  WHERE a.doc_id >= 400 AND b.doc_id < 400 AND a.rep IN (SELECT rep FROM p)
        |) ORDER BY id_new, id_idx""".stripMargin),
  )
}
