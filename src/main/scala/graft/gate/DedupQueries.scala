package graft.gate

import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Gate queries whose result comes from [[graft.operators.Dedup]]. */
object DedupQueries {
  lazy val queries: Seq[GateQuery] = Seq(
    GateQuery("q13_dedup_exact", (s, dir) => {
      Dedup.exactGroups(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("content_md5"))
    },
      """SELECT md5(text) AS content_md5, min(doc_id) AS keeper_id, count(*) AS n_docs
        |FROM documents GROUP BY 1 ORDER BY content_md5""".stripMargin),

    GateQuery("q17_ngram_jaccard_pairs", (s, dir) => {
      Dedup.ngramJaccardPairs(
        t(s, dir, "documents"), "doc_id", "text",
        blockCols = Seq(col("lang"), floor(col("n_chars") / lit(50)).as("len_bucket")),
        n = 3, threshold = 0.7)
        .orderBy(col("id_a"), col("id_b"))
    },
      // replays the engine's candidate pipeline, not a naive all-pairs: the
      // block equi-join AND the size prefilter (min/max gram counts with the
      // same half-step relaxation) run BEFORE any intersection, and the
      // jaccard is computed once — the prefilter is lossless (a dropped pair
      // is provably below threshold), so results are identical while the sf1
      // replay evaluates ~the same candidate set the engine does
      // the pairwise work collapses to DISTINCT (lang, bucket, text) rows
      // first (grams as 60-bit md5 BIGINTs, q123's oracle style; inverted-
      // index intersection counts), then expands back to doc ids: identical
      // texts have identical gram sets (jaccard exactly 1.0 >= any
      // threshold), so a massively-replicated corpus — the sf1 replay is 10
      // byte-identical copies — costs the distinct-text universe, not the
      // id universe. Same distinct-first trick the engine's fuzzy matcher
      // uses; without it the hot-gram equi-join is ~B^2 per block per gram
      // (measured: >1 CPU-hour at sf1 vs ~1s collapsed, identical output)
      """WITH dt AS (
        | SELECT lang, floor(n_chars / 50) AS len_bucket, text, min(doc_id) AS rep
        | FROM documents GROUP BY lang, floor(n_chars / 50), text
        |), ids AS (
        | SELECT d.doc_id, t.rep
        | FROM documents d JOIN dt t ON d.text IS NOT DISTINCT FROM t.text
        |   AND d.lang IS NOT DISTINCT FROM t.lang
        |   AND floor(d.n_chars / 50) IS NOT DISTINCT FROM t.len_bucket
        |), p AS (
        | SELECT rep, lang, len_bucket,
        |  list_distinct(list_transform(range(1, greatest(length(text) - 2, 1) + 1),
        |    i -> ('0x' || substr(md5(substr(text, CAST(i AS INT), 3)), 1, 15))::BIGINT)) AS grams
        | FROM dt
        |), idx AS (
        | SELECT rep, lang, len_bucket, unnest(grams) AS g FROM p
        |), ixc AS (
        | SELECT a.rep AS rep_a, b.rep AS rep_b, count(*) AS ix
        | FROM idx a JOIN idx b
        |   ON a.g = b.g AND a.lang = b.lang AND a.len_bucket = b.len_bucket
        |  AND a.rep < b.rep
        | GROUP BY 1, 2
        |), pl AS (SELECT rep, len(grams) AS ng FROM p
        |), rp AS (
        | SELECT rep_a, rep_b,
        |   round(CAST(ix AS DOUBLE) / (pa.ng + pb.ng - ix), 4) AS jaccard
        | FROM ixc JOIN pl pa ON pa.rep = rep_a JOIN pl pb ON pb.rep = rep_b
        | WHERE round(CAST(ix AS DOUBLE) / (pa.ng + pb.ng - ix), 4) >= 0.7
        |)
        |SELECT id_a, id_b, jaccard FROM (
        | SELECT least(ia.doc_id, ib.doc_id) AS id_a,
        |   greatest(ia.doc_id, ib.doc_id) AS id_b, r.jaccard
        | FROM rp r JOIN ids ia ON ia.rep = r.rep_a JOIN ids ib ON ib.rep = r.rep_b
        | UNION ALL
        | -- identical texts: gram sets equal, jaccard exactly 1.0. NULL-text
        | -- groups are excluded: they carry no grams, so the pre-collapse
        | -- formulation never paired them
        | SELECT a.doc_id, b.doc_id, 1.0 AS jaccard
        | FROM ids a JOIN ids b ON a.rep = b.rep AND a.doc_id < b.doc_id
        | WHERE a.rep IN (SELECT rep FROM p WHERE grams IS NOT NULL)
        |) ORDER BY id_a, id_b""".stripMargin),

    GateQuery("q18_minhash_lsh_pairs", (s, dir) => {
      Dedup.minHashLshPairs(t(s, dir, "documents"), "doc_id", "text",
        bands = 8, rowsPerBand = 8, shingleWords = 3, threshold = 0.5)
        .orderBy(col("id_a"), col("id_b"))
    },
      // MinHash+LSH: the md5-affine signature family (Dedup.minHashParams) is
      // recomputable in any SQL engine; the LSH bucket criterion "xxhash64 of
      // the band slice collides" is replaced by its semantic equivalent "the
      // band slices are equal" (a collision without slice equality is ~2^-64)
      // distinct-text collapse (see q17's oracle comment): identical texts
      // have identical signatures (est exactly 1.0, always banded together),
      // so signatures and band pairs run over DISTINCT texts and expand back
      // to ids; empty-token texts have no signature and thus no pairs
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
        |  -- banded buckets exactly as the engine shuffles them: "some band
        |  -- slice equal" becomes a band-bucket equi-join, never all-pairs
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
        |SELECT id_a, id_b, est_jaccard FROM (
        |  SELECT least(ia.doc_id, ib.doc_id) AS id_a,
        |    greatest(ia.doc_id, ib.doc_id) AS id_b, r.est_jaccard
        |  FROM rp r JOIN ids ia ON ia.rep = r.rep_a JOIN ids ib ON ib.rep = r.rep_b
        |  UNION ALL
        |  SELECT a.doc_id, b.doc_id, 1.0 AS est_jaccard
        |  FROM ids a JOIN ids b ON a.rep = b.rep AND a.doc_id < b.doc_id
        |  WHERE a.rep IN (SELECT rep FROM p)
        |) ORDER BY id_a, id_b""".stripMargin),

    GateQuery("q19_simhash_fingerprints", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), Dedup.simHash("text").as("simhash"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id,
        | list_sum(list_transform(range(0, 60), i ->
        |   CASE WHEN coalesce(list_sum(list_transform(regexp_extract_all(text, '\S+'),
        |          tok -> CASE WHEN ((('0x' || substr(md5(tok), 1, 15))::BIGINT >> i) & 1) = 1
        |                 THEN 1 ELSE -1 END)), 0) >= 0
        |        THEN (1::BIGINT << (59 - i::INT)) ELSE 0 END))::BIGINT AS simhash
        |FROM documents ORDER BY doc_id""".stripMargin),

    // benchmark decontamination: word-3-gram overlap of every doc against a
    // benchmark set (docs 0-9); bench gram hashes broadcast, corpus-side
    // explode hits them with no corpus-wide shuffle (Dedup.decontaminate)
    GateQuery("q52_decontaminate", (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.decontaminate(docs, "doc_id", "text",
        benchmark = docs.filter(col("doc_id") < 10), benchTextCol = "text",
        n = 3, maxHits = 0L)
        .orderBy(col("doc_id"))
    },
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM documents
        |), g AS (
        |  SELECT doc_id,
        |    CASE WHEN len(t) = 0 THEN []::VARCHAR[]
        |         ELSE list_distinct(list_transform(range(1, greatest(len(t) - 2, 1) + 1),
        |           i -> array_to_string(t[i:i+2], ' ')))
        |    END AS grams
        |  FROM toks
        |), bench AS (
        |  SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id < 10
        |), ex AS (
        |  SELECT doc_id, unnest(grams) AS gram FROM g
        |), hits AS (
        |  SELECT ex.doc_id, count(*) AS n_hits
        |  FROM ex JOIN bench USING (gram) GROUP BY ex.doc_id
        |)
        |SELECT g.doc_id, CAST(len(grams) AS BIGINT) AS n_grams,
        |  coalesce(h.n_hits, 0) AS n_hits,
        |  coalesce(h.n_hits, 0) > 0 AS contaminated
        |FROM g LEFT JOIN hits h ON g.doc_id = h.doc_id
        |ORDER BY g.doc_id""".stripMargin),

    // exact-substring duplication profile: distinct 8-token windows per doc,
    // shared iff the window occurs in another doc (Dedup.substringDupProfile;
    // window strings never shuffle — only 64-bit hashes do)
    GateQuery("q61_substring_dup", (s, dir) => {
      Dedup.substringDupProfile(t(s, dir, "documents"), "doc_id", "text",
        windowTokens = 8, minShare = 0.25)
        .orderBy(col("doc_id"))
    },
      // mirrors the Spark hash-internal pipeline on gram STRINGS: per-doc
      // distinct 8-token windows, shared iff seen in >= 2 docs
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM documents
        |), g AS (
        |  SELECT doc_id,
        |    CASE WHEN len(t) = 0 THEN []::VARCHAR[]
        |         ELSE list_distinct(list_transform(range(1, greatest(len(t) - 7, 1) + 1),
        |           i -> array_to_string(t[i:i+7], ' ')))
        |    END AS grams
        |  FROM toks
        |), ex AS (
        |  SELECT doc_id, unnest(grams) AS gram FROM g
        |), sh AS (
        |  SELECT gram FROM ex GROUP BY gram HAVING count(*) >= 2
        |), cnt AS (
        |  SELECT ex.doc_id, count(*) AS n_shared
        |  FROM ex JOIN sh USING (gram) GROUP BY ex.doc_id
        |)
        |SELECT g.doc_id, CAST(len(grams) AS BIGINT) AS n_windows,
        |  coalesce(cnt.n_shared, 0) AS n_shared,
        |  round(coalesce(cnt.n_shared, 0) / greatest(len(grams), 1), 6) AS dup_frac,
        |  round(coalesce(cnt.n_shared, 0) / greatest(len(grams), 1), 6) >= 0.25 AS flagged
        |FROM g LEFT JOIN cnt ON g.doc_id = cnt.doc_id
        |ORDER BY g.doc_id""".stripMargin),

    // corpus-level overlap: per-source MinHash signature (component-wise
    // min over the source's docs — minwise hashing is a union
    // homomorphism), pairwise estimated 3-gram Jaccard between sources;
    // the shuffle carries only (group, component, min) cells
    // (operators.Dedup.corpusOverlap)
    GateQuery("q92_corpus_overlap", (s, dir) => {
      import graft.operators.Dedup
      Dedup.corpusOverlap(t(s, dir, "documents"), "source", "text",
        shingleWords = 3, k = 64)
        .orderBy(col("group_a"), col("group_b"))
    },
      """WITH params AS (
        |  SELECT
        |    list_transform(range(0, 64), i ->
        |      (('0x' || substr(md5('minhash_a_' || i), 1, 8))::BIGINT % 536870912) * 2 + 1) AS pa,
        |    list_transform(range(0, 64), i ->
        |      ('0x' || substr(md5('minhash_b_' || i), 1, 8))::BIGINT) AS pb
        |), sh AS (
        |  SELECT source,
        |    list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
        |      s -> array_to_string(toks[s:s+2], ' ')) AS shingles
        |  FROM (SELECT source, regexp_extract_all(text, '\S+') AS toks FROM documents)
        |  WHERE len(toks) > 0
        |), p AS (
        |  SELECT source,
        |    list_transform(range(0, 64), i ->
        |      list_min(list_transform(xs, x -> (pa[i+1] * x + pb[i+1]) % 2305843009213693951))) AS sig
        |  FROM (SELECT source,
        |          list_transform(shingles, s -> ('0x' || substr(md5(s), 1, 8))::BIGINT) AS xs
        |        FROM sh), params
        |), comp AS (
        |  SELECT source, t.i AS i, min(sig[CAST(t.i AS INT) + 1]) AS h
        |  FROM p CROSS JOIN range(0, 64) t(i)
        |  GROUP BY source, t.i
        |), gsig AS (
        |  SELECT source, list(h ORDER BY i) AS sig FROM comp GROUP BY source
        |)
        |SELECT a.source AS group_a, b.source AS group_b,
        |  round(len(list_filter(range(0, 64), i -> a.sig[i+1] = b.sig[i+1])) / 64.0, 4) AS est_jaccard
        |FROM gsig a JOIN gsig b ON a.source < b.source
        |ORDER BY group_a, group_b""".stripMargin),

    // cross-document duplicate-paragraph profile (the corpus-wide twin of
    // q90's within-doc dedup): same deterministic synthesis — NAV blocks
    // shared by every doc of a source, mostly-unique leads/bodies; dup =
    // paragraph text present in >1 distinct doc. Hash-keyed shuffles only
    // (operators.Dedup.paragraphDupStats)
    GateQuery("q94_paragraph_dup_ratio", (s, dir) => {
      import graft.operators.Dedup
      val lead = substring(col("text"), 1, 60)
      val nav = concat(lit("NAV "), col("source"))
      val body = substring(col("text"), 61, 80)
      val doc = concat_ws("\n\n", lead, nav, lead, body, nav)
      val synth = t(s, dir, "documents").select(col("doc_id"), doc.as("text"))
      Dedup.paragraphDupStats(synth, "doc_id", "text")
        .orderBy(col("doc_id"))
    },
      """WITH synth AS (
        |  SELECT doc_id,
        |    substr(text, 1, 60) || chr(10) || chr(10) || 'NAV ' || source
        |      || chr(10) || chr(10) || substr(text, 1, 60) || chr(10) || chr(10)
        |      || substr(text, 61, 80) || chr(10) || chr(10) || 'NAV ' || source AS text
        |  FROM documents
        |), paras AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(string_split(text, chr(10) || chr(10))) AS para
        |  FROM synth
        |), occ AS (
        |  SELECT para, count(*) AS nd FROM paras GROUP BY para
        |)
        |SELECT p.doc_id, count(*) AS n_paras,
        |  CAST(sum(CASE WHEN o.nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_paras,
        |  round(CAST(sum(CASE WHEN o.nd > 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*), 4) AS dup_ratio
        |FROM paras p JOIN occ o USING (para)
        |GROUP BY p.doc_id ORDER BY p.doc_id""".stripMargin),

    // canonical-doc selection: q32's near-dup clusters, but the keep policy
    // is highest-quality-member (n_chars here; ties -> lowest id) instead
    // of smallest-id — one window shuffle on the cluster key
    // (operators.Dedup.selectCanonical)
    GateQuery("q97_canonical_docs", (s, dir) => {
      import graft.operators.{Dedup, Graphs}
      val docs = t(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        blockCols = Seq(col("lang"), floor(col("n_chars") / lit(50)).as("len_bucket")),
        n = 3, threshold = 0.7)
      val clustered = Graphs.dedupClusters(docs, "doc_id", pairs, "id_a", "id_b")
        .drop("keep")
        .join(docs.select(col("doc_id"), col("n_chars").as("quality")), Seq("doc_id"))
      Dedup.selectCanonical(clustered, "doc_id", "cluster_id", col("quality"))
        .orderBy(col("doc_id"))
    },
      (jaccardClusterCore +
      """
        |SELECT c.doc_id, c.cluster_id, d.n_chars AS quality,
        |  (row_number() OVER (PARTITION BY c.cluster_id
        |     ORDER BY d.n_chars DESC, c.doc_id ASC)) = 1 AS is_canonical
        |FROM clustered c JOIN documents d ON d.doc_id = c.doc_id
        |ORDER BY c.doc_id""".stripMargin)),

    // media perceptual near-dup — the media twin of simhash: blockhash-style
    // 60-bit pHash (stub kernel over the decoded codepoint stream; integer
    // seg*60>total bit rule so DuckDB replays it bit-exactly) computed via
    // the per-partition MediaKernel path, then quadrant-blocked pairing
    // (Dedup.fingerprintPairs — lossless at hamming<=3, never all-pairs).
    // Twins = each doc re-encoded with a 4-char in-place edit; most land
    // within hamming 3 of their original, some drift past it (realistic)
    GateQuery("q104_media_phash", (s, dir) => {
      import graft.operators.Multimodal
      val docs = t(s, dir, "documents")
      val twins = docs.select((col("doc_id") + 10000L).as("doc_id"),
        concat(substring(col("text"), 1, 4), lit("zzzz"),
          expr("substring(text, 9)")).as("text"))
      val media = docs.select(col("doc_id"), col("text")).unionByName(twins)
        .select(col("doc_id"), encode(col("text"), "utf-8").as("content"))
      val hashed = Multimodal.perceptualHashes(media, "doc_id", "content")
      Dedup.fingerprintPairs(hashed.select(col("doc_id"), col("phash").as("sh")),
        maxHamming = 3)
        .withColumn("hamming", col("hamming").cast("long"))
        .orderBy(col("id_a"), col("id_b"))
    },
      """WITH allm AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000 AS doc_id,
        |    substr(text, 1, 4) || 'zzzz' || substr(text, 9) AS text FROM documents
        |), chars AS (
        |  SELECT doc_id, ((p - 1) * 60) // m AS s, unicode(text[CAST(p AS INT)]) AS v
        |  FROM (SELECT doc_id, text, len(text) AS m,
        |        CAST(unnest(generate_series(1, len(text))) AS BIGINT) AS p
        |        FROM allm WHERE len(text) > 0)
        |), segsum AS (
        |  SELECT doc_id, s, CAST(sum(v) AS BIGINT) AS sv FROM chars GROUP BY 1, 2
        |), tot AS (
        |  SELECT doc_id, CAST(sum(v) AS BIGINT) AS tv FROM chars GROUP BY 1
        |), ph AS (
        |  SELECT b.doc_id AS doc_id, CAST(coalesce(h.h, 0) AS BIGINT) AS phash
        |  FROM allm b LEFT JOIN (
        |    SELECT segsum.doc_id AS doc_id,
        |      CAST(sum(CASE WHEN sv * 60 > tv THEN (1::BIGINT << CAST(s AS INT))
        |        ELSE 0 END) AS BIGINT) AS h
        |    FROM segsum JOIN tot USING (doc_id) GROUP BY 1) h ON b.doc_id = h.doc_id
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.phash::BITSTRING, b.phash::BITSTRING)) AS BIGINT) AS hamming
        |FROM ph a JOIN ph b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.phash::BITSTRING, b.phash::BITSTRING)) <= 3
        |ORDER BY id_a, id_b""".stripMargin),

    // winnowing fingerprints (MOSS): rolling 16-gram hashes, rightmost-min
    // per 16-hash window via the native graft_winnow expression — pure
    // narrow map + explode, no shuffle; any ≥31-codepoint shared substring
    // between two docs shares a fingerprint. The oracle replays the hash
    // family and the rightmost-min selection in DuckDB list SQL
    // (operators.Dedup.winnowFingerprints)
    GateQuery("q111_winnow_fingerprints", (s, dir) => {
      Dedup.winnowFingerprints(t(s, dir, "documents"), "doc_id", "text",
        k = 16, w = 16)
        .orderBy(col("doc_id"), col("pos"))
    },
      """WITH h AS (
        |  SELECT doc_id,
        |    list_transform(range(1, greatest(length(text) - 15, 0) + 1), p ->
        |      list_reduce(list_prepend(0::BIGINT, list_transform(range(0, 16), j ->
        |        ascii(substr(text, CAST(p + j AS INT), 1))::BIGINT)),
        |        (hh, c) -> (hh * 257 + c) % 2147483647)) AS hs
        |  FROM documents
        |), m AS (
        |  SELECT doc_id, hs, len(hs) AS mm FROM h WHERE len(hs) >= 1
        |), wins AS (
        |  SELECT doc_id, hs, mm,
        |    list_transform(range(1, greatest(mm - 15, 1) + 1), i ->
        |      list_min(list_slice(hs, CAST(i AS INT), CAST(least(i + 15, mm) AS INT)))) AS wmin
        |  FROM m
        |), posl AS (
        |  SELECT doc_id, wmin,
        |    list_transform(range(1, len(wmin) + 1), i ->
        |      list_max(list_filter(range(i, least(i + 16, mm + 1)), j ->
        |        hs[CAST(j AS INT)] = wmin[CAST(i AS INT)]))) AS wpos
        |  FROM wins
        |)
        |SELECT DISTINCT doc_id, pos, fp_hash FROM (
        |  SELECT doc_id, unnest(wpos)::BIGINT AS pos, unnest(wmin)::BIGINT AS fp_hash
        |  FROM posl)
        |ORDER BY doc_id, pos""".stripMargin),

    // shingle novelty vs the earlier corpus: fraction of a doc's distinct
    // 5-gram shingles first seen in THIS doc — the crawl-batch prioritizer.
    // Shingles shuffle as 60-bit hashes, first-seen is map-combined
    // min(doc_id), nothing quadratic (operators.Dedup.shingleNovelty)
    GateQuery("q114_shingle_novelty", (s, dir) => {
      Dedup.shingleNovelty(t(s, dir, "documents"), "doc_id", "text", n = 5)
        .orderBy(col("doc_id"))
    },
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(text, '\S+') AS tk FROM documents
        |), sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(tk) - 4, 1) + 1),
        |    s -> array_to_string(tk[s:s+4], ' ')))) AS s
        |  FROM toks
        |), hp AS (
        |  SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h FROM sh
        |), fs AS (
        |  SELECT h, min(doc_id) AS first_doc FROM hp GROUP BY h
        |), agg AS (
        |  SELECT hp.doc_id, count(*)::BIGINT AS n_shingles,
        |    sum(CASE WHEN fs.first_doc = hp.doc_id THEN 1 ELSE 0 END)::BIGINT AS n_novel
        |  FROM hp JOIN fs USING (h) GROUP BY hp.doc_id
        |)
        |SELECT doc_id, n_shingles, n_novel,
        |  round(CAST(n_novel AS DOUBLE) / n_shingles, 4) AS novelty
        |FROM agg ORDER BY doc_id""".stripMargin),

    // directional near-containment (boilerplate-wrapped / quoted-in-full
    // docs): PPJoin-style rarest-first prefix filtering over character
    // 7-grams — only ⌊0.2·|X|⌋+1 prefix grams join the inverted index,
    // hot grams (>50 docs) capped out of candidate generation
    // (operators.Dedup.containmentPairs)
    GateQuery("q123_containment_pairs", (s, dir) => {
      import graft.operators.Dedup
      Dedup.containmentPairs(
        t(s, dir, "documents").where(col("lang") === "en"),
        "doc_id", "text", n = 7, threshold = 0.8, maxGramFreq = 50L)
        .orderBy(col("id_contained"), col("id_container"))
    },
      // identical prefix selection (rarest-first (df, gram) rank over the
      // same sorted distinct 7-grams) and identical verify arithmetic; the
      // (1 - 0.8) literal subtraction yields the same IEEE double in both
      // engines, so the prefix lengths agree exactly
      """WITH d0 AS (SELECT doc_id, text FROM documents WHERE lang = 'en'),
        |p AS (
        |  SELECT doc_id, list_sort(list_distinct(list_transform(
        |    range(1, greatest(length(text) - 6, 1) + 1),
        |    i -> ('0x' || substr(md5(substr(text, CAST(i AS INT), 7)), 1, 15))::BIGINT))) AS g
        |  FROM d0
        |), sz AS (SELECT doc_id, g, len(g) AS n FROM p),
        |idx AS (SELECT doc_id, unnest(g) AS gram FROM p),
        |df AS (SELECT gram, count(*) AS df FROM idx GROUP BY gram),
        |idx2 AS (
        |  SELECT doc_id, gram FROM idx JOIN df USING (gram) WHERE df <= 50
        |), pre AS (
        |  -- prefix ranked over NON-HOT grams only (PPJoin-with-cap); the
        |  -- prefix length keeps the FULL gram count n
        |  SELECT doc_id, gram FROM (
        |    SELECT i.doc_id, i.gram, d.df, s.n,
        |      row_number() OVER (PARTITION BY i.doc_id ORDER BY d.df, i.gram) AS rn
        |    FROM idx i JOIN df d USING (gram) JOIN sz s ON s.doc_id = i.doc_id
        |    WHERE d.df <= 50)
        |  WHERE rn <= CAST(floor((1 - 0.8) * n) AS INT) + 1
        |), cand AS (
        |  SELECT DISTINCT a.doc_id AS id_contained, b.doc_id AS id_container
        |  FROM pre a JOIN idx2 b ON a.gram = b.gram AND a.doc_id <> b.doc_id
        |)
        |SELECT c.id_contained, c.id_container,
        |  round(CAST(len(list_intersect(x.g, y.g)) AS DOUBLE) / x.n, 4)
        |    AS containment
        |FROM cand c JOIN sz x ON c.id_contained = x.doc_id
        |  JOIN sz y ON c.id_container = y.doc_id
        |WHERE round(CAST(len(list_intersect(x.g, y.g)) AS DOUBLE) / x.n, 4)
        |  >= 0.8
        |ORDER BY id_contained, id_container""".stripMargin),

    // within-document paragraph dedup: first occurrence survives, order
    // preserved. Corpus texts carry no newlines, so docs are synthesized
    // with a repeated lead paragraph + a repeated nav block (same
    // deterministic-synthesis pattern as q85); one doc-keyed shuffle
    // (operators.Dedup.dedupParagraphs)
    GateQuery("q90_paragraph_dedup", (s, dir) => {
      import graft.operators.Dedup
      val lead = substring(col("text"), 1, 60)
      val nav = concat(lit("NAV "), col("source"))
      val body = substring(col("text"), 61, 80)
      val doc = concat_ws("\n\n", lead, nav, lead, body, nav)
      val synth = t(s, dir, "documents")
        .select(col("doc_id"), doc.as("text"))
      Dedup.dedupParagraphs(synth, "doc_id", "text")
        .select(col("doc_id"), col("text"))
        .orderBy(col("doc_id"))
    },
      """WITH synth AS (
        |  SELECT doc_id,
        |    substr(text, 1, 60) || chr(10) || chr(10) || 'NAV ' || source
        |      || chr(10) || chr(10) || substr(text, 1, 60) || chr(10) || chr(10)
        |      || substr(text, 61, 80) || chr(10) || chr(10) || 'NAV ' || source AS text
        |  FROM documents
        |), paras AS (
        |  SELECT doc_id, unnest(arr) AS para,
        |    CAST(unnest(range(1, len(arr) + 1)) AS BIGINT) AS pos
        |  FROM (SELECT doc_id, string_split(text, chr(10) || chr(10)) AS arr FROM synth)
        |), firsts AS (
        |  SELECT doc_id, para, min(pos) AS pos FROM paras GROUP BY doc_id, para
        |)
        |SELECT doc_id,
        |  string_agg(para, chr(10) || chr(10) ORDER BY pos) AS text
        |FROM firsts GROUP BY doc_id ORDER BY doc_id""".stripMargin),
  )

  /** Shared rep-level core of the ngram-jaccard clustering oracles
    * (q32/q97/q133): the distinct-text collapse (see q17's oracle comment —
    * identical texts have jaccard exactly 1.0, so pairwise work runs over
    * DISTINCT (lang, bucket, text) rows and expands back to ids; >1
    * CPU-hour → ~1s at the sf1 replay's 10× byte-identical corpus,
    * identical output) + connected components over rep-level near-dup
    * pairs. The rep of a text group is its MIN doc_id, so the rep-level
    * component minimum IS the id-level component minimum — `clustered`
    * carries exactly the per-doc cluster labels the id-level walk yields. */
  private[gate] val jaccardClusterCore: String =
    """WITH RECURSIVE dt AS (
      | SELECT lang, floor(n_chars / 50) AS len_bucket, text, min(doc_id) AS rep
      | FROM documents GROUP BY lang, floor(n_chars / 50), text
      |), ids AS (
      | SELECT d.doc_id, t.rep
      | FROM documents d JOIN dt t ON d.text IS NOT DISTINCT FROM t.text
      |   AND d.lang IS NOT DISTINCT FROM t.lang
      |   AND floor(d.n_chars / 50) IS NOT DISTINCT FROM t.len_bucket
      |), p AS (
      | SELECT rep, lang, len_bucket,
      |  list_distinct(list_transform(range(1, greatest(length(text) - 2, 1) + 1),
      |    i -> ('0x' || substr(md5(substr(text, CAST(i AS INT), 3)), 1, 15))::BIGINT)) AS grams
      | FROM dt
      |), idx AS (
      | SELECT rep, lang, len_bucket, unnest(grams) AS g FROM p
      |), ixc AS (
      | SELECT a.rep AS rep_a, b.rep AS rep_b, count(*) AS ix
      | FROM idx a JOIN idx b
      |   ON a.g = b.g AND a.lang = b.lang AND a.len_bucket = b.len_bucket
      |  AND a.rep < b.rep
      | GROUP BY 1, 2
      |), pl AS (SELECT rep, len(grams) AS ng FROM p
      |), rpairs AS (
      | SELECT rep_a, rep_b FROM ixc
      | JOIN pl pa ON pa.rep = rep_a JOIN pl pb ON pb.rep = rep_b
      | WHERE round(CAST(ix AS DOUBLE) / (pa.ng + pb.ng - ix), 4) >= 0.7
      |), edges AS (
      | SELECT rep_a AS src, rep_b AS dst FROM rpairs
      | UNION SELECT rep_b, rep_a FROM rpairs
      |), walk(v, c) AS (
      | SELECT src, src FROM edges
      | UNION
      | SELECT e.dst, w.c FROM walk w JOIN edges e ON e.src = w.v
      |), rcl AS (
      | SELECT t.rep, coalesce(min(w.c), t.rep) AS cluster_id
      | FROM (SELECT DISTINCT rep FROM dt) t LEFT JOIN walk w ON w.v = t.rep
      | GROUP BY t.rep
      |), clustered AS (
      | SELECT i.doc_id, r.cluster_id FROM ids i JOIN rcl r ON r.rep = i.rep
      |)""".stripMargin
}
