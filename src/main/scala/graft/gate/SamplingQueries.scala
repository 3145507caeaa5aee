package graft.gate

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.Dedup

/** Gate queries whose result comes from [[graft.operators.Sampling]]. */
object SamplingQueries {
  import DedupQueries.jaccardClusterCore

  lazy val queries: Seq[GateQuery] = Seq(
    // deterministic stratified sampling: membership from a content hash, so
    // the sample is reproducible across engines/partitionings (oracle
    // recomputes the identical md5 bucket)
    GateQuery("q38_stratified_sample", (s, dir) => {
      import graft.operators.Sampling
      Sampling.stratifiedHashSample(t(s, dir, "documents"),
        key = col("doc_id"), stratum = col("lang"),
        rates = Map("en" -> 0.2), defaultRate = 0.5)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id, lang FROM documents
        |WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 10000
        |  < CASE WHEN lang = 'en' THEN 2000 ELSE 5000 END
        |ORDER BY doc_id""".stripMargin),

    // deterministic per-key cap: at most 5 events per user, chosen by a
    // content-hash ranking — stable under re-runs/repartitioning, unlike
    // head-N of file order (operators.Sampling.cappedPerKey)
    GateQuery("q53_capped_per_key", (s, dir) => {
      import graft.operators.Sampling
      Sampling.cappedPerKey(
        events(s, dir).select(col("event_id"), col("user_id"), col("event_type")),
        keys = Seq(col("user_id")), rankKey = col("event_id"), maxPerKey = 5)
        .orderBy(col("event_id"))
    },
      """SELECT event_id, user_id, event_type FROM events
        |QUALIFY row_number() OVER (PARTITION BY user_id
        |  ORDER BY ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT,
        |    CAST(event_id AS VARCHAR)) <= 5
        |ORDER BY event_id""".stripMargin),

    // quality-weighted deterministic sampling: each doc kept with its own
    // probability (= its quality score), content-hash decided
    GateQuery("q55_weighted_sample", (s, dir) => {
      import graft.operators.Sampling
      Sampling.weightedHashSample(t(s, dir, "documents"),
        key = col("doc_id"), weight = TextFunctions.qualityScore(col("text")))
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    },
      // weight = the q15 quality score, recomputed; membership = md5 bucket
      """SELECT doc_id, lang FROM documents
        |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10000
        |  < round(round((least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
        |      + greatest(1.0 - round(CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE) / greatest(length(text), 1), 6) * 5.0, 0.0)
        |      + least(round(CAST(len(regexp_extract_all(lower(text), '\b(the|a|an|and|of|to|in|is|it|that)\b')) AS DOUBLE) / greatest(len(regexp_extract_all(text, '\S+')), 1), 6) * 4.0, 1.0)
        |     ) / 3.0, 6) * 10000)
        |ORDER BY doc_id""".stripMargin),

    // data-mixture sampling: largest en:2/de:1/fr:1 corpus achievable
    // without upsampling, per-source caps filled by content-hash rank
    // (operators.Sampling.mixtureSample); es/zh are unweighted -> dropped
    GateQuery("q65_mixture_sample", (s, dir) => {
      import graft.operators.Sampling
      Sampling.mixtureSample(
        t(s, dir, "documents").select(col("doc_id"), col("lang")),
        "lang", Map("en" -> 2.0, "de" -> 1.0, "fr" -> 1.0),
        rankKey = col("doc_id"))
        .orderBy(col("doc_id"))
    },
      // scale = min(n_s / w_s); caps = max(floor(w_s * scale), 1); fill by
      // the same md5 rank as the Spark side
      """WITH w AS (
        |  SELECT * FROM (VALUES ('en', 2.0), ('de', 1.0), ('fr', 1.0)) AS t(lang, wt)
        |), c AS (
        |  -- DOUBLE, not the VALUES literal's DECIMAL: the Spark side's
        |  -- scale/caps are IEEE double arithmetic
        |  SELECT d.lang, CAST(w.wt AS DOUBLE) AS wt, count(*) AS n
        |  FROM documents d JOIN w USING (lang) GROUP BY d.lang, w.wt
        |), sc AS (
        |  SELECT min(n / wt) AS scale FROM c
        |), caps AS (
        |  SELECT lang, greatest(CAST(floor(wt * scale) AS BIGINT), 1) AS cap
        |  FROM c, sc
        |)
        |SELECT doc_id, d.lang FROM documents d JOIN caps USING (lang)
        |QUALIFY row_number() OVER (PARTITION BY d.lang
        |  ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
        |    CAST(doc_id AS VARCHAR)) <= cap
        |ORDER BY doc_id""".stripMargin),

    // deterministic train/val/test split: md5-bucket assignment, stable
    // under corpus growth (a doc's split never changes when others come or
    // go) — the leak-free eval-set property
    GateQuery("q69_split_assign", (s, dir) => {
      import graft.operators.Sampling
      Sampling.splitByHash(t(s, dir, "documents").select(col("doc_id"), col("lang")),
        col("doc_id"), Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .orderBy(col("doc_id"))
    },
      // cumulative bucket bounds: train < 8000, val < 9000, test = rest
      """SELECT doc_id, lang,
        |  CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 10000 < 8000 THEN 'train'
        |       WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 10000 < 9000 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin),

    // weighted sampling WITHOUT replacement: 100 docs with probability
    // ∝ n_chars via Gumbel top-k — the EXECUTION half of importance
    // resampling (q126 computes DSIR weights; this selects with them).
    // One map pass + TakeOrderedAndProject (per-partition heads, k-row
    // driver merge; no global sort). Noise u = (h+0.5)/2^20 from md5 is an
    // exact binary rational, so the oracle recomputes every key
    // bit-identically (operators.Sampling.gumbelTopK)
    GateQuery("q148_gumbel_sample", (s, dir) => {
      import graft.operators.Sampling
      Sampling.gumbelTopK(
          t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
          col("doc_id"), log(col("n_chars").cast("double")), k = 100)
        .select(col("doc_id"), col("n_chars"),
          round(col("gumbel_key"), 6).as("gumbel_key"))
        .orderBy(col("doc_id"))
    },
      // Gumbel top-k replay: the noise uniform is (h+0.5)/2^20 with h the
      // first 5 hex digits of md5 — an exact binary rational, so both
      // engines compute identical doubles; selection happens on unrounded
      // keys, the output rounds for the float compare
      """WITH keyed AS (
        |  SELECT doc_id, n_chars,
        |    ln(n_chars::DOUBLE) +
        |    -ln(-ln((('0x' || substr(md5(doc_id::VARCHAR), 1, 5))::BIGINT + 0.5)
        |            / 1048576.0)) AS k
        |  FROM documents
        |), top AS (
        |  SELECT doc_id, n_chars, k FROM keyed
        |  ORDER BY k DESC, doc_id::VARCHAR LIMIT 100
        |)
        |SELECT doc_id, n_chars, round(k, 6) AS gumbel_key
        |FROM top ORDER BY doc_id""".stripMargin),

    // mixture WITH upsampling: the most over-supplied language anchors the
    // scale, smaller ones replicate toward equal shares (epoch column),
    // capped at 4 repetitions; fractional epochs are md5-hash draws in
    // integer micro-units, so the oracle recomputes counts -> rates ->
    // replication exactly (operators.Sampling.mixtureSampleWithReplacement)
    GateQuery("q160_mixture_upsample", (s, dir) => {
      graft.operators.Sampling.mixtureSampleWithReplacement(
        t(s, dir, "documents").select(col("doc_id"), col("lang")),
        "lang",
        Map("en" -> 0.25, "de" -> 0.25, "fr" -> 0.25, "zh" -> 0.25),
        key = col("doc_id"), maxEpochs = 4)
        .select(col("doc_id"), col("lang"), col("epoch"))
        .orderBy(col("doc_id"), col("epoch"))
    },
      // upsampling mixture: counts -> anchor scale -> per-source (full
      // epochs, fractional micro-units) all recomputed relationally; the
      // fractional epoch replays as the md5 bucket of 'doc_id#epoch'
      """WITH counts AS (
        |  SELECT lang, count(*) AS n FROM documents GROUP BY lang
        |), w(lang, wt) AS (VALUES
        |  ('en', 0.25), ('de', 0.25), ('fr', 0.25), ('zh', 0.25)
        |), present AS (
        |  SELECT w.lang, wt, n FROM w JOIN counts ON w.lang = counts.lang
        |  WHERE n > 0
        |), sc AS (
        |  SELECT max(n / wt) AS scale FROM present
        |), rr AS (
        |  SELECT lang,
        |    CAST(floor(least(wt * scale / n, 4.0)) AS BIGINT) AS f,
        |    CAST(round((least(wt * scale / n, 4.0)
        |      - floor(least(wt * scale / n, 4.0))) * 1000000) AS BIGINT) AS frac
        |  FROM present, sc
        |), rep AS (
        |  SELECT d.doc_id, d.lang, CAST(t.i AS BIGINT) AS epoch, rr.f, rr.frac
        |  FROM documents d JOIN rr ON d.lang = rr.lang
        |  CROSS JOIN range(0, 5) t(i)
        |  WHERE t.i <= rr.f
        |)
        |SELECT doc_id, lang, epoch FROM rep
        |WHERE epoch < f OR
        |  ('0x' || substr(md5(coalesce(CAST(doc_id AS VARCHAR), chr(0) || 'graft_null')
        |    || '#' || CAST(epoch AS VARCHAR)), 1, 15))::BIGINT % 1000000 < frac
        |ORDER BY doc_id, epoch""".stripMargin),

    // exactly-100 deterministic sample: distributed TopK on the content
    // hash — exact size AND content-determined membership
    GateQuery("q75_sample_exact_k", (s, dir) => {
      import graft.operators.Sampling
      Sampling.sampleExactK(
        t(s, dir, "documents").select(col("doc_id"), col("lang")),
        col("doc_id"), k = 100)
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang FROM documents
        |  ORDER BY ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT,
        |    CAST(doc_id AS VARCHAR)
        |  LIMIT 100
        |) ORDER BY doc_id""".stripMargin),

    // greedy token-budget corpus selection WITHOUT a global sort: priority
    // bands cumulate on a bands-sized frame, per-row running totals come
    // from band offset + within-band window (operators.Sampling
    // .budgetSelect); semantically identical to the oracle's single global
    // window cumsum
    GateQuery("q109_budget_select", (s, dir) => {
      import graft.operators.Sampling
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
      Sampling.budgetSelect(d, col("doc_id"), col("n_tokens"),
        col("n_chars").cast("double"), budget = 12000L,
        minPriority = 0.0, maxPriority = 1000.0, nBands = 20)
        .select(col("doc_id"), col("n_chars"), col("n_tokens"), col("cum_cost"))
        .orderBy(col("cum_cost"))
    },
      // single global window cumsum — the semantics the banded Spark plan
      // must reproduce exactly (integer token costs, so no float drift)
      """WITH d AS (
        |  SELECT doc_id, n_chars,
        |    len(string_split(text, ' '))::BIGINT AS n_tokens
        |  FROM documents
        |)
        |SELECT doc_id, n_chars, n_tokens,
        |  CAST(sum(n_tokens) OVER (ORDER BY n_chars DESC, doc_id ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cost
        |FROM d
        |QUALIFY cum_cost <= 12000
        |ORDER BY cum_cost""".stripMargin),

    // temperature (α=0.5) token-budget mixing across sources: weights are
    // floor(sqrt(mass·10⁶)) — integers — and shares are largest-remainder
    // apportionment, so allocations sum to exactly the budget and every
    // step after the map-combined per-source mass rollup is bit-exact in
    // any engine (operators.Sampling.temperatureAllocate)
    GateQuery("q112_mixture_allocate", (s, dir) => {
      import graft.operators.Sampling
      val d = t(s, dir, "documents").select(col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      Sampling.temperatureAllocate(d, "source", col("n_tokens"), budget = 20000L)
        .orderBy(col("source"))
    },
      """WITH d AS (
        |  SELECT source, len(string_split(text, ' '))::BIGINT AS n_tokens FROM documents
        |), ws AS (
        |  SELECT source, sum(n_tokens)::BIGINT AS total_cost,
        |    CAST(floor(sqrt(CAST(sum(n_tokens)::BIGINT * 1000000 AS DOUBLE))) AS BIGINT) AS weight
        |  FROM d GROUP BY source
        |), tot AS (
        |  SELECT sum(weight)::BIGINT AS w_all FROM ws
        |), base AS (
        |  SELECT source, total_cost, weight,
        |    (20000 * weight) // w_all AS alloc_base,
        |    (20000 * weight) % w_all AS rem
        |  FROM ws, tot
        |), lo AS (
        |  SELECT 20000 - sum(alloc_base)::BIGINT AS leftover FROM base
        |), fin AS (
        |  SELECT source, total_cost, weight,
        |    (alloc_base + CASE WHEN row_number() OVER (ORDER BY rem DESC, source ASC)
        |       <= leftover THEN 1 ELSE 0 END)::BIGINT AS alloc
        |  FROM base, lo
        |)
        |SELECT source, total_cost, weight, alloc,
        |  round(CAST(alloc AS DOUBLE) / total_cost, 6) AS rate
        |FROM fin ORDER BY source""".stripMargin),

    // temperature (count^0.5) source rebalancing: smallest source keeps
    // all rows, a k×-larger source keeps sqrt(1/k) of its rows by content
    // hash — map-side filter against two broadcast relations; the uniform
    // synthetic sources are re-bucketed 60/30/10 so the rule actually binds
    // (operators.Sampling.temperatureSample)
    GateQuery("q122_temperature_sample", (s, dir) => {
      import graft.operators.Sampling
      val bucketed = t(s, dir, "documents").withColumn("src_class",
        when(pmod(col("doc_id"), lit(10L)) < 6, lit("web"))
          .when(pmod(col("doc_id"), lit(10L)) < 9, lit("books"))
          .otherwise(lit("code")))
      Sampling.temperatureSample(bucketed, "src_class", col("doc_id"))
        .select(col("doc_id"), col("src_class"))
        .orderBy(col("doc_id"))
    },
      // keep-rate sqrt(n_min/n) is a correctly-rounded IEEE sqrt of an exact
      // integer ratio — bit-identical in any engine; membership is the q38
      // md5 hash-bucket rule
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 10 < 6 THEN 'web'
        |         WHEN doc_id % 10 < 9 THEN 'books'
        |         ELSE 'code' END AS src_class
        |  FROM documents
        |), c AS (SELECT src_class, count(*) AS n FROM d GROUP BY src_class),
        |mn AS (SELECT min(n) AS nmin FROM c)
        |SELECT d.doc_id, d.src_class
        |FROM d JOIN c USING (src_class), mn
        |WHERE ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 15))::BIGINT % 10000
        |  < round(sqrt(CAST(mn.nmin AS DOUBLE) / n) * 10000)
        |ORDER BY d.doc_id""".stripMargin),

    // leakage-safe split: near-dup clusters (q32's detector) hash to ONE
    // split as a unit, so no near-copy pair straddles the train/test fence
    // and held-out metrics can't silently measure memorisation
    // (operators.Sampling.leakageSafeSplit)
    GateQuery("q133_leakage_safe_split", (s, dir) => {
      import graft.operators.Sampling
      val docs = t(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        blockCols = Seq(col("lang"), floor(col("n_chars") / lit(50)).as("len_bucket")),
        n = 3, threshold = 0.7)
      Sampling.leakageSafeSplit(docs, "doc_id", pairs, "id_a", "id_b",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .orderBy(col("doc_id"))
    },
      (jaccardClusterCore +
      """
        |SELECT doc_id, cluster_id,
        |  CASE WHEN ('0x' || substr(md5(cluster_id::VARCHAR), 1, 15))::BIGINT % 10000 < 8000 THEN 'train'
        |       WHEN ('0x' || substr(md5(cluster_id::VARCHAR), 1, 15))::BIGINT % 10000 < 9000 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM clustered ORDER BY doc_id""".stripMargin)),
  )
}
