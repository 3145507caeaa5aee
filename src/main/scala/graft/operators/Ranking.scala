package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Corpus-statistics relevance scoring for training-data curation.
  *
  * A 100 TB corpus is filtered/weighted against query term lists (domain
  * vocabularies, quality seed words) far more often than it is "searched";
  * BM25 is the standard closed-form for that. The reference framework has no
  * ranking operators (user transforms only — SURVEY.md §2.9); this extends
  * the engine the way the text/dedup operators do.
  *
  * Scale design: corpus statistics (doc count, total token count, per-term
  * document frequency) reduce in ONE bounded aggregation pass — a single
  * driver-collected row whose width is |terms|, never corpus-sized. The
  * per-document score is then a pure map-side expression over literals, so
  * the whole operator costs one full scan plus one narrow scan: no shuffle
  * of document data at all.
  */
object Ranking {

  /** BM25 score of every document for a bag of query `terms` (exact
    * whitespace-token match, case-sensitive — normalise upstream if needed).
    *
    * idf uses the Robertson–Sparck-Jones form with the +1 floor (as in
    * Lucene): ln((N - df + 0.5) / (df + 0.5) + 1), rounded to 6 decimals on
    * the driver so any SQL oracle's libm `ln` (which may differ from the
    * JVM's in the final ulp) reproduces the identical constant.
    *
    * Output: (doc_id, n_tokens, bm25), bm25 rounded to `scale`.
    */
  def bm25(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      terms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75,
      scale: Int = 4): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    // materialize the tokenized frame: the stats reduction and the scored
    // output each read it, and re-running an expensive upstream pipeline +
    // tokenization twice doubles the dominant cost (blocks free on GC in
    // the default localCheckpoint mode — see Materialize)
    val d = docs.select(
      col(idCol).as("doc_id"),
      TextFunctions.tokens(col(textCol)).as("toks"))
      .withColumn("dl", size(col("toks")).cast("long"))
      .transform(Materialize.apply)

    // one bounded reduction: N, total length (exact longs), df per term
    val statAggs = Seq(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_len")) ++
      terms.zipWithIndex.map { case (t, i) =>
        sum(when(array_contains(col("toks"), t), 1L).otherwise(0L)).as(s"df_$i")
      }
    val row = d.agg(statAggs.head, statAggs.tail: _*).first()
    val nDocs = row.getLong(0)
    require(nDocs > 0, "bm25 over an empty corpus")
    val avgdl = row.getLong(1).toDouble / nDocs // exact longs -> identical in any engine
    val idf = terms.indices.map { i =>
      val df = row.getLong(2 + i).toDouble
      BigDecimal(math.log((nDocs - df + 0.5) / (df + 0.5) + 1.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }

    // map-side score: fixed left-to-right term order keeps double
    // accumulation identical to a SQL `t0 + t1 + ...` chain
    val score = terms.zipWithIndex.map { case (t, i) =>
      val tf = size(filter(col("toks"), x => x === lit(t))).cast("double")
      lit(idf(i)) * tf * lit(k1 + 1.0) /
        (tf + lit(k1) * (lit(1.0 - b) + lit(b) * (col("dl").cast("double") / lit(avgdl))))
    }.reduce(_ + _)

    d.select(col("doc_id"), col("dl").as("n_tokens"), round(score, scale).as("bm25"))
  }

  /** BM25 top-k retrieval for a SET of queries — the sparse half of a
    * hybrid retrieval stack (fuse with the dense top-k via [[rrfFuse]]).
    * Where [[bm25]] scores one fixed term bag map-side, this takes a whole
    * query TABLE and retrieves each query's best `k` documents through an
    * inverted-index plan: only documents sharing at least one term with a
    * query are ever scored, so cost is proportional to the postings of the
    * query terms, not |queries| × |corpus|.
    *
    * Scale shape: the corpus tokenizes once (materialized — stats and
    * postings both read it); postings `(term, doc) → tf` build in ONE
    * map-combined shuffle; document frequencies are a vocab-sized
    * aggregate; the (query-term × idf) frame is tiny and BROADCAST, so
    * scoring is a map-side join over the postings; per-query top-k rides
    * the k-bounded `graft_topk` aggregate — a stop-word query term fans
    * out over that term's postings but still combines map-side (filter
    * stop terms upstream, or cap df, if queries are adversarial).
    *
    * Determinism: idf rounds to 6 in-DAG (the [[tfIdfTopTerms]]
    * convention), each term's contribution rounds to `scale` and is summed
    * as exact integer micro-units, so the per-(query, doc) score is
    * order-free and any SQL engine replays it; ranks tie-break doc_id ASC.
    * Repeated query terms count once (boolean bag-of-terms, Lucene-style).
    *
    * `maxDfFraction` is the production hot-term knob: a stop-word-like
    * query term has corpus-sized postings and idf ≈ 0 (the +1-floored RSJ
    * idf never prunes it), so its postings dominate the scoring join while
    * contributing noise to the ranking. Terms with df > maxDfFraction ×
    * n_docs are dropped BEFORE the postings join — exactly as if the term
    * were absent from the query text (contributions are per-term additive,
    * so the surviving terms' scores are bit-identical). At the default 1.0
    * nothing can exceed the cap and results are untouched. A query whose
    * terms ALL exceed the cap returns no rows for that query.
    *
    * Output: (query_id, rank, doc_id, score), ranks 1..k. */
  def bm25TopK(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queries: DataFrame,
      queryIdCol: String,
      queryTextCol: String,
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75,
      scale: Int = 6,
      maxDfFraction: Double = 1.0): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(scale >= 1 && scale <= 9, s"scale must be in [1,9], got $scale")
    require(maxDfFraction > 0.0 && maxDfFraction <= 1.0,
      s"maxDfFraction must be in (0,1], got $maxDfFraction")
    val unit = math.pow(10, scale)
    val (d, stats, _) = bm25Corpus(docs, idCol, textCol)
    val qTerms = queries.select(
        col(queryIdCol).cast("long").as("query_id"),
        explode(TextFunctions.tokens(col(queryTextCol))).as("term"))
      .distinct()
    // r14: the one-shot path only ever scores postings of QUERY terms, so
    // the corpus token stream is semi-joined against the (broadcast,
    // query-sized) term set BEFORE the (term, doc) aggregation — the
    // full-vocabulary postings build shuffled every token of the corpus to
    // then drop all but the query terms' rows at the qIdf join (guide §3:
    // pre-filter the big side). df per retained term is unchanged (the
    // filter is term-aligned), so scores are bit-identical.
    val postings = d
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .join(broadcast(qTerms.select(col("term")).distinct()),
        Seq("term"), "left_semi")
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    val docFreq = postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // query-term-sized idf frame, broadcast over the postings: the one-shot
    // path computes contributions ONLY for postings of query terms (the
    // build-once/serve-many split below scores the whole vocabulary instead)
    val qIdf = broadcast(qTerms.join(docFreq, "term").crossJoin(stats)
      .where(col("df").cast("double") <= lit(maxDfFraction) * col("n_docs").cast("double"))
      .withColumn("idf", bm25Idf))
    val scored = postings.join(qIdf, "term")
      .withColumn("c_i", round(bm25Contribution(k1, b, scale) * lit(unit)).cast("long"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("c_i")).as("s_i"))
      .withColumn("score", col("s_i").cast("double") / lit(unit))
    topKPerKey(scored, Seq(col("query_id")), col("score"), col("doc_id"), k)
      .select(col("query_id"), col("rank"), col("id").as("doc_id"), col("score"))
  }

  /** Shared corpus preparation for [[bm25TopK]] and [[bm25Index]]:
    * materialized tokenized frame, bounded in-DAG corpus scalars (exact
    * longs → identical avgdl anywhere), and the inverted index built in
    * one map-combined shuffle (dl is constant per doc). */
  private def bm25Corpus(docs: DataFrame, idCol: String, textCol: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val d = docs.select(
        col(idCol).cast("long").as("doc_id"),
        TextFunctions.tokens(col(textCol)).as("toks"))
      .withColumn("dl", size(col("toks")).cast("long"))
      .transform(Materialize.apply)
    val stats = d.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_len"))
    val postings = d.select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    (d, stats, postings)
  }

  /** Robertson–Sparck-Jones idf with the +1 floor, round-6 (expects df /
    * n_docs columns in scope). One definition shared by the one-shot and
    * build-once paths so the arithmetic cannot drift. */
  private def bm25Idf: Column = round(
    log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)), 6)

  /** One term's BM25 contribution to one document, round-`scale` (expects
    * idf / tf / dl / total_len / n_docs columns in scope). */
  private def bm25Contribution(k1: Double, b: Double, scale: Int): Column =
    round(col("idf") * col("tf").cast("double") * lit(k1 + 1.0)
      / (col("tf").cast("double") + lit(k1) * (lit(1.0 - b)
        + lit(b) * (col("dl").cast("double")
          / (col("total_len").cast("double") / col("n_docs"))))), scale)

  /** The query-INDEPENDENT build-once half of the BM25 serving split: one
    * `(term, doc_id, c_i, df)` row per posting over the WHOLE vocabulary,
    * where `c_i` is the term's full BM25 contribution in integer
    * micro-units and `df` the term's document frequency (constant within a
    * term — near-free under columnar encoding — and what lets
    * [[bm25Retrieve]] prune hot terms at the scan). Build once, MATERIALIZE, retrieve many
    * ([[graft.streaming.Streaming.bm25ServeStream]]); for one-shot
    * retrieval prefer [[bm25TopK]], which scores only query-term postings.
    * The micro-unit scale rides in the `c_i` column metadata
    * (`graft.bm25.scale`) so [[bm25Retrieve]] can never divide by the
    * wrong power of ten. */
  def bm25Index(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k1: Double = 1.2,
      b: Double = 0.75,
      scale: Int = 6): DataFrame = {
    val (d, _, postings) = bm25Corpus(docs, idCol, textCol)
    bm25IndexFromPostings(postings, d.select(col("doc_id"), col("dl")), k1, b, scale)
  }

  /** [[bm25Index]] from an already-built postings frame
    * `(term, doc_id, tf, dl)` — document frequencies and contributions
    * derive from the postings themselves, so a PERSISTED postings store
    * ([[SparseIndex]]) refreshes its contribution index without ever
    * re-tokenizing a document. `docLengths` is one `(doc_id, dl)` row per
    * document INCLUDING token-less ones: N and avgdl count every document
    * (the Lucene convention, and what [[bm25TopK]] computes), and empty
    * docs have no postings to derive that from. */
  def bm25IndexFromPostings(
      postings: DataFrame,
      docLengths: DataFrame,
      k1: Double = 1.2,
      b: Double = 0.75,
      scale: Int = 6): DataFrame = {
    require(scale >= 1 && scale <= 9, s"scale must be in [1,9], got $scale")
    val unit = math.pow(10, scale)
    // one bounded action (two longs): the corpus scalars become literals in
    // the contribution arithmetic AND index metadata, so [[bm25Retrieve]]'s
    // df prune can interpret posting counts without ever scanning the corpus
    val statsRow = docLengths
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_len")).first()
    val nDocs = statsRow.getLong(0)
    require(nDocs > 0, "bm25 index over an empty corpus")
    val idfFrame = postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .withColumn("n_docs", lit(nDocs))
      .withColumn("total_len", lit(statsRow.getLong(1)))
      .withColumn("idf", bm25Idf)
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("graft.bm25.scale", scale.toLong)
      .putLong("graft.bm25.n_docs", nDocs).build()
    // df rides along per posting row (constant within a term, so columnar
    // RLE/dictionary encoding makes it near-free to persist): a hot-term
    // prune at retrieve time is then a plain comparison the engine can push
    // to the index SCAN — stop-word postings never leave storage
    postings.join(idfFrame, "term")
      .select(col("term"), col("doc_id"),
        round(bm25Contribution(k1, b, scale) * lit(unit)).cast("long")
          .as("c_i", meta),
        col("df"))
  }

  /** The per-query half of the serving split: distinct query terms
    * BROADCAST against the posting-sized `index` from [[bm25Index]],
    * per-(query, doc) contributions sum as exact integers, top-k rides
    * `graft_topk`. The micro-unit scale comes from the index's own
    * metadata — never a free parameter that could disagree with it.
    *
    * The broadcast COLLECTS the distinct (query_id, term) frame to the
    * driver — the interactive/mini-batch serving shape this split exists
    * for (tens-to-thousands of queries, a handful of terms each). It is NOT
    * the bulk-offline shape: a corpus-sized query table would be collected
    * whole and can OOM the driver. For bulk query×corpus scoring, run
    * [[bm25TopK]] over the raw corpus (its postings join shuffles instead
    * of broadcasting) or batch the query table through this in slices.
    *
    * `maxDfFraction` < 1 drops hot terms (df > fraction × the index's own
    * n_docs) at the index SCAN via the persisted `df` column — a pushable
    * comparison, so stop-word postings never leave storage. Semantics match
    * [[bm25TopK]]'s cap: as if the term were absent from every query. */
  def bm25Retrieve(
      index: DataFrame,
      queries: DataFrame,
      queryIdCol: String,
      queryTextCol: String,
      k: Int,
      maxDfFraction: Double = 1.0): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxDfFraction > 0.0 && maxDfFraction <= 1.0,
      s"maxDfFraction must be in (0,1], got $maxDfFraction")
    val m = index.schema("c_i").metadata
    require(m.contains("graft.bm25.scale"),
      "index is missing the graft.bm25.scale metadata on c_i — build it with Ranking.bm25Index")
    val unit = math.pow(10, m.getLong("graft.bm25.scale").toInt)
    val pruned =
      if (maxDfFraction >= 1.0) index
      else {
        require(m.contains("graft.bm25.n_docs") && index.columns.contains("df"),
          "df pruning needs an index carrying the df column and graft.bm25.n_docs " +
            "metadata — rebuild it with Ranking.bm25Index")
        index.where(col("df").cast("double")
          <= lit(maxDfFraction * m.getLong("graft.bm25.n_docs").toDouble))
      }
    val qTerms = broadcast(queries.select(
        col(queryIdCol).cast("long").as("query_id"),
        explode(TextFunctions.tokens(col(queryTextCol))).as("term"))
      .distinct())
    val scored = pruned.join(qTerms, "term")
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("c_i")).as("s_i"))
      .withColumn("score", col("s_i").cast("double") / lit(unit))
    topKPerKey(scored, Seq(col("query_id")), col("score"), col("doc_id"), k)
      .select(col("query_id"), col("rank"), col("id").as("doc_id"), col("score"))
  }

  /** Top-`topK` TF-IDF terms per document (exact whitespace tokens).
    *
    * Unlike [[bm25]] (a fixed term bag, zero shuffles of document data),
    * this scores the WHOLE vocabulary, so it is shuffle-bound by design —
    * but every shuffle stays linear and map-combined:
    *   1. explode → partial-aggregated `(doc, term) → tf` (one shuffle,
    *      combiners collapse repeats before the wire);
    *   2. document frequency by a vocabulary-sized groupBy, joined back on
    *      term. Deliberately a JOIN and not a window count: stop words put
    *      every document into a handful of term partitions, and a window's
    *      partition cannot be split — the join lets AQE broadcast the
    *      vocab-sized df side (or skew-split the shuffle when it can't);
    *   3. per-document top-k via row_number (one shuffle by doc).
    *
    * idf = ln(N / df), rounded to `scale` before the multiply so a SQL
    * oracle's libm reproduces the exact ranking doubles; ties break on term
    * ascending. Output: (doc_id, term, tf, df, score, rank). An empty
    * corpus yields an empty frame (the count is a lazy in-DAG scalar, so
    * there is no composition-time emptiness check).
    */
  def tfIdfTopTerms(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      topK: Int,
      scale: Int = 6): DataFrame = {
    require(topK > 0, "topK must be positive")
    // corpus size as a broadcast scalar INSIDE the lazy DAG (the oracle's
    // `n` CTE shape); its scan reads ZERO columns (a metadata count), so
    // the materialized tf profile below remains the only text-column pass
    val nDocs = docs.agg(count(lit(1)).cast("double").as("_graft_n"))
    val tf = docs
      .select(col(idCol).as("doc_id"),
        explode(TextFunctions.tokens(col(textCol))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    // NOTE this branch cannot share tf's exchange: df only counts rows, so
    // the optimizer strips the count function out of its copy of the
    // profile aggregate (keys-only distinct) and the two exchanges no
    // longer canonicalize equal — the corpus tokenize runs twice. Measured
    // r14: an explicit localCheckpoint of tf costs MORE at sf1 than the
    // second scan (8.4s vs 5.8s), and a window-count df would drag the
    // corpus-sized stream through a nested-loop cross for the n scalar —
    // the double scan is the cheapest correct shape here.
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // the 1-row corpus count attaches to the VOCAB-sized df relation, not
    // the corpus-sized tf stream: a cross join on the big side puts a
    // nested-loop operator in the hot path (measured 4x slower at the 10x
    // scale probe)
    val withDf = tf.join(df.crossJoin(broadcast(nDocs)), "term")
    val idf = round(log(col("_graft_n") / col("df").cast("double")), scale)
    val scored = withDf.withColumn("score",
      round(col("tf").cast("double") * idf, scale))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term").asc)
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= topK)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("score"), col("rank"))
  }

  /** Unigram-LM surprisal scoring: fit token frequencies on the corpus
    * itself, then score each document by the mean per-token surprisal
    * −ln p(token) — the cheap language-model quality signal (very low =
    * boilerplate/repetitive, very high = garbage/rare-token soup; the
    * useful corpus lives in between). Tokens are lowercased whitespace
    * tokens, so p covers every scored token (no smoothing needed: c ≥ 1
    * for a token being scored).
    *
    * Scale shape: one map-combined shuffle builds the vocab relation; the
    * corpus token total attaches to the VOCAB side as a broadcast 1-row
    * scalar (the tf-idf lesson above); scoring joins tokens to vocab on
    * the term — AQE splits the stop-word skew — and reduces per doc.
    * Output: (doc_id, n_tokens, avg_surprisal). Token-less documents are
    * kept with n_tokens = 0 and a null score. */
  def unigramSurprisal(docs: DataFrame, idCol: String, textCol: String,
      scale: Int = 4): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(TextFunctions.tokens(lower(col(textCol)))).as("term"))
    val vocab = toks.groupBy(col("term")).agg(count(lit(1)).as("c"))
    val total = vocab.agg(sum(col("c")).cast("double").as("_graft_total"))
    val scored = toks.join(vocab.crossJoin(broadcast(total)), "term")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(-log(col("c").cast("double") / col("_graft_total"))), scale)
          .as("avg_surprisal"))
    docs.select(col(idCol).as("doc_id")).join(scored, Seq("doc_id"), "left")
      .withColumn("n_tokens", coalesce(col("n_tokens"), lit(0L)))
  }

  /** Bigram-LM surprisal: mean -ln P(w_i | w_{i-1}) per document under an
    * add-k-smoothed bigram model fitted on the corpus itself — the
    * perplexity-quality signal (CCNet-style LM filtering) one step past
    * [[unigramSurprisal]]. P(b|a) = (c(a,b) + k) / (c_ctx(a) + k·V) where V
    * is the distinct-token count and c_ctx(a) counts bigram occurrences
    * STARTING at `a` (so the smoothed distribution sums to 1 over the
    * vocabulary). Docs with < 2 tokens get n_bigrams=0 and a null score.
    *
    * Scale shape — the [[dsirLogWeights]] fused-profile pattern: ONE JVM
    * pass builds each doc's bigram PROFILE ((a,b) -> count), so everything
    * downstream handles <= distinct-bigrams-per-doc rows, never one row per
    * token position. The profile is MATERIALIZED ([[Materialize]], round
    * 14) and is the single corpus tokenization: the LM aggregate, the
    * vocab scalar V (via per-doc sentinel rows — see the UDF comment) and
    * the scoring join all read it. The context count attaches to the LM
    * side first, so the profile stream joins exactly ONCE, on (a,b),
    * against an LM-sized relation that never needs to broadcast; V
    * attaches as a broadcast 1-row scalar. Nothing corpus-sized reaches
    * the driver. (The former formulation joined the per-token-INSTANCE
    * stream against the LM twice and forced the full distinct-bigram LM
    * through a BroadcastExchange — at 100 TB the LM is billions of rows
    * and the corpus token stream shuffled twice.) */
  def bigramSurprisal(docs: DataFrame, idCol: String, textCol: String,
      k: Double = 1.0, scale: Int = 4): DataFrame = {
    // \S+ runs == TextFunctions.tokens; the hash map keeps the pass fused.
    // Each doc also emits ONE sentinel row (last token, null, 0): every
    // token position except the last starts a bigram, so distinct(a) over
    // profile+sentinel rows is exactly the corpus vocabulary — V no longer
    // needs its own corpus tokenization pass (round 14).
    val profileUdf = udf { (txt: String) =>
      val toks =
        if (txt == null) Array.empty[String]
        else txt.split("\\s+").filter(_.nonEmpty)
      val m = new scala.collection.mutable.HashMap[(String, String), Int]()
      var i = 0
      while (i + 1 < toks.length) {
        val key = (toks(i), toks(i + 1))
        m.update(key, m.getOrElse(key, 0) + 1)
        i += 1
      }
      val entries = m.iterator.map { case ((a, b), c) => (a, b, c) }.toSeq
      if (toks.nonEmpty) entries :+ ((toks.last, null: String, 0)) else entries
    }
    // ONE tokenization, EXPLICITLY materialized: the LM aggregate, the
    // vocab scalar and the scoring join each prune different columns, so
    // their exchanges canonicalize differently and AQE's stage cache
    // cannot dedupe them (measured r14: the lazy shape ran the profile
    // UDF four times). Unlike the unigram/tf-idf profiles — where every
    // consumer reads the same partial-agg exchange and runtime reuse
    // makes materialization pure overhead — the checkpoint here replaces
    // four corpus passes with one.
    val prof = Materialize(docs.select(col(idCol).as("doc_id"),
        explode(profileUdf(lower(col(textCol)))).as("p"))
      .select(col("doc_id"), col("p._1").as("a"), col("p._2").as("b"),
        col("p._3").cast("long").as("cnt")))
    val big = prof.where(col("b").isNotNull)
    val lm = big.groupBy(col("a"), col("b")).agg(sum(col("cnt")).as("c_ab"))
    val ctx = lm.groupBy(col("a")).agg(sum(col("c_ab")).as("c_a"))
    val vocab = prof.agg(countDistinct(col("a")).cast("double").as("_graft_v"))
    val lmCtx = lm.join(ctx, Seq("a")) // LM x token-vocab — never corpus rows
    val scored = big
      .join(lmCtx, Seq("a", "b"))
      .crossJoin(broadcast(vocab))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_bigrams"),
        round(sum(col("cnt").cast("double") *
            -log((col("c_ab") + lit(k)) /
              (col("c_a") + lit(k) * col("_graft_v")))) /
          sum(col("cnt")).cast("double"), scale).as("avg_surprisal"))
    docs.select(col(idCol).as("doc_id")).join(scored, Seq("doc_id"), "left")
      .withColumn("n_bigrams", coalesce(col("n_bigrams"), lit(0L)))
  }

  /** DSIR-style importance log-weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every document
    * by how much more likely its hashed-token profile is under a TARGET
    * distribution (e.g. the high-quality / in-domain slice) than under the
    * raw corpus — log w(d) = Σ_tokens [ln p_tgt(bucket) − ln p_raw(bucket)]
    * with add-one smoothing over `buckets` hashed unigram buckets. Sampling
    * ∝ exp(w) then tilts a 100 TB crawl toward the target domain without
    * training a classifier.
    *
    * Hash = first 8 md5 hex chars mod `buckets` (the Dedup/minhash
    * convention — replayable in any engine with md5). Scale shape: token
    * explode is narrow; bucket counts reduce map-combined to ≤`buckets`
    * rows; the score table broadcasts (buckets × 16 bytes); the only real
    * shuffle is the per-doc sum, keyed by doc id and map-combined. Empty
    * docs get weight 0.
    *
    * Output: (doc_id, n_tokens, log_weight rounded to `scale`). */
  def dsirLogWeights(docs: DataFrame, idCol: String, textCol: String,
      isTarget: Column, buckets: Int = 1024, scale: Int = 4): DataFrame = {
    // per-doc bucket PROFILE (bucket -> count) in one fused JVM pass: the
    // md5 family runs exactly once per token instance, and everything
    // downstream handles ≤ min(buckets, n_tokens) rows per doc instead of
    // one row per token — measured 66s -> ~8s on a 500k-doc corpus where
    // the exploded formulation hashed 125M instances twice
    val profile = udf { (txt: String) =>
      val toks =
        if (txt == null) Array.empty[String]
        else txt.split("\\s+").filter(_.nonEmpty)
      val m = new scala.collection.mutable.HashMap[Long, Int]()
      toks.foreach { t =>
        val b = graft.operators.Dedup.md5Int32(t) % buckets
        m.update(b, m.getOrElse(b, 0) + 1)
      }
      m.toMap
    }
    val prof = docs.select(col(idCol).as("doc_id"),
        isTarget.cast("long").as("__tgt"),
        explode(profile(lower(col(textCol)))).as(Seq("bucket", "cnt")))
    val counts = prof.groupBy(col("bucket"))
      .agg(sum(col("cnt")).as("raw_n"), sum(col("__tgt") * col("cnt")).as("tgt_n"))
    val totals = counts.agg(sum(col("raw_n")).cast("double").as("__raw_t"),
      sum(col("tgt_n")).cast("double").as("__tgt_t"))
    val scores = counts.crossJoin(broadcast(totals)).select(col("bucket"),
      (log((col("tgt_n") + lit(1.0)) / (col("__tgt_t") + lit(buckets.toDouble))) -
        log((col("raw_n") + lit(1.0)) / (col("__raw_t") + lit(buckets.toDouble))))
        .as("__sc"))
    val perDoc = prof.join(broadcast(scores), Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_tokens"),
        round(sum(col("cnt") * col("__sc")), scale).as("log_weight"))
    docs.select(col(idCol).as("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("log_weight"), lit(0.0)).as("log_weight"))
  }

  /** Per-group score calibration: map a raw quality score to its
    * percent-rank WITHIN a group (e.g. source / language), so one global
    * threshold is comparable across groups whose raw score distributions
    * differ — "keep the top 30% of every source" instead of letting one
    * verbose source dominate a global cut. Deterministic: ties broken by
    * `tieBreak` (pass the row id).
    *
    * Scale shape: one keyed window shuffle on the group columns; no global
    * sort, no driver state. */
  def calibrateWithinGroup(df: DataFrame, groupCols: Seq[String],
      score: Column, tieBreak: Column, outCol: String = "calibrated",
      scale: Int = 6): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(score.asc, tieBreak.asc)
    df.withColumn(outCol, round(percent_rank().over(w), scale))
  }

  /** Collocations: the top-`topK` adjacent token pairs by pointwise mutual
    * information — the merge-candidate scoring step of BPE-style tokenizer
    * training, and the classic collocation extractor ("new york", "machine
    * learning"). PMI = ln(p(ab) / (p(a)·p(b))) over adjacent lowercased
    * token pairs; pairs rarer than `minCount` are dropped first (PMI is
    * noise-dominated at low counts).
    *
    * Scale shape: bigram and unigram counts both reduce map-combined; the
    * scoring join keys on the tokens (vocab-sized relations); corpus
    * totals attach as broadcast 1-row scalars. PMI ROUNDS before ranking —
    * libm's ln differs in the last ulp across engines, and an unrounded
    * order-by could flip near-equal ranks; ties break on the pair. The
    * distributed TopK prunes before the single-partition rank window.
    * Output: (a, b, n_ab, pmi, rank). */
  def collocations(docs: DataFrame, textCol: String, minCount: Long = 10L,
      topK: Int = 100, scale: Int = 6): DataFrame = {
    require(topK > 0, "topK must be positive")
    val arr = TextFunctions.tokens(lower(col(textCol)))
    val toks = docs.select(explode(arr).as("tok"))
    val uni = toks.groupBy(col("tok")).agg(count(lit(1)).as("n"))
    val n1 = uni.agg(sum(col("n")).cast("double").as("_n1"))
    val bi = docs.select(explode(arrays_zip(
        slice(arr, lit(1), greatest(size(arr) - 1, lit(0))),
        slice(arr, lit(2), greatest(size(arr) - 1, lit(0))))).as("bg"))
      .select(col("bg.0").as("a"), col("bg.1").as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_ab"))
      .where(col("n_ab") >= minCount)
    val n2 = docs.select(sum(greatest(size(arr) - 1, lit(0))).cast("double").as("_n2"))
    val scored = bi
      .join(uni.select(col("tok").as("a"), col("n").as("_na")), Seq("a"))
      .join(uni.select(col("tok").as("b"), col("n").as("_nb")), Seq("b"))
      .crossJoin(broadcast(n1)).crossJoin(broadcast(n2))
      .withColumn("pmi", round(log(
        (col("n_ab") / col("_n2")) /
          ((col("_na") / col("_n1")) * (col("_nb") / col("_n1")))), scale))
    val top = scored.orderBy(col("pmi").desc, col("a").asc, col("b").asc).limit(topK)
    val w = Window.orderBy(col("pmi").desc, col("a").asc, col("b").asc)
    top.withColumn("rank", row_number().over(w).cast("long"))
      .select(col("a"), col("b"), col("n_ab"), col("pmi"), col("rank"))
  }

  /** Corpus vocabulary: the `topN` most frequent whitespace tokens with
    * rank, count and cumulative corpus coverage (the tokenizer-training /
    * vocab-pruning primitive: "how many terms cover 95% of tokens?").
    *
    * Scale shape: term counts reduce map-combined (the only corpus-wide
    * shuffle); the distributed TopK (`orderBy.limit`) prunes the vocab to
    * `topN` rows BEFORE the single-partition prefix-sum window, so the
    * unpartitioned window — unavoidable for a global cumulative sum — only
    * ever sees `topN` rows, not the full vocabulary. The corpus token total
    * rides in as a broadcast 1-row scalar on the pruned side.
    *
    * Ties break on term ascending. Output: (term, n, rank, cum_frac).
    */
  def vocabulary(docs: DataFrame, textCol: String, topN: Int,
      scale: Int = 6): DataFrame = {
    require(topN > 0, "topN must be positive")
    val tf = docs
      .select(explode(TextFunctions.tokens(col(textCol))).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("n"))
    val total = tf.agg(sum(col("n")).cast("double").as("_graft_total"))
    val top = tf.orderBy(col("n").desc, col("term").asc).limit(topN)
    val ord = Window.orderBy(col("n").desc, col("term").asc)
    top.crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(ord).cast("long"))
      .withColumn("cum_frac", round(
        sum(col("n")).over(ord.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double") / col("_graft_total"), scale))
      .select(col("term"), col("n"), col("rank"), col("cum_frac"))
  }

  /** Top-k rows per key WITHOUT a window: the custom bounded
    * [[graft.sql.TopKPairs]] aggregate (`graft_topk`) keeps ≤ k
    * (score, id) pairs per group and MERGES map-side, so the hottest key's
    * 10⁸ rows combine before the shuffle where a
    * `row_number().over(partitionBy(key))` window would drag them all
    * through one task. Deterministic total order: score DESC, id ASC.
    * Output: key columns + (rank, score, id), rank 1-based. Runs on a
    * streaming frame in Complete output as a leaderboard whose state is at
    * most k pairs per key. */
  def topKPerKey(df: DataFrame, keys: Seq[Column], score: Column, id: Column,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    graft.sql.functions.ensureRegistered(df.sparkSession)
    val agged = df
      .groupBy(keys: _*)
      .agg(call_function("graft_topk", score.cast("double"), id.cast("long"),
        lit(k)).as("__top"))
    val keyCols = agged.columns.filter(_ != "__top").map(col)
    agged
      .select(keyCols :+ posexplode(col("__top")).as(Seq("__pos", "__row")): _*)
      .select(keyCols :+
        (col("__pos") + 1L).cast("long").as("rank") :+
        col("__row.score").as("score") :+ col("__row.id").as("id"): _*)
  }

  /** nDCG@k — the graded-relevance retrieval-quality metric (complement
    * of the MRR gate): per query,
    * `DCG = Σ_ranks (2^rel − 1) / log2(rank + 1)` over the system's top-k,
    * normalized by the ideal DCG of the query's judgments.
    *
    * Exactness: the rank discounts `1/log2(rank+1)` are fixed ONCE as
    * integer micro-units (`round(1e9/log2(r+1))`, a k-element literal) and
    * gains are exact integers (`2^rel − 1`), so DCG/IDCG are exact long
    * sums — no libm call and no float accumulation order in either
    * engine, the same trick as [[rrfFuse]]. Scale shape: one broadcast of
    * the k discounts, one (query, doc) equi-join of results to judgments,
    * two map-combined aggregates keyed on query_id.
    *
    * `results`: (queryIdCol, docIdCol, rankCol), ranks 1-based — rows past
    * `k` are ignored. `qrels`: (queryIdCol, docIdCol, relCol) integer
    * grades; absent pairs count as rel 0. A query whose judgments hold no
    * positive grade has IDCG 0 and reports ndcg null. */
  def ndcgAtK(results: DataFrame, qrels: DataFrame, k: Int,
      queryIdCol: String = "query_id", docIdCol: String = "doc_id",
      rankCol: String = "rank", relCol: String = "rel",
      scale: Int = 6): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // 1e9/log2(r+1) for r = 1..k, fixed on the driver so neither engine's
    // runtime log enters the data path (libm implementations differ by
    // ulps, which an in-data round() could amplify across engines)
    val discounts = (1 to k).map(r =>
      math.round(1e9 / (math.log(r + 1.0) / math.log(2.0))))
    val disc = element_at(
      typedLit(discounts), col(rankCol).cast("int"))
    val gain = (pow(lit(2.0), col(relCol).cast("double")) - 1.0).cast("long")
    val dcg = results
      .where(col(rankCol).between(1, k))
      .join(qrels.select(col(queryIdCol), col(docIdCol), col(relCol)),
        Seq(queryIdCol, docIdCol), "left")
      .groupBy(col(queryIdCol))
      .agg(sum(coalesce(gain, lit(0L)) * disc).as("dcg_units"))
    val idealRank = row_number().over(
      Window.partitionBy(col(queryIdCol))
        .orderBy(col(relCol).desc, col(docIdCol).asc))
    val idcg = qrels
      .where(col(relCol) > 0)
      .withColumn("__ir", idealRank)
      .where(col("__ir") <= k)
      .groupBy(col(queryIdCol))
      .agg(sum(gain * element_at(typedLit(discounts), col("__ir")))
        .as("idcg_units"))
    dcg.join(idcg, Seq(queryIdCol), "left")
      .select(col(queryIdCol),
        col("dcg_units"),
        coalesce(col("idcg_units"), lit(0L)).as("idcg_units"),
        when(col("idcg_units") > 0,
          round(col("dcg_units").cast("double")
            / col("idcg_units").cast("double"), scale)).as("ndcg"))
  }

  /** Precision/recall@k — the binary-relevance complement of [[ndcgAtK]]
    * (a judgment counts as relevant when its grade is positive). Pure
    * integer counting — hits, k, and the query's relevant total — with
    * the two ratios rounded once at the end, so results are deterministic
    * across engines and partitionings by construction. One equi-join of
    * the rank-bounded results to the positive judgments, two
    * map-combined aggregates keyed on query_id. */
  def precisionRecallAtK(results: DataFrame, qrels: DataFrame, k: Int,
      queryIdCol: String = "query_id", docIdCol: String = "doc_id",
      rankCol: String = "rank", relCol: String = "rel",
      scale: Int = 6): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val rel = qrels.where(col(relCol) > 0)
      .select(col(queryIdCol), col(docIdCol))
    val totals = rel.groupBy(col(queryIdCol))
      .agg(count(lit(1)).as("n_relevant"))
    val hits = results
      .where(col(rankCol).between(1, k))
      .join(rel, Seq(queryIdCol, docIdCol), "left_semi")
      .groupBy(col(queryIdCol))
      .agg(count(lit(1)).as("n_hits"))
    results.select(col(queryIdCol)).distinct()
      .join(hits, Seq(queryIdCol), "left")
      .join(totals, Seq(queryIdCol), "left")
      .select(col(queryIdCol),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        coalesce(col("n_relevant"), lit(0L)).as("n_relevant"),
        round(coalesce(col("n_hits"), lit(0L)).cast("double") / k, scale)
          .as("precision_at_k"),
        when(col("n_relevant") > 0,
          round(coalesce(col("n_hits"), lit(0L)).cast("double")
            / col("n_relevant"), scale)).as("recall_at_k"))
  }

  /** Reciprocal-rank fusion (Cormack/Clarke/Buettcher) — THE standard
    * hybrid-retrieval combiner: fuse N ranked lists (lexical BM25, vector
    * ANN, ...) by `score(d) = Σ_lists 1/(k0 + rank_list(d))`; a document
    * absent from a list contributes nothing from it. Rank-based, so the
    * lists' score scales never need calibrating against each other.
    *
    * Exactness: each reciprocal is fixed once as an INTEGER micro-unit
    * (`round(1e9 / (k0 + rank))`) and the fusion sums longs — no float
    * accumulation order anywhere, so the fused score is bit-identical
    * across engines and partitionings (`rrf_units`; divide by 1e9 for the
    * textbook value). Input lists are top-bounded retrieval outputs, so
    * the union is tiny and the final single-partition ranking window is
    * over at most Σ|list| rows — never corpus-sized. */
  def rrfFuse(lists: Seq[DataFrame], idCol: String, rankCol: String,
      topK: Int, k0: Int = 60): DataFrame = {
    require(lists.nonEmpty, "rrfFuse needs at least one ranked list")
    require(k0 >= 0, s"k0 must be >= 0, got $k0")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    // fuse on the RAW id column — no numeric cast, so string/UUID doc ids
    // work (ANSI would throw on a non-numeric cast, and the algorithm only
    // ever groups and orders by the id, never does arithmetic on it)
    val tagged = lists.map(_.select(col(idCol).as("doc_id"),
      round(lit(1e9) / (lit(k0) + col(rankCol).cast("long"))).cast("long")
        .as("__units")))
    val w = Window.orderBy(col("rrf_units").desc, col("doc_id").asc)
    tagged.reduce(_ unionByName _)
      .groupBy(col("doc_id"))
      .agg(sum(col("__units")).as("rrf_units"),
        count(lit(1)).as("n_lists"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= topK)
      .select(col("rank"), col("doc_id"), col("rrf_units"), col("n_lists"))
  }
}
