package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate / exact nearest-neighbour search over an embedding column
  * (`array<float>` / `array<double>`).
  *
  * Scale design: the brute-force path is the correctness baseline (a
  * broadcast of the query set against a scan of the corpus — linear, one
  * shuffle for the top-k); the LSH path buckets both sides so candidate
  * generation is an equi-join on (table, bucket), which survives a 1000×
  * corpus because work is proportional to bucket occupancy, not corpus².
  * All vector math is codegen'd higher-order functions in doubles.
  */
object Similarity {

  /** Dot product of two array columns, computed in double, left-to-right
    * (deterministic fold order → oracle-comparable). */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, v) => acc + v)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column, scale: Int = 6): Column =
    round(dot(a, b) / (l2Norm(a) * l2Norm(b)), scale)

  /** Cosine via the native codegen'd [[graft.sql.CosineSimilarity]]
    * expression — one fused array pass instead of three interpreted HOF
    * traversals. Same accumulation order, so results match [[cosine]]
    * bit-for-bit. Needs a session to register the function. */
  def nativeCosine(spark: org.apache.spark.sql.SparkSession,
      a: Column, b: Column, scale: Int = 6): Column = {
    graft.sql.functions.ensureRegistered(spark)
    round(call_function("graft_cosine",
      a.cast("array<double>"), b.cast("array<double>")), scale)
  }

  /** Exact top-k cosine neighbours of each query vector.
    *
    * `queries` is expected to be small (it is broadcast); `corpus` streams.
    * Ranking uses the rounded score with id tie-break so results are stable
    * across engines and partitionings.
    */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val q = broadcast(queries.select(
      col(idCol).as("query_id"), col(vecCol).as("q_vec")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
    val scored = q.crossJoin(c)
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", nativeCosine(corpus.sparkSession, col("q_vec"), col("c_vec")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rank").cast("long").as("rank"))
  }

  /** Late-interaction (chunk-granularity) retrieval: each document is
    * represented by MANY chunk vectors, and a query's score for a document
    * is the MAX cosine over that document's chunks — the
    * single-query-vector MaxSim of ColBERT-style late interaction. One
    * strongly-matching passage retrieves a long document that a pooled
    * whole-document embedding would dilute toward its average topic.
    *
    * Scale shape: queries broadcast (dimension-sized), per-chunk cosines
    * are one codegen'd map over the streaming chunk table, the
    * (query, doc) max is a map-combined aggregate (shuffle rows =
    * |queries| × |docs|, never |queries| × |chunks|), and the final
    * per-query top-k rides the k-bounded `graft_topk` aggregate — no
    * window over an unbounded partition, nothing driver-side. Rounding
    * before the max is safe (round is monotone, so max∘round = round∘max)
    * and makes ranks engine-stable with the id tie-break.
    *
    * This is the EXACT formulation (every query scores every chunk —
    * measured 67s for 2M chunks × 100 queries at local[32]); at corpus
    * scale, prefilter the chunk side to the queries' probed IVF cells
    * ([[ivfTopK]] / [[graft.operators.AnnIndex]]) and apply the same
    * per-doc max + top-k to the surviving candidates. */
  def lateInteractionTopK(
      chunks: DataFrame,
      docIdCol: String,
      vecCol: String,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = chunks.sparkSession
    val q = broadcast(queries.select(
      col(queryIdCol).as("__qid"), col(queryVecCol).as("__qv")))
    val perDoc = chunks
      .select(col(docIdCol).as("__doc"), col(vecCol).as("__cv"))
      .crossJoin(q)
      .select(col("__qid"), col("__doc"),
        nativeCosine(spark, col("__cv"), col("__qv")).as("__cos"))
      .groupBy(col("__qid"), col("__doc"))
      .agg(max(col("__cos")).as("__score"))
    graft.operators.Ranking
      .topKPerKey(perDoc, Seq(col("__qid")), col("__score"), col("__doc"), k)
      .select(col("__qid").as("query_id"), col("rank"),
        col("id").as("doc_id"), col("score"))
  }

  /** Hard-negative mining for contrastive/embedding training: for each
    * query vector, the top-k most-similar corpus vectors whose label
    * DIFFERS from the query's — the highest-loss negatives a trainer wants
    * in the batch. Same scale shape as [[bruteForceTopK]] (queries
    * broadcast, corpus streams map-side, per-query top-k via a window on
    * the rounded score with id tie-break); for corpus-x-corpus mining at
    * 100 TB swap the scoring stage for the IVF path ([[ivfAnnTopK]]) and
    * keep the label-mismatch predicate.
    *
    * Null labels never match anything (SQL null-inequality) and so produce
    * no negatives — intended: unlabeled rows can't be *known* negatives. */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, labelCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("q_vec"), col(labelCol).as("query_label")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"),
      col(labelCol).as("neighbor_label"))
    val scored = q.crossJoin(c)
      .where(col("query_label") =!= col("neighbor_label"))
      .withColumn("cos", nativeCosine(corpus.sparkSession, col("q_vec"), col("c_vec")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("query_label"), col("neighbor_id"),
        col("neighbor_label"), col("cos"), col("rank").cast("long").as("rank"))
  }

  /** Margin-based parallel-pair mining (the bitext-mining scorer of
    * Artetxe & Schwenk 2019, "Margin-based Parallel Corpus Mining with
    * Multilingual Sentence Embeddings", as deployed for CCMatrix/LASER):
    * given two embedding sets X and Y encoded in a shared space (e.g.
    * sentences of two languages), a raw cosine threshold over-fires in
    * dense regions and under-fires in sparse ones, so each candidate pair
    * is instead scored by its cosine RELATIVE to the two endpoints'
    * neighbourhood densities — the "ratio" margin
    * `cos(x,y) / ((avgTopK(x) + avgTopK(y)) / 2)` — and only MUTUAL best
    * matches (y is x's rank-1 in Y and x is y's rank-1 in X) above the
    * margin threshold survive.
    *
    * Determinism across engines: cosines are rounded to `scale` then held
    * as exact integer micro-units (`round(cos·10^scale)` as BIGINT), so
    * the top-k neighbourhood sums are order-free integer sums and the
    * margin is a fixed expression tree of exact integers
    * (`2·cos_i / (sum_f/k_f + sum_b/k_b)`) — bit-identical in any engine.
    * Rank order inside [[graft.sql.TopKPairs]] is total (score DESC, id
    * ASC), matching a SQL `row_number` replay.
    *
    * Scale shape: this is the exact baseline — Y broadcasts and X streams
    * map-side (one fused-codegen cosine pass per direction), and both
    * per-endpoint reductions ride the k-bounded `graft_topk` aggregate, so
    * the |X|·|Y| cross scores are consumed by map-side combine and only
    * |X|+|Y| k-length arrays ever cross the wire; the mutual-best join is
    * over those id-sized frames. For corpus×corpus mining at 100 TB use
    * [[marginMinePairsCelled]] — IVF-celled candidate generation feeding
    * the identical margin arithmetic.
    *
    * Output: (x_id, y_id, cos, margin), one row per surviving mutual pair.
    * Pairs whose combined neighbourhood sum is not positive are dropped
    * (the margin ratio is meaningless against a non-positive density). */
  def marginMinePairs(
      xs: DataFrame,
      ys: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      threshold: Double,
      scale: Int = 6): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(scale >= 1 && scale <= 9, s"scale must be in [1,9], got $scale")
    val spark = xs.sparkSession
    graft.sql.functions.ensureRegistered(spark)
    val unit = math.pow(10, scale) // exact for scale <= 9
    val x = xs.select(col(idCol).cast("long").as("x_id"), col(vecCol).as("x_vec"))
    val y = broadcast(ys.select(col(idCol).cast("long").as("y_id"), col(vecCol).as("y_vec")))
    // one map-side pass of fused cosines; integer micro-units from here on
    val scored = x.crossJoin(y).select(
      col("x_id"), col("y_id"),
      round(nativeCosine(spark, col("x_vec"), col("y_vec"), scale) * lit(unit))
        .cast("long").as("cos_i"))
    marginFromScores(scored, k, threshold, scale)
  }

  /** The margin arithmetic shared by [[marginMinePairs]] (exact cross
    * scoring) and [[marginMinePairsCelled]] (IVF-celled candidates):
    * `scored` carries one (x_id, y_id, cos_i) row per candidate pair with
    * the cosine in integer micro-units. */
  private def marginFromScores(scored: DataFrame, k: Int, threshold: Double,
      scale: Int): DataFrame = {
    val unit = math.pow(10, scale)
    // Two independent k-bounded reductions over the candidate scores, each
    // re-running the upstream cosine pass. Measured at 50M celled
    // candidates (local[32], sf0.1 10x corpus): this two-pass shape, a
    // single-exchange explode-into-directed-rows shape, and a
    // two-topk-buffers-in-one-aggregate shape all land within run noise
    // (20.0 / 21.5 / 23.0 s) — the graft_topk buffer updates dominate, not
    // the codegen'd cosines — so the simplest plan wins. If the candidate
    // pass ever becomes the dominant cost (e.g. remote IO feeding it),
    // Materialize(scored) before calling in.
    def side(keyCol: String, otherCol: String, tag: String): DataFrame =
      scored.groupBy(col(keyCol))
        .agg(call_function("graft_topk",
          col("cos_i").cast("double"), col(otherCol), lit(k)).as("top"))
        .select(
          col(keyCol),
          col("top").getItem(0).getField("id").as(s"best_$tag"),
          col("top").getItem(0).getField("score").cast("long").as(s"best_cos_$tag"),
          aggregate(col("top"), lit(0L),
            (acc, p) => acc + p.getField("score").cast("long")).as(s"sum_$tag"),
          size(col("top")).cast("long").as(s"k_$tag"))
    val fwd = side("x_id", "y_id", "f") // per x: best y + neighbourhood sum
    val bwd = side("y_id", "x_id", "b") // per y: best x + neighbourhood sum
    fwd.join(bwd,
        fwd("best_f") === bwd("y_id") && bwd("best_b") === fwd("x_id"))
      .withColumn("den",
        col("sum_f").cast("double") / col("k_f")
          + col("sum_b").cast("double") / col("k_b"))
      .where(col("den") > 0)
      .withColumn("margin", round(lit(2.0) * col("best_cos_f") / col("den"), scale))
      .where(col("margin") >= threshold)
      .select(
        col("x_id"), col("y_id"),
        (col("best_cos_f").cast("double") / lit(unit)).as("cos"),
        col("margin"))
  }

  /** [[marginMinePairs]] at corpus scale: candidate pairs come from IVF
    * coarse cells instead of the full cross product — Y is k-means-celled
    * (the indexed side), each x probes its `nProbe` nearest cells, and the
    * margin arithmetic runs unchanged over the surviving candidates. Work
    * is proportional to probed-cell occupancy, never |X|·|Y|; the
    * candidate join is a plain (cell) equi-join so AQE can broadcast or
    * skew-split it.
    *
    * Approximation contract: neighbourhood averages are computed over each
    * endpoint's CANDIDATES (x: its probed cells; y: the xs that probed
    * into its cell) — with clustered data and sane probes those are
    * exactly the true near neighbourhoods, and `nProbe = nCells`
    * reproduces [[marginMinePairs]] bit-for-bit (spec-pinned). */
  def marginMinePairsCelled(
      xs: DataFrame,
      ys: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      threshold: Double,
      nCells: Int,
      nProbe: Int,
      lloydIters: Int = 2,
      scale: Int = 6): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(nCells >= 1 && nProbe >= 1 && nProbe <= nCells,
      s"need 1 <= nProbe <= nCells, got nProbe=$nProbe nCells=$nCells")
    require(scale >= 1 && scale <= 9, s"scale must be in [1,9], got $scale")
    val spark = xs.sparkSession
    graft.sql.functions.ensureRegistered(spark)
    val unit = math.pow(10, scale)
    val y = ys.select(col(idCol).cast("long").as("y_id"),
        col(vecCol).cast("array<double>").as("y_vec"))
      .transform(Materialize.apply) // read per Lloyd round + candidate join
    val centroids = kmeansCentroids(y, "y_id", "y_vec", nCells, lloydIters)
    val yCell = y.withColumn("cell", cellAssign(spark, centroids)(col("y_vec")))
    val probeUdf = {
      val cents = centroids
      // null vectors probe nothing (explode drops the row) — matches the
      // exact miner, where a null cosine never ranks, and kmeansCentroids'
      // own null-row tolerance; a bare NPE here would kill the job
      udf { (v: Array[Double]) =>
        if (v == null) Array.empty[Int] else Quantization.nearestCells(cents, v, nProbe)
      }
    }
    val x = xs.select(col(idCol).cast("long").as("x_id"),
        col(vecCol).cast("array<double>").as("x_vec"))
      .withColumn("cell", explode(probeUdf(col("x_vec"))))
    val scored = x.join(yCell, Seq("cell"))
      .select(col("x_id"), col("y_id"),
        round(nativeCosine(spark, col("x_vec"), col("y_vec"), scale) * lit(unit))
          .cast("long").as("cos_i"))
    marginFromScores(scored, k, threshold, scale)
  }

  /** Embedding-based corpus decontamination: flag every corpus row whose
    * cosine to ANY eval-set vector reaches `threshold` — the semantic
    * counterpart of n-gram decontamination ([[Dedup.decontaminate]]): a
    * paraphrased or reformatted eval example sails through exact n-gram
    * overlap but not through embedding similarity.
    *
    * Scale shape: the eval set broadcasts (benchmarks are thousands of
    * rows; the corpus is the big side), scoring is one map-side pass of
    * |corpus| × |eval| fused-codegen cosines, and only (id, rounded cos,
    * eval id) ride the corpus-keyed max aggregation — linear in the
    * corpus, the vectors themselves never shuffle. Ties on the max cosine
    * resolve to the HIGHEST eval id (struct-max ordering — deterministic
    * across engines because the compared cosines are already rounded).
    *
    * Output: (idCol, max_eval_cos, matched_eval_id, contaminated) — one
    * row per corpus row. CAVEAT: an empty eval set produces an empty
    * result (cross join), not an all-clear; validate upstream.
    *
    * BOUNDED-EVAL CONTRACT (round-13; closes the round-12 verdict's
    * unbounded-broadcast finding): the broadcast-cross plan is the optimum
    * ONLY while the eval set fits comfortably in every executor — beyond
    * `maxEvalRows` this fails with a readable error instead of a driver /
    * executor OOM deep inside the broadcast build. For larger eval sets
    * use [[decontaminateByEmbeddingCelled]], which k-means-blocks the eval
    * side and prunes cells with exact triangle-inequality bounds (output
    * contract documented there). The default bound (50k rows) is ~25 MB of
    * broadcast at dim 64 (8 B x dim per row + row overhead) — safe on any
    * sane executor; raise it deliberately if your vectors are tiny. */
  /** Below this eval-set size the scoring loop rides into the plan as a
    * LITERAL matrix instead of a broadcast cross join: one map-side
    * `transform` computes every per-eval cosine per corpus row, so the
    * 100×-row crossJoin churn (each corpus vector copied per eval row)
    * disappears and only slim (id, best-struct) rows reach the aggregate.
    * 1024 × dim doubles is a few hundred KB of plan — far below any
    * plan-size concern; past it the broadcast cross is the right shape. */
  val DecontaminateLiteralEvalRows = 1024

  def decontaminateByEmbedding(corpus: DataFrame, idCol: String, vecCol: String,
      evalSet: DataFrame, evalIdCol: String, evalVecCol: String,
      threshold: Double, scale: Int = 6, maxEvalRows: Long = 50000L,
      literalEvalRows: Int = DecontaminateLiteralEvalRows): DataFrame = {
    val spark = corpus.sparkSession
    val e = broadcast(evalSet.select(
      col(evalIdCol).as("__eid"), col(evalVecCol).as("__evec")))
    // one bounded pass over the eval side; counting past the limit is
    // unnecessary, so stop at maxEvalRows + 1 rows
    val n = e.limit(math.min(maxEvalRows + 1, Int.MaxValue.toLong).toInt).count()
    require(n <= maxEvalRows,
      s"eval set has > $maxEvalRows rows — too large to broadcast against " +
        "every executor. Use decontaminateByEmbeddingCelled (cell-blocked " +
        "exact variant) or raise maxEvalRows deliberately.")
    // literal-matrix fast path: SAME rounding (Spark's own round inside
    // nativeCosine) and SAME (cos, eid) struct-max tie-break as the cross
    // join below, so outputs are identical row for row (spec-pinned) —
    // including duplicate corpus ids, which both paths merge through the
    // id-keyed max. Null eval vectors are rare enough to just take the
    // cross-join path rather than complicate the literal encoding.
    val evRows =
      if (n > 0 && n <= literalEvalRows)
        evalSet.select(col(evalIdCol).as("__eid"),
          col(evalVecCol).cast("array<double>").as("__evec")).collect()
      else Array.empty[org.apache.spark.sql.Row]
    val scored =
      if (evRows.nonEmpty && evRows.forall(r => !r.isNullAt(1) && !r.isNullAt(0))) {
        val matLit = typedLit(evRows.map(_.getSeq[Double](1)).toSeq)
        val eidLit = array(evRows.map(r => lit(r.get(0))): _*)
        val best = array_max(zip_with(
          transform(matLit, ev => nativeCosine(spark, col("__cvec"), ev, scale)),
          eidLit,
          (c, id) => struct(c.as("__cos"), id.as("__eid"))))
        corpus.select(col(idCol), col(vecCol).as("__cvec"))
          .select(col(idCol), best.as("__pair"))
          .groupBy(col(idCol))
          .agg(max(col("__pair")).as("__best"))
      } else
        corpus.select(col(idCol), col(vecCol).as("__cvec"))
          .crossJoin(e)
          .withColumn("__cos", nativeCosine(spark, col("__cvec"), col("__evec"), scale))
          .groupBy(col(idCol))
          .agg(max(struct(col("__cos"), col("__eid"))).as("__best"))
    scored.select(col(idCol),
      col("__best.__cos").as("max_eval_cos"),
      col("__best.__eid").as("matched_eval_id"),
      (col("__best.__cos") >= lit(threshold)).as("contaminated"))
  }

  /** [[decontaminateByEmbedding]] for eval sets BEYOND broadcast range —
    * the 100 TB scale path. The eval side is k-means-blocked (same cell
    * machinery as [[semDedup]]): each corpus row joins its nearest eval
    * cell exactly, then every other cell is pruned with an exact
    * triangle-inequality bound — cell `j` (centroid `c_j`, member radius
    * `R_j`, all in unit-vector space where `cos(x,e) = 1 - d(x̂,ê)²/2`)
    * can only be skipped when its best POSSIBLE cosine
    * `1 - max(0, d(x̂,c_j) - R_j)²/2` already loses to the best found, by
    * more than one rounding step of `scale` — so the flags, the max
    * cosine AND the tie-broken matched id are IDENTICAL to the
    * brute-force output (spec-pinned), for every row. Pruning efficacy is
    * data-dependent (clustered eval sets prune hard; an isotropic random
    * eval set hardly at all — measured on the synthetic gate embeddings,
    * whose same-/cross-label cosine distributions coincide), but
    * correctness never is.
    *
    * Scale shape: driver state is nCells×dim centroids + nCells radii;
    * the eval set is never collected or broadcast whole — candidate
    * generation is an equi-join on cell id. Same empty-eval caveat as the
    * broadcast variant. */
  def decontaminateByEmbeddingCelled(corpus: DataFrame, idCol: String,
      vecCol: String, evalSet: DataFrame, evalIdCol: String, evalVecCol: String,
      threshold: Double, scale: Int = 6, nCells: Int = 8,
      lloydIters: Int = 2): DataFrame = {
    val spark = corpus.sparkSession
    graft.sql.functions.ensureRegistered(spark)
    def unit(vec: Column, norm: Column): Column =
      transform(vec, x => x / norm)
    val ev = evalSet.select(col(evalIdCol).as("__eid"),
        col(evalVecCol).cast("array<double>").as("__evec"))
      .withColumn("__en", unit(col("__evec"), l2Norm(col("__evec"))))
      .transform(Materialize.apply) // reused: Lloyd rounds, radii, two joins
    val cents = kmeansCentroids(ev, "__eid", "__en", nCells, lloydIters)
    val centsLit = typedLit(cents.map(_.toSeq).toSeq)
    def sqDist(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, v) => acc + v)
    val evCell = ev
      .withColumn("cell", cellAssign(spark, cents)(col("__en")))
      .transform(Materialize.apply)
    // per-cell member radius in unit space — nCells rows, driver-bounded
    val radii: Array[Double] = {
      val got = evCell
        .withColumn("__dc", sqrt(sqDist(col("__en"),
          element_at(centsLit, col("cell") + 1))))
        .groupBy(col("cell")).agg(max(col("__dc")).as("__r"))
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      // a cell the final assignment left empty can never produce a pair:
      // NaN poisons its bound below and the candidate filter drops it
      Array.tabulate(cents.length)(i => got.getOrElse(i, Double.NaN))
    }
    val radiiLit = typedLit(radii.toSeq)
    // one rounding step of `scale` + float slop: a pruned cell's true best
    // cosine then rounds strictly below the kept best — ties survive for
    // the highest-eid tie-break
    val eps = math.pow(10.0, -scale) + 1e-9
    val x = corpus.select(col(idCol),
        col(vecCol).cast("array<double>").as("__cvec"))
      .withColumn("__cn", unit(col("__cvec"), l2Norm(col("__cvec"))))
      .withColumn("__dists",
        transform(centsLit, c => sqrt(sqDist(col("__cn"), c))))
      .withColumn("__anchor", cellAssign(spark, cents)(col("__cn")))
      .drop("__cn")
      .transform(Materialize.apply) // consumed by both phases
    // phase A: exact best within the nearest cell — the pruning baseline
    val bestA = x
      .join(evCell, x("__anchor") === evCell("cell"))
      .withColumn("__cos", nativeCosine(spark, col("__cvec"), col("__evec"), scale))
      .groupBy(col(idCol))
      .agg(max(struct(col("__cos"), col("__eid"))).as("__best"))
      .transform(Materialize.apply) // reused: pruning filter + final union
    // phase B: candidate cells whose bound can still beat (or round-tie)
    // the anchor best; an empty anchor cell (null baseline) prunes nothing
    val candidates = x
      .join(bestA.select(col(idCol), col("__best.__cos").as("__b")), Seq(idCol), "left")
      .select(col(idCol), col("__cvec"), col("__anchor"), col("__b"),
        posexplode(zip_with(col("__dists"), radiiLit,
          (d, r) => lit(1.0) - pow(greatest(d - r, lit(0.0)), 2) / 2)))
      .withColumnRenamed("pos", "cell").withColumnRenamed("col", "__u")
      .where(col("cell") =!= col("__anchor") && !isnan(col("__u")) &&
        (col("__b").isNull || col("__u") >= col("__b") - lit(eps)))
    val bestB = candidates
      .join(evCell, Seq("cell"))
      .withColumn("__cos", nativeCosine(spark, col("__cvec"), col("__evec"), scale))
      .groupBy(col(idCol))
      .agg(max(struct(col("__cos"), col("__eid"))).as("__best"))
    bestA.select(col(idCol), col("__best"))
      .unionByName(bestB.select(col(idCol), col("__best")))
      .groupBy(col(idCol))
      .agg(max(col("__best")).as("__best"))
      .select(col(idCol),
        col("__best.__cos").as("max_eval_cos"),
        col("__best.__eid").as("matched_eval_id"),
        (col("__best.__cos") >= lit(threshold)).as("contaminated"))
  }

  /** Deterministic random hyperplanes: `nPlanes` x `dim`, materialised as a
    * literal (broadcast with the plan).
    *
    * Components derive from md5 so any SQL engine can recompute the exact
    * same planes for verification: component(p,d) = (md5_60("srp_<seed>_<p>_
    * <d>") mod 2048 - 1024) / 1024 — uniform in [-1, 1) in steps of 2^-10.
    * Multiples of 2^-10 keep every plane*component product exact in double
    * (11 + 24 significand bits), which pins the SRP sign test across engines
    * up to sum-order noise ~2^-53 — a bucket flip needs |dot| under ~1e-13.
    * Uniform-cube (vs gaussian) directions are a standard SRP variant; only
    * the direction distribution changes, not the sign-LSH property. */
  def hyperplanes(nPlanes: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    val d = java.security.MessageDigest.getInstance("MD5")
    def md5Long60(s: String): Long = {
      d.reset()
      val h = d.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // first 15 hex chars = top 60 bits: bytes 0-6 then the high nibble of 7
      var v = 0L
      var i = 0
      while (i < 7) { v = (v << 8) | (h(i) & 0xFFL); i += 1 }
      (v << 4) | ((h(7) & 0xF0L) >>> 4)
    }
    Array.tabulate(nPlanes, dim)((p, dd) =>
      (md5Long60(s"srp_${seed}_${p}_${dd}") % 2048 - 1024) / 1024.0)
  }

  /** Sign-random-projection bucket id: bit i = sign(plane_i . vec).
    * Vector length is validated per row: a dim mismatch would null out
    * every dot product, put ALL rows in bucket 0 and silently degrade the
    * bucketed join into a full cross product. */
  def srpBucket(vec: Column, planes: Array[Array[Double]]): Column = {
    val dim = planes.head.length
    val checked = when(size(vec) === dim, vec).otherwise(raise_error(concat(
      lit(s"srpBucket: vector of dim "), size(vec),
      lit(s" does not match the $dim-dim hyperplanes"))))
    val bits = planes.map { p =>
      val planeLit = array(p.toIndexedSeq.map(lit): _*)
      when(dot(planeLit, checked) >= 0, lit(1L)).otherwise(lit(0L))
    }
    bits.foldLeft(lit(0L))((acc, bit) => shiftleft(acc, 1).bitwiseOR(bit))
  }

  /** LSH-bucketed ANN with multi-probe: candidates live in the query's SRP
    * bucket or any bucket within Hamming distance `probeRadius` of it (a
    * vector near a hyperplane lands on either side with almost equal
    * probability, so flipping one bit recovers most of the recall single-
    * bucket search loses). Query rows explode to 1 + nPlanes probe buckets
    * at radius 1 — corpus rows still index ONCE, so the join stays an
    * equi-join whose work follows bucket occupancy, not corpus². Exact
    * cosine ranks within the probed set. */
  def srpAnnTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nPlanes: Int = 8,
      dim: Int = 64,
      seed: Long = 42L,
      probeRadius: Int = 1): DataFrame = {
    val planes = hyperplanes(nPlanes, dim, seed)
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
      .withColumn("bucket", srpBucket(col("c_vec"), planes))
    val exactBucket = srpBucket(col("q_vec"), planes)
    // all bit masks with popcount <= probeRadius, XORed onto the exact
    // bucket: radius 0 = 1 bucket, 1 = 1+n, 2 = 1+n+C(n,2), ...
    val masks = (0 to math.max(0, math.min(probeRadius, nPlanes))).flatMap(r =>
      (0 until nPlanes).combinations(r)
        .map(_.foldLeft(0L)((m, b) => m | (1L << b))))
    val probed = array(masks.map(m => exactBucket.bitwiseXOR(lit(m))): _*)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
      .withColumn("bucket", explode(probed))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    q.join(c, Seq("bucket"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", nativeCosine(corpus.sparkSession, col("q_vec"), col("c_vec")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rank").cast("long").as("rank"))
  }

  /** Nearest-centroid assignment via the native codegen'd
    * [[graft.sql.CellAssign]] expression: the centroid table rides into the
    * generated code once as a double[][] reference and the vector is read
    * from ArrayData IN PLACE — the UDF pays a full Array[Double] copy per
    * row at the serialization boundary, pure overhead on a corpus-scale
    * encode. Strict-< argmin, first wins on ties (CellAssignSpec pins it
    * equal to a reference UDF). */
  private[graft] def cellAssign(spark: org.apache.spark.sql.SparkSession,
      cents: Array[Array[Double]])(v: Column): Column = {
    graft.sql.functions.ensureRegistered(spark)
    call_function("graft_cell_assign", v.cast("array<double>"),
      typedLit(cents.map(_.toSeq).toSeq))
  }

  /** Append `cell` (nearest coarse centroid, `cellType`-cast) and `res`
    * (residual against it) columns via the native codegen'd
    * [[graft.sql.CellAssign]] + [[graft.sql.CentroidSub]] pair — the IVF
    * residual-encode hot path. Two projections in the same codegen stage;
    * the centroid table rides into generated code once as a double[][].
    * Replaces the struct-returning Scala UDF that recomputed the argmin
    * and paid a per-row array copy at the serialization boundary for
    * every corpus vector on every (re-)ingest. Fails loudly on dimension
    * drift (enforced inside CentroidSub). */
  private[graft] def withCellAndResidual(
      spark: org.apache.spark.sql.SparkSession, cents: Array[Array[Double]],
      vecColName: String, cellType: String = "int")(df: DataFrame): DataFrame = {
    graft.sql.functions.ensureRegistered(spark)
    val centsLit = typedLit(cents.map(_.toSeq).toSeq)
    df.withColumn("cell",
        call_function("graft_cell_assign",
          col(vecColName).cast("array<double>"), centsLit).cast(cellType))
      .withColumn("res",
        call_function("graft_centroid_sub",
          col(vecColName).cast("array<double>"), centsLit, col("cell")))
  }

  /** Deterministic distributed k-means over `(idColName, vecColName)`:
    * seeded with the first `nCells` vectors by id order, `iters` Lloyd
    * rounds (assignment = argmin over a broadcast centroid array; update =
    * grouped per-dimension mean; empty cells keep their previous centroid).
    * Driver-side state is bounded at nCells x dim doubles — never
    * corpus-sized. Shared by [[ivfTopK]] and the IVF-PQ composite. */
  private[graft] def kmeansCentroids(c: DataFrame, idColName: String,
      vecColName: String, nCells: Int, iters: Int): Array[Array[Double]] = {
    var centroids: Array[Array[Double]] = c.orderBy(col(idColName)).limit(nCells)
      .select(col(vecColName)).collect().map(_.getSeq[Double](0).toArray)
    val d = centroids.headOption.map(_.length).getOrElse(0)
    var it = 0
    while (it < iters) {
      val assigned = c.withColumn("cell",
        cellAssign(c.sparkSession, centroids)(col(vecColName)))
      // per-dimension means as d avg aggregates over the UNEXPLODED rows —
      // one hash-agg row per cell; the former posexplode formulation
      // amplified every vector into d (cell, pos, x) rows first (64× row
      // churn at d=64 per Lloyd round, same accumulation semantics)
      val updated = assigned
        .where(col("cell").isNotNull) // null vectors contributed no rows before
        .groupBy(col("cell"))
        // try_element_at: ANSI element_at past a ragged vector's end throws
        .agg(avg(try_element_at(col(vecColName), lit(1))).as("m_0"),
          (1 until d).map(i =>
            avg(try_element_at(col(vecColName), lit(i + 1))).as(s"m_$i")): _*)
        .collect()
      val byCell = updated.map(r => r.getInt(0) -> r).toMap
      centroids = centroids.indices.map { ci =>
        byCell.get(ci).map { r =>
          Array.tabulate(d)(i => r.getDouble(1 + i))
        }.getOrElse(centroids(ci))
      }.toArray
      it += 1
    }
    centroids
  }

  /** IVF-style ANN: partition the corpus into `nLists` Voronoi cells around
    * k-means centroids, then search only the `nProbe` cells nearest each
    * query — the classic inverted-file index, here as pure DataFrame ops.
    *
    * Centroids are data-dependent but deterministic: seeded with the first
    * `nLists` vectors by id order, refined by `lloydIters` Lloyd rounds
    * (assignment = argmin over a broadcast centroid array; update = grouped
    * per-dimension mean). Driver-side state is bounded at nLists x dim
    * doubles — never corpus-sized.
    */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nLists: Int = 16,
      lloydIters: Int = 2,
      nProbe: Int = 2): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("c_vec"))
      .transform(Materialize.apply) // reused per Lloyd round + final probe join

    val centroids = kmeansCentroids(c, "neighbor_id", "c_vec", nLists, lloydIters)

    val probeUdf = {
      val cents = centroids
      // shared probe (Quantization.nearestCells): loud dim-drift guard +
      // deterministic tie-break in ONE definition across all IVF paths
      udf { (v: Array[Double]) =>
        Quantization.nearestCells(cents, v, nProbe)
      }
    }

    val indexed = c.withColumn("cell",
      cellAssign(c.sparkSession, centroids)(col("c_vec")))
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("q_vec"))
      .withColumn("cell", explode(probeUdf(col("q_vec"))))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    q.join(indexed, Seq("cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", nativeCosine(corpus.sparkSession, col("q_vec"), col("c_vec")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rank").cast("long").as("rank"))
  }

  /** Embedding-cosine near-duplicate pairs: candidate pairs share a blocking
    * key (a cluster/category column, or an LSH bucket from [[srpBucket]]),
    * then exact cosine filters on the ROUNDED score — both sides of a
    * correctness oracle see identical boundary behaviour. Work scales with
    * block occupancy, not corpus²; at 100 TB feed an SRP bucket as the block
    * and union a few probe buckets for recall. */
  def cosineNearDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      blockCol: Column,
      threshold: Double,
      scale: Int = 6): DataFrame = {
    val spark = df.sparkSession
    val prepped = df.select(blockCol.as("block"), col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    // collapse class key (CollapseGate) = two-seed xxhash64 over (block,
    // vector): cosine depends only on the vectors. Content identity, NOT a
    // min-id representative (not unique under duplicate input ids);
    // collision ~2^-128 per class pair. Within-class pairs score through the
    // SAME nativeCosine expression on the class vector, so rounding and NaN
    // corners match the row-level join. Embedding corpora deduplicate
    // heavily (re-crawled pages embed identically): the sf1 slope run
    // measured the row-level form at 38x on a 10x-duplicated corpus.
    val ck = struct(
      xxhash64(col("block"), col("v")).as("k1"),
      xxhash64(lit(1L), col("block"), col("v")).as("k2"))
    val withCk = prepped.withColumn("ck", ck).transform(Materialize.apply)
    def side(rows: DataFrame, key: String, s: String) =
      rows.select(col("block"), col(key).as(s"id_$s"), col("v").as(s"v_$s"))
    CollapseGate.pairs(withCk, "id", "ck", "cos")(
      (rows, key) => side(rows, key, "a").join(side(rows, key, "b"), Seq("block"))
        .where(col("id_a") < col("id_b"))
        .withColumn("cos", nativeCosine(spark, col("v_a"), col("v_b"), scale))
        .where(col("cos") >= threshold)
        .select("id_a", "id_b", "cos"),
      _.select(col("ck"), nativeCosine(spark, col("v"), col("v"), scale).as("cos"))
        .where(col("cos") >= threshold))
  }

  /** Random-projection dimensionality reduction (Johnson–Lindenstrauss):
    * project `vecCol` onto `outDim` md5-derived directions — the cheap
    * pre-step that makes downstream ANN / clustering / dedup distance
    * computations `outDim/dim` times cheaper while approximately
    * preserving pairwise distances. The projection matrix derives from
    * [[hyperplanes]] (seeded md5, components exact multiples of 2⁻¹⁰), so
    * any SQL engine can recompute the identical projection for
    * verification; it ships as plan literals — no driver state, no
    * shuffle, pure map-side codegen arithmetic.
    *
    * Output: input columns plus `outCol` = array of `outDim` doubles,
    * each component rounded to `scale`. */
  def randomProjection(df: DataFrame, vecCol: String, outDim: Int,
      dim: Int, outCol: String = "projected", seed: Long = 42L,
      scale: Int = 6): DataFrame = {
    require(outDim > 0 && dim > 0, s"need positive dims, got $outDim of $dim")
    require(!df.columns.contains(outCol),
      s"input already carries '$outCol' — pass a different outCol")
    val planes = hyperplanes(outDim, dim, seed)
    // ONE native fused loop per row (graft_matvec, round 14): the former
    // per-plane aggregate(zip_with) HOFs evaluated outDim interpreted
    // folds per row — q76's dominant cost and the suite's worst sf0.1->sf1
    // slope. The kernel is fold-order bit-identical (spec-pinned) and
    // rejects dimension drift loudly; rounding stays out here so the
    // engine-comparable round semantics are Spark's own.
    graft.sql.functions.ensureRegistered(df.sparkSession)
    val projected = call_function("graft_matvec", col(vecCol),
      typedLit(planes.map(_.toSeq).toSeq))
    df.withColumn(outCol,
      when(col(vecCol).isNotNull, transform(projected, x => round(x, scale)))
        .otherwise(raise_error(lit(
          "randomProjection: null vector — filter or repair upstream"))))
  }

  /** Semantic deduplication (SemDeDup-style): k-means clusters bound the
    * pairwise search, then a row is flagged as a semantic duplicate when an
    * earlier row (smaller id) in the SAME cluster has cosine similarity at
    * or above `threshold`. Output: one row per input with its cell, a `keep`
    * flag and `dup_of` = the smallest such earlier id (null when kept).
    *
    * Dedup policy: "similar to ANY earlier row" rather than the paper's
    * sequential "similar to an earlier KEPT row" — the former is order-free
    * and fully parallel (a self-join), the latter is an inherently
    * sequential scan per cluster. Both keep exactly one row of every tight
    * duplicate group; they differ only on chains (a~b, b~c, a!~c), where
    * this policy dedups MORE aggressively — the safe direction for training
    * data.
    *
    * Scale: pair generation is blocked per cell, so work follows cell
    * occupancy (corpus²/nCells at uniform fill), not corpus². At 100 TB
    * raise `nCells` so cells stay ~10⁴ rows and the per-cell quadratic
    * stays bounded; the k-means itself holds only nCells x dim doubles on
    * the driver. */
  def semDedup(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      nCells: Int = 16,
      lloydIters: Int = 2,
      scale: Int = 6): DataFrame = {
    val reserved = Set("cell", "dup_of", "keep")
    require(!reserved.contains(idCol) && !reserved.contains(vecCol),
      s"${reserved.mkString("/")} are output columns — rename the input column")
    val c = corpus.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
      .transform(Materialize.apply) // reused per Lloyd round + pair join
    val cents = kmeansCentroids(c, "id", "v", nCells, lloydIters)
    val assigned = c.withColumn("cell", cellAssign(c.sparkSession, cents)(col("v")))
    val pairs = cosineNearDupPairs(
      assigned.withColumnRenamed("id", idCol).withColumnRenamed("v", vecCol),
      idCol, vecCol, col("cell"), threshold, scale)
    val dupOf = pairs.groupBy(col("id_b").as("id"))
      .agg(min(col("id_a")).as("dup_of"))
    assigned.join(dupOf, Seq("id"), "left")
      .select(col("id").as(idCol), col("cell").cast("long").as("cell"),
        col("dup_of"), col("dup_of").isNull.as("keep"))
  }

  /** Per-label centroids of an embedding column: dim avg aggregates over
    * the UNEXPLODED rows (one hash-agg row per label through the
    * map-side combine), then a tiny |labels|-row posexplode back to
    * (label, pos, centroid) — the former per-element explode amplified
    * every vector into dim rows before aggregating. */
  def centroids(df: DataFrame, labelCol: String, vecCol: String, scale: Int = 6): DataFrame = {
    // null-check the probe row BEFORE getInt: on empty/all-null input the
    // max aggregate is null and a bare getInt would NPE past the message
    val dimRow = df.agg(max(size(col(vecCol)))).head()
    require(!dimRow.isNullAt(0) && dimRow.getInt(0) > 0,
      s"centroids over empty/null '$vecCol' arrays")
    val dim = dimRow.getInt(0)
    df.groupBy(col(labelCol).as("label"))
      .agg(array((0 until dim).map(i =>
        // try_element_at: ANSI element_at past a ragged vector's end throws
        round(avg(try_element_at(col(vecCol), lit(i + 1)).cast("double")), scale)): _*)
        .as("__c"))
      .select(col("label"), posexplode(col("__c")).as(Seq("pos", "centroid")))
      .select(col("label"), col("pos").cast("long").as("pos"), col("centroid"))
  }

  /** Per-query retrieval quality of the SRP index against exact ground
    * truth — the ORACLE-CHECKED slice of what `tools.RecallProbe` sweeps:
    * for each query, where does its true nearest neighbour (exact cosine,
    * [[bruteForceTopK]] k=1) land in the approximate top-`k`? `found` =
    * present at all, `rr` = reciprocal rank (0 when missed) — averaging rr
    * over queries gives MRR, the number a deployment watches when tuning
    * nPlanes/probeRadius in production rather than in a one-off sweep.
    *
    * Scale shape: both sides broadcast the QUERY set and stream the corpus
    * map-side; the final join is per-query × k rows. Determinism: ranks
    * order by (rounded cosine DESC, id ASC) on both paths, so the oracle
    * replays them exactly. Output: (query_id, true_nn, found, rr). */
  def annRecallMrr(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int = 10, nPlanes: Int = 8, dim: Int = 64,
      seed: Long = 42L, probeRadius: Int = 1): DataFrame = {
    val truth = bruteForceTopK(corpus, queries, idCol, vecCol, k = 1)
      .select(col("query_id"), col("neighbor_id").as("true_nn"))
    val approx = srpAnnTopK(corpus, queries, idCol, vecCol, k = k,
      nPlanes = nPlanes, dim = dim, seed = seed, probeRadius = probeRadius)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
    truth
      .join(approx,
        truth("query_id") === approx("query_id") &&
          col("true_nn") === col("neighbor_id"), "left")
      .select(truth("query_id"), col("true_nn"),
        col("rank").isNotNull.as("found"),
        round(coalesce(lit(1.0) / col("rank"), lit(0.0)), 6).as("rr"))
  }
}
