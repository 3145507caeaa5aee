package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data pipelines.
  *
  * `df.sample()` is seed-dependent per partitioning and not reproducible
  * across engines or re-partitions; these operators decide membership from a
  * content hash, so a sample is stable under re-runs, repartitioning, engine
  * swaps and incremental reprocessing (the property data pipelines actually
  * need: "the same document is always in or always out").
  *
  * Hashing is md5-based (top 60 bits) so membership is recomputable by any
  * SQL engine for verification. Pure map-side — no shuffle, no state.
  */
object Sampling {

  /** Null keys coalesce to a sentinel so nullable keys still hash
    * deterministically — md5 of a null is null, which would silently drop
    * every null-key row from any sample regardless of the configured rate. */
  private def keyStr(key: Column): Column =
    coalesce(key.cast("string"), lit("\u0000graft_null"))

  /** 60-bit content hash of a key column (top 15 hex chars of md5) — the
    * deterministic ordering/bucketing primitive, recomputable by any SQL
    * engine. Computed by the fused digest kernel
    * ([[graft.sql.functions.md5Prefix64]]), value-identical to the
    * `conv(substring(md5(x),1,15),16,10)` chain it replaced (which paid
    * three string round-trips per row on every sample/rank/bucket path). */
  def hashRank(key: Column): Column =
    graft.sql.functions.md5Prefix64(keyStr(key), 15)

  /** 60-bit hash bucket in [0, buckets) of a key column. */
  def hashBucket(key: Column, buckets: Int): Column =
    pmod(hashRank(key), lit(buckets.toLong))

  /** Keep a stable ~`rate` fraction of rows, decided by the key's hash. */
  def hashSample(df: DataFrame, key: Column, rate: Double,
      buckets: Int = 10000): DataFrame = {
    require(rate >= 0.0 && rate <= 1.0, s"rate must be in [0,1], got $rate")
    df.where(hashBucket(key, buckets) < lit(math.round(rate * buckets)))
  }

  /** Keep at most `maxPerKey` rows per key — the per-domain / per-user cap
    * every training-data pipeline needs (unbounded hot domains otherwise
    * dominate the corpus). Which rows survive is decided by a content-hash
    * ranking of `rankKey` (ties broken by the raw value, then `tieBreak`),
    * so the retained set is a deterministic uniform-ish sample of each
    * group: stable under re-runs, repartitioning and engine swaps, unlike
    * head-N of an arbitrary file order. One window shuffle on the key.
    *
    * Determinism requires (rankKey, tieBreak) to totally order rows within
    * a key — with duplicate rankKey values and no tieBreak, which duplicate
    * survives is partitioning-dependent. Pass a row id as `rankKey` (usual
    * case) or supply `tieBreak` columns. */
  /** Mixture sampling: downsample a multi-source corpus so the surviving
    * composition across `sourceCol` values matches the given relative
    * `weights` — the data-mixture primitive of LLM corpus assembly ("webtext
    * 60 / code 30 / reference 10").
    *
    * The output is the LARGEST weight-proportional corpus achievable
    * without upsampling: scale = min over weighted sources of n_s / w_s,
    * giving per-source caps floor(w_s * scale); each source keeps its
    * cap-many rows ranked by content hash (stable under re-runs and
    * repartitioning — PROVIDED `rankKey` is unique per row, or `tieBreak`
    * columns complete the total order, same contract as [[cappedPerKey]]).
    * Sources absent from `weights` are dropped; a weighted
    * source absent from the data pins the scale to zero only if its weight
    * is > 0 — it simply contributes nothing, callers wanting a hard failure
    * should validate upstream.
    *
    * Scale shape: one map-combined count per source (the |sources|-row
    * result lands on the driver — mixtures have dozens of sources, not
    * millions), then one window shuffle partitioned by source for the
    * capped rank filter. The caps travel as a broadcast literal relation.
    */
  def mixtureSample(df: DataFrame, sourceCol: String,
      weights: Map[String, Double], rankKey: Column,
      tieBreak: Seq[Column] = Seq.empty): DataFrame = {
    val (counts, present) = sourceCounts(df, sourceCol, weights, "mixtureSample")
    if (present.isEmpty) return df.where(lit(false))
    val scale = present.map { case (s, w) => counts(s) / w }.min
    val caps = present.map { case (s, w) =>
      s -> math.max(math.floor(w * scale).toLong, 1L) }
    val spark = df.sparkSession
    import spark.implicits._
    val capsDf = caps.toSeq.toDF(sourceCol, "_graft_cap")
    // same total-order contract as cappedPerKey: (hashRank, rankKey-string)
    // must order rows totally within a source, or which duplicate survives
    // the cap is partitioning-dependent — callers with non-unique rankKey
    // values pass tieBreak columns to complete the order
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(sourceCol))
      .orderBy(hashRank(rankKey) +: rankKey.cast("string") +: tieBreak: _*)
    df.join(broadcast(capsDf), Seq(sourceCol))
      .withColumn("_graft_rn", row_number().over(w))
      .where(col("_graft_rn") <= col("_graft_cap"))
      .drop("_graft_rn", "_graft_cap")
  }

  /** Weight-proportional mixture WITH upsampling — the complement of
    * [[mixtureSample]] (which only ever downsamples): real training
    * mixtures REPEAT small high-quality sources (multi-epoch Wikipedia is
    * the classic), so here the most over-supplied source anchors the scale
    * (it keeps exactly its weighted share once) and every other source
    * replicates up to its share, capped at `maxEpochs` repetitions (the
    * standard guard against memorizing a tiny source).
    *
    * Per source s with n_s rows and weight w_s: rate r_s =
    * min(w_s · max_t(n_t / w_t) / n_s, maxEpochs) ≥ 1. Every row emits
    * floor(r_s) full copies (`epoch` 0..floor-1) plus one more at
    * epoch = floor(r_s) kept for a hash-stable fraction (r_s − floor) of
    * rows — membership decided by md5 of (key, epoch), so the sample is
    * stable under re-runs and repartitioning and any SQL engine replays
    * it. The fractional rate is held in integer micro-units so both
    * engines compare against the identical threshold.
    *
    * Output: the input columns plus `epoch` (long) — replicas are distinct
    * training examples; feed `epochShuffleKey(key, epoch)` downstream for
    * per-epoch ordering. Sources without a weight (or absent from the
    * data) are dropped. Scale shape: one map-combined count per source
    * (driver state = |sources|), a broadcast rates frame, and a map-side
    * explode bounded by maxEpochs+1 — no shuffle of data rows at all. */
  def mixtureSampleWithReplacement(df: DataFrame, sourceCol: String,
      weights: Map[String, Double], key: Column,
      maxEpochs: Int = 4): DataFrame = {
    applyMixtureRates(df,
      mixtureRates(df, sourceCol, weights, maxEpochs), sourceCol, key)
  }

  /** The bounded (|sources|-row) replication recipe behind
    * [[mixtureSampleWithReplacement]]: per source, the full-epoch count
    * and the fractional-epoch keep threshold in integer micro-units.
    * Fit it on a batch profile, then [[applyMixtureRates]] applies it
    * map-side to any frame — including a STREAMING one, where a live
    * count-based refit is impossible by construction. */
  def mixtureRates(df: DataFrame, sourceCol: String,
      weights: Map[String, Double], maxEpochs: Int = 4): DataFrame = {
    require(maxEpochs >= 1, s"maxEpochs must be >= 1, got $maxEpochs")
    val (counts, present) =
      sourceCounts(df, sourceCol, weights, "mixtureRates")
    val spark = df.sparkSession
    import spark.implicits._
    if (present.isEmpty)
      return Seq.empty[(String, Long, Long, Long)]
        .toDF(sourceCol, "_graft_full", "_graft_frac", "_graft_hi")
    // anchor: the most over-supplied source keeps its share exactly once
    val scale = present.map { case (s, w) => counts(s) / w }.max
    present.toSeq.map { case (s, w) =>
      val r = math.min(w * scale / counts(s), maxEpochs.toDouble)
      val full = math.floor(r).toLong
      val frac = math.round((r - full) * 1e6)
      // the fractional epoch only exists when there IS a fraction: frac==0
      // sources (the anchor, and maxEpochs-capped ones) must not pay an
      // exploded row + md5 draw per document that the filter always drops
      (s, full, frac, if (frac > 0) full else full - 1)
    }.toDF(sourceCol, "_graft_full", "_graft_frac", "_graft_hi")
  }

  /** Apply a [[mixtureRates]] recipe: broadcast rates join, bounded epoch
    * explode, hash-stable fractional draw — pure map-side (no shuffle, no
    * state), so it runs unchanged over batch and streaming frames, and a
    * stream's rows equal the batch rows over the same input (StreamingSpec
    * pins it). Keep the recipe frozen on a stream: a live refit would let
    * early batches decide membership differently than a replay, so refit
    * per profile run and restart the stream with the new recipe.
    * Unweighted sources drop (inner join). */
  def applyMixtureRates(df: DataFrame, rates: DataFrame, sourceCol: String,
      key: Column): DataFrame = {
    require(!df.columns.contains("epoch"),
      "applyMixtureRates writes an 'epoch' column — rename the input's")
    // "#" separator: a bare concat would alias (key "1", epoch 12) with
    // (key "11", epoch 2) and correlate their membership draws; keyStr's
    // null sentinel keeps a literal "graft_null" key value from colliding
    // with null keys
    val epochKey = concat_ws("#", keyStr(key), col("epoch").cast("string"))
    df.join(broadcast(rates), Seq(sourceCol))
      .withColumn("epoch", explode(sequence(lit(0L), col("_graft_hi"))))
      .where(col("epoch") < col("_graft_full")
        || hashBucket(epochKey, 1000000) < col("_graft_frac"))
      .drop("_graft_full", "_graft_frac", "_graft_hi")
  }

  /** Shared mixture preamble: weight validation, string source-column
    * check, per-source counts (a |sources|-row driver-side map) and the
    * weighted-and-present subset. */
  private def sourceCounts(df: DataFrame, sourceCol: String,
      weights: Map[String, Double], op: String)
      : (Map[String, Long], Map[String, Double]) = {
    require(weights.nonEmpty, "at least one source weight")
    require(weights.values.forall(_ > 0.0), "weights must be positive")
    require(df.schema(sourceCol).dataType == org.apache.spark.sql.types.StringType,
      s"$op source column '$sourceCol' must be a string " +
        "(weights are keyed by string; cast upstream for other types)")
    val counts = df.groupBy(col(sourceCol)).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getAs[String](0) -> r.getLong(1)).toMap
    (counts, weights.filter { case (s, _) => counts.getOrElse(s, 0L) > 0L })
  }

  def cappedPerKey(df: DataFrame, keys: Seq[Column], rankKey: Column,
      maxPerKey: Int, tieBreak: Seq[Column] = Seq.empty): DataFrame = {
    require(maxPerKey > 0, s"maxPerKey must be positive, got $maxPerKey")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys: _*)
      .orderBy(hashRank(rankKey) +: rankKey.cast("string") +: tieBreak: _*)
    df.withColumn("_graft_rn", row_number().over(w))
      .where(col("_graft_rn") <= maxPerKey)
      .drop("_graft_rn")
  }

  /** Temperature-scaled source rebalancing — the "count^alpha" rule of
    * multilingual / multi-source corpus assembly: flatten the source
    * distribution toward uniform without upsampling anything. With
    * temperature alpha = 0.5 (the common choice, and the one this
    * implementation fixes so the per-source keep-rate is a correctly-
    * rounded `sqrt` — bit-reproducible in any IEEE engine), source s keeps
    * a hash-stable fraction sqrt(n_min / n_s) of its rows: the smallest
    * source keeps everything, a 100×-larger source keeps 10×-many rows
    * (not 100×), so post-sample shares follow n^0.5.
    *
    * Fully declarative and driver-free: one map-combined count per source
    * (a |sources|-row relation), a 1-row global min, and a map-side
    * hash-bucket filter; the count and min relations broadcast. Membership
    * is content-hash-decided (same contract as [[hashSample]]): stable
    * under re-runs, repartitioning, and incremental reprocessing. */
  def temperatureSample(df: DataFrame, sourceCol: String, key: Column,
      buckets: Int = 10000): DataFrame = {
    val counts = df.groupBy(col(sourceCol)).agg(count(lit(1)).as("_graft_n"))
    val minN = counts.agg(min(col("_graft_n")).as("_graft_nmin"))
    df.join(broadcast(counts), Seq(sourceCol))
      .crossJoin(broadcast(minN))
      .where(hashBucket(key, buckets) < round(
        sqrt(col("_graft_nmin").cast("double") / col("_graft_n").cast("double"))
          * buckets))
      .drop("_graft_n", "_graft_nmin")
  }

  /** Per-row weighted deterministic sampling: keep each row with its OWN
    * probability (`weight` in [0,1], e.g. a quality score) — the
    * quality-weighted downsampling step of a curation pipeline. Membership
    * is still content-hash-decided, so it is reproducible and monotone in
    * the weight: raising a row's weight can only add it to the sample,
    * never evict it (stable incremental re-curation). Map-side only. */
  def weightedHashSample(df: DataFrame, key: Column, weight: Column,
      buckets: Int = 10000): DataFrame =
    df.where(hashBucket(key, buckets) <
      round(least(greatest(weight, lit(0.0)), lit(1.0)) * buckets))

  /** Deterministic per-epoch shuffle key: ORDER BY it to reshuffle the
    * corpus differently every training epoch while staying reproducible —
    * the same (key, epoch) always lands in the same position, so a
    * preempted epoch resumes in the exact order it started. Salting the
    * content hash with the epoch is the whole trick; writing the ordered
    * epoch with [[graft.operators.Layout]]-style range partitioning keeps
    * the global sort shuffle-balanced. */
  def epochShuffleKey(key: Column, epoch: Long): Column =
    hashRank(concat(keyStr(key), lit(s"_epoch_$epoch")))

  /** Exactly-k deterministic global sample: the k rows whose key hashes
    * smallest (ties broken by the key's string form). Unlike rate-based
    * [[hashSample]] the size is exact; unlike `df.limit(k)` the selection
    * is content-determined, not partition-order-determined. Executes as a
    * distributed TopK (per-partition heads + driver merge of k rows) — no
    * global sort, no single-partition shuffle. */
  def sampleExactK(df: DataFrame, key: Column, k: Int): DataFrame = {
    require(k > 0, s"k must be > 0, got $k")
    df.orderBy(hashRank(key), keyStr(key)).limit(k)
  }

  /** Weighted sampling WITHOUT replacement (Gumbel top-k / exponential
    * clocks): select exactly k rows with probability proportional to
    * exp(`logWeight`) by ranking on `logWeight + Gumbel(0,1)` noise and
    * taking the global top-k. This is the EXECUTION half of importance
    * resampling — DSIR's "resample ∝ exp(weight)" ([[graft.operators
    * .Ranking.dsirLogWeights]]) is literally this operator over its output.
    *
    * The noise derives deterministically from the key's md5, so the same
    * corpus always yields the same sample and any SQL engine can replay
    * the selection. Noise construction is oracle-exact: u = (h + 0.5)/2²⁰
    * with h the first 5 hex digits of md5(key) — an exact binary rational,
    * bit-identical as a double in every engine; g = −ln(−ln u).
    *
    * Scale shape: one map pass attaches keys, then a distributed TopK
    * (per-partition heads, k-row driver merge — TakeOrderedAndProject) —
    * no global sort, no corpus shuffle. k rows are the sample; they must
    * fit wherever the sample is consumed anyway.
    *
    * Rows whose `logWeight` is null are EXCLUDED up front (explicitly, not
    * via null ordering): Spark's `log` returns null for a non-positive
    * weight, so a zero-weight row reads as "never sample me" — which is
    * exactly what weight 0 means under ∝ exp semantics, but it must not
    * depend on nulls-last sort behaviour or pad the sample short of k. */
  def gumbelTopK(df: DataFrame, key: Column, logWeight: Column, k: Int,
      keyOut: String = "gumbel_key"): DataFrame = {
    require(k > 0, s"k must be > 0, got $k")
    // 20-bit md5 prefix, exact in double (value-identical to the conv chain)
    val h = graft.sql.functions.md5Prefix64(keyStr(key), 5).cast("double")
    val u = (h + lit(0.5)) / lit(1048576.0)
    val g = -log(-log(u))
    df.where(logWeight.isNotNull)
      .withColumn(keyOut, logWeight + g)
      .orderBy(col(keyOut).desc, keyStr(key))
      .limit(k)
  }

  /** Deterministic dataset split (train/validation/test): assign each row a
    * named split by its key's hash bucket, with fractions `splits` (must sum
    * to ≤ 1; any remainder falls into the LAST split). The assignment is a
    * pure map-side expression — no shuffle, no sampling state — and is
    * stable under re-runs, repartitioning and corpus growth: a row's split
    * never changes when other rows are added or removed, which is the
    * property that keeps eval sets leak-free across corpus versions.
    *
    * Fractions are quantised to 1/buckets (default 1e-4); order of `splits`
    * determines the bucket-range layout, so pass them in a fixed order. */
  def splitByHash(df: DataFrame, key: Column, splits: Seq[(String, Double)],
      splitCol: String = "split", buckets: Int = 10000): DataFrame = {
    require(splits.nonEmpty, "need at least one split")
    require(splits.forall(_._2 >= 0), "split fractions must be >= 0")
    val total = splits.map(_._2).sum
    require(total <= 1.0 + 1e-9, s"split fractions sum to $total > 1")
    require(!df.columns.contains(splitCol),
      s"input already carries '$splitCol' — pass a different splitCol")
    // cumulative upper bucket bounds; last split absorbs rounding remainder
    val bounds = splits.map(_._2).scanLeft(0.0)(_ + _).tail
      .map(c => math.round(c * buckets))
    val b = hashBucket(key, buckets)
    val assigned = splits.init.zip(bounds.init).foldRight(
      lit(splits.last._1)) { case (((name, _), hi), acc) =>
      when(b < lit(hi), lit(name)).otherwise(acc)
    }
    df.withColumn(splitCol, assigned)
  }

  /** Leakage-safe train/val/test split: assign splits at NEAR-DUP-CLUSTER
    * level, not document level — a doc-keyed split puts two near-copies of
    * the same page on opposite sides of the train/test fence, and the
    * "held-out" metric silently measures memorisation. Clusters come from
    * the near-dup `pairs` (any detector: n-gram Jaccard, MinHash-LSH,
    * embedding) via connected components; every member of a cluster hashes
    * to the SAME split by the cluster id.
    *
    * Scale shape: pointer-jumping components (O(log diameter) rounds) +
    * one map-side hash assignment — the split itself adds no shuffle
    * beyond [[splitByHash]] on the joined frame. Output: idCol,
    * cluster_id, `splitCol`. */
  def leakageSafeSplit(docs: DataFrame, idCol: String, pairs: DataFrame,
      idACol: String, idBCol: String, splits: Seq[(String, Double)],
      splitCol: String = "split", buckets: Int = 10000): DataFrame =
    splitByHash(
      graft.operators.Graphs.dedupClusters(docs, idCol, pairs, idACol, idBCol)
        .select(col(idCol), col("cluster_id")),
      col("cluster_id"), splits, splitCol, buckets)

  /** Stratified deterministic sampling: a rate per stratum value (e.g.
    * downsample dominant languages, keep the tail). Strata missing from
    * `rates` use `defaultRate`. */
  def stratifiedHashSample(df: DataFrame, key: Column, stratum: Column,
      rates: Map[String, Double], defaultRate: Double,
      buckets: Int = 10000): DataFrame = {
    val threshold = rates.foldLeft(lit(math.round(defaultRate * buckets))) {
      case (acc, (value, rate)) =>
        when(stratum === lit(value), lit(math.round(rate * buckets))).otherwise(acc)
    }
    df.where(hashBucket(key, buckets) < threshold)
  }

  /** Greedy token-budget corpus selection: keep rows in (priority DESC,
    * key ASC) order while the running `cost` total stays within `budget`
    * — the "assemble the best N-token corpus" step of a training-data
    * pipeline.
    *
    * Semantically identical to a global-sort running sum
    * (`sum(cost) OVER (ORDER BY priority DESC, key) <= budget`), but the
    * global sort — one worker owning the whole corpus's window — never
    * runs. Rows are BANDED by priority (pure map-side arithmetic over the
    * caller-declared [minPriority, maxPriority] range), band totals
    * cumulate on a bands-sized frame (nBands rows — a driver-trivial
    * window), and each row's running total is its band's offset plus a
    * within-band window. The only corpus-sized shuffle partitions by band;
    * the largest band, not the corpus, bounds a task. Equal priorities
    * always land in the same band, so the banded order composes to exactly
    * the global (priority DESC, key ASC) order.
    *
    * Returns the selected rows plus `cum_cost` (running total INCLUDING
    * the row). Rows with priority outside the declared range clamp to the
    * edge bands (order within the band still exact — clamping only affects
    * banding balance, never correctness). Null priorities sort last (band
    * nBands-1, after every non-null — matching SQL NULLS LAST in a DESC
    * order) and null costs count 0. */
  def budgetSelect(df: DataFrame, key: Column, cost: Column, priority: Column,
      budget: Long, minPriority: Double, maxPriority: Double,
      nBands: Int = 64, cumCol: String = "cum_cost"): DataFrame = {
    require(nBands > 0, s"nBands must be > 0, got $nBands")
    require(maxPriority > minPriority, "need maxPriority > minPriority")
    require(!df.columns.contains(cumCol),
      s"input already carries '$cumCol' — pass a different cumCol")
    val width = (maxPriority - minPriority) / nBands
    val rawBand = floor((lit(maxPriority) - priority) / lit(width))
    // NULL priority must reach the LAST band explicitly: Spark's
    // greatest/least SKIP nulls (they don't propagate), so clamping first
    // would silently send null-priority rows to band 0 — the front of the
    // selection order instead of the back
    val band = when(priority.isNull, lit((nBands - 1).toDouble))
      .otherwise(least(greatest(rawBand, lit(0.0)), lit((nBands - 1).toDouble)))
      .cast("long")
    val withBand = df.withColumn("__band", band)
    val bandTotals = withBand.groupBy(col("__band"))
      .agg(sum(coalesce(cost.cast("long"), lit(0L))).as("__bt"))
    // bands-sized frame: the single-partition window is over <= nBands rows
    val wOff = org.apache.spark.sql.expressions.Window
      .orderBy(col("__band").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val offsets = bandTotals
      .withColumn("__off", coalesce(sum(col("__bt")).over(wOff), lit(0L)))
      .select(col("__band"), col("__off"))
    val wIn = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__band"))
      .orderBy(priority.desc_nulls_last, key.asc)
    withBand.join(broadcast(offsets), Seq("__band"))
      .withColumn(cumCol,
        col("__off") + sum(coalesce(cost.cast("long"), lit(0L))).over(wIn))
      .where(col(cumCol) <= lit(budget))
      .drop("__band", "__off")
  }

  /** Temperature-weighted token-budget allocation across sources — the data
    * MIXING step of a pretraining pipeline (α=0.5 UniMax/temperature-style
    * re-weighting): each source's share of the token budget is proportional
    * to sqrt(its token mass), which up-weights small/rare sources relative
    * to raw proportional sampling without letting any single giant crawl
    * dominate the mix.
    *
    * Every arithmetic step after the one corpus aggregation is INTEGER so
    * the allocation is bit-reproducible in any engine: weights are
    * floor(sqrt(mass · weightScale)) (exact — the argument stays far below
    * 2^52, and IEEE sqrt is correctly rounded everywhere), shares are
    * integer-division largest-remainder apportionment (remainder DESC,
    * source ASC), so allocations sum to EXACTLY the budget. The whole
    * computation past the map-combined per-source mass rollup runs on a
    * sources-sized frame — trivially driver-safe at any corpus scale.
    * Output: (source, total_cost, weight, alloc, rate). */
  def temperatureAllocate(df: DataFrame, sourceCol: String, cost: Column,
      budget: Long, weightScale: Long = 1000000L, scale: Int = 6): DataFrame = {
    require(budget >= 0, "budget must be >= 0")
    val masses = df.groupBy(col(sourceCol).as("source"))
      .agg(sum(cost.cast("long")).as("total_cost"))
      .withColumn("weight",
        floor(sqrt((col("total_cost") * lit(weightScale)).cast("double"))).cast("long"))
    val wTot = org.apache.spark.sql.expressions.Window
      .partitionBy()
      .orderBy(col("source")) // total: frame below spans all rows regardless
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val withBase = masses
      .withColumn("__W", sum(col("weight")).over(wTot))
      .withColumn("__bw", lit(budget) * col("weight"))
      .withColumn("alloc_base", expr("__bw div __W")) // integer division
      .withColumn("__rem", col("__bw") % col("__W"))
      .withColumn("__leftover", lit(budget) - sum(col("alloc_base")).over(wTot))
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy()
      .orderBy(col("__rem").desc, col("source").asc)
    withBase
      .withColumn("alloc",
        col("alloc_base") + when(row_number().over(wRank) <= col("__leftover"), 1L)
          .otherwise(0L))
      .withColumn("rate",
        round(col("alloc").cast("double") / col("total_cost"), scale))
      .select(col("source"), col("total_cost"), col("weight"), col("alloc"),
        col("rate"))
  }
}
