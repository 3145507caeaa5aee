package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

import java.sql.Timestamp

import graft.operators.{AnnIndex, Binning, Dedup, DedupIndex, Drift, Materialize, Ranking, Trend}
import graft.storage.{AuditTableInfo, Storage}

/** Structured Streaming shapes for the event model.
  *
  * The reference is batch-only (SURVEY.md §1.3). Streaming here is a thin
  * layer over the batch operators: a batch operator whose plan is legal on a
  * streaming frame runs on one unchanged — `Multimodal.imageProfiles` and
  * `audioProfiles`, `Sampling.applyMixtureRates`, `Sketches.countMinSketch`
  * and `kmvSketch`, `Ranking.topKPerKey` — and StreamingSpec pins each
  * against its batch result. This module holds only what a stream needs
  * beyond that, built on watermarked event time so state is bounded on
  * unbounded input:
  *   - windowed aggregation, dedup and joins (a watermark or a window the
  *     batch operator has no column for),
  *   - per-key state via `flatMapGroupsWithState` (sessions, rolling
  *     scores, LOCF ticks, packing offsets), where the batch twin's window
  *     function is not expressible over an unbounded stream,
  *   - `foreachBatch` sinks that run a batch operator per micro-batch
  *     against storage or a static index, all through one skeleton.
  */
object Streaming {

  /** Tumbling/sliding event-time counts per event type. Watermark bounds
    * state; slide == window gives tumbling semantics. */
  def windowedEventCounts(events: DataFrame, tsCol: String = "ts",
      watermark: String = "10 minutes", windowDuration: String = "1 hour",
      slideDuration: Option[String] = None): DataFrame = {
    val win = slideDuration match {
      case Some(slide) => window(col(tsCol), windowDuration, slide)
      case None => window(col(tsCol), windowDuration)
    }
    events
      .withWatermark(tsCol, watermark)
      .groupBy(win.as("win"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(col("win.start").as("window_start"), col("win.end").as("window_end"),
        col("event_type"), col("n_events"), col("total_value"))
  }

  /** Streaming exact dedup on key columns within the watermark horizon —
    * Spark keeps the key set as state and drops late duplicates. */
  def dedupStream(events: DataFrame, tsCol: String, watermark: String,
      keyCols: Seq[String]): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicates(keyCols :+ tsCol)

  final case class SessionInput(user_id: Long, ts: Timestamp, value: Double)
  final case class SessionState(start: Long, lastSeen: Long, nEvents: Long, totalValue: Double)
  final case class SessionSummary(user_id: Long, session_start: Timestamp,
      session_end: Timestamp, n_events: Long, total_value: Double)

  /** Session windows with a custom gap: events for a user belong to one
    * session until `gapMs` of silence; a session closes via event-time
    * timeout and emits one summary row. State per live session only. */
  def sessionize(events: Dataset[SessionInput], gapMs: Long,
      watermark: String = "10 minutes"): Dataset[SessionSummary] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionSummary](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (userId, rows, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionSummary(userId, new Timestamp(s.start),
              new Timestamp(s.lastSeen), s.nEvents, s.totalValue))
          } else {
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            var current = state.getOption
            // late events more than a gap BEFORE the live session accumulate
            // into their own retro session(s), closed at batch end — a bare
            // `t - lastSeen <= gap` would absorb arbitrarily-early late
            // events into the current session
            var retro: Option[SessionState] = None
            val closed = Seq.newBuilder[SessionSummary]
            def summary(s: SessionState) = SessionSummary(userId,
              new Timestamp(s.start), new Timestamp(s.lastSeen), s.nEvents, s.totalValue)
            sorted.foreach { e =>
              val t = e.ts.getTime
              current match {
                // within the gap of EITHER live-session boundary: merge, a
                // late event extends the session start backward
                case Some(s) if t >= s.start - gapMs && t <= s.lastSeen + gapMs =>
                  current = Some(s.copy(start = math.min(s.start, t),
                    lastSeen = math.max(s.lastSeen, t),
                    nEvents = s.nEvents + 1, totalValue = s.totalValue + e.value))
                case Some(s) if t > s.lastSeen + gapMs =>
                  closed += summary(s)
                  current = Some(SessionState(t, t, 1, e.value))
                case Some(_) =>
                  retro match {
                    case Some(r) if t - r.lastSeen <= gapMs =>
                      retro = Some(r.copy(lastSeen = t,
                        nEvents = r.nEvents + 1, totalValue = r.totalValue + e.value))
                    case Some(r) =>
                      closed += summary(r)
                      retro = Some(SessionState(t, t, 1, e.value))
                    case None =>
                      retro = Some(SessionState(t, t, 1, e.value))
                  }
                case None =>
                  current = Some(SessionState(t, t, 1, e.value))
              }
            }
            retro.foreach(closed += summary(_))
            current.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastSeen + gapMs)
            }
            closed.result().iterator
          }
      }
  }

  final case class PointInput(key: Long, ts: Timestamp, value: Double)
  final case class RollingState(points: List[(Long, Double)])
  final case class PointScore(key: Long, ts: Timestamp, value: Double,
      n_prior: Long, z: Option[Double], is_anomaly: Boolean)

  /** Streaming trailing-window anomaly detection — the streaming twin of
    * [[graft.operators.Temporal.rollingZScore]]: flag a point whose value
    * deviates more than `zThreshold` sample standard deviations from the
    * mean of the prior points inside `windowSec` before it.
    *
    * State per key is the point buffer reaching `windowSec` behind
    * min(newest point, watermark) — the pruning horizon a within-watermark
    * late arrival can still need — evicted entirely via event-time timeout
    * once the watermark passes, so memory follows key-rate ×
    * (window + watermark delay), not stream length. Arithmetic matches the
    * batch twin exactly — same left-to-right prior-sum order, same explicit
    * variance form, same rounding — so backfill (batch) and live (stream)
    * flags agree, except on timestamp TIES: the batch RANGE frame lets tied
    * rows see each other, while a stream scores strictly in arrival order
    * (a late point also sums state points before its own batch's — a
    * float-ulp divergence the output rounding absorbs). */
  def anomalyStream(points: Dataset[PointInput], windowSec: Long,
      minPrior: Int = 5, zThreshold: Double = 3.0, scale: Int = 4,
      watermark: String = "1 hour"): Dataset[PointScore] = {
    import points.sparkSession.implicits._
    val windowMs = windowSec * 1000L
    points
      .withWatermark("ts", watermark)
      .groupByKey(_.key)
      .flatMapGroupsWithState[RollingState, PointScore](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (key, rows, state: GroupState[RollingState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val old = state.getOption.map(_.points).getOrElse(Nil)
            // O(1) append for the batch's own points (a List :+ per row is
            // quadratic in batch size); prior lookup walks old state + the
            // buffer, both in ascending (ts, value) order. On in-order
            // streams that is exactly the batch twin's frame order; a LATE
            // point sums after the state points despite its earlier ts —
            // a float-ulp divergence the output rounding absorbs
            val fresh = scala.collection.mutable.ListBuffer.empty[(Long, Double)]
            def prior(t: Long): (Int, Double, Double) = {
              var n = 0; var s = 0.0; var ss = 0.0
              def add(p: (Long, Double)): Unit =
                if (p._1 >= t - windowMs && p._1 <= t) {
                  n += 1; s += p._2; ss += p._2 * p._2
                }
              old.foreach(add); fresh.foreach(add)
              (n, s, ss)
            }
            val scored = rows.toSeq.sortBy(r => (r.ts.getTime, r.value)).map { r =>
              val t = r.ts.getTime
              val (n, s, ss) = prior(t)
              val mean = s / math.max(n, 1)
              val variance = (ss - n * mean * mean) / math.max(n - 1, 1)
              val std = math.sqrt(math.max(variance, 0.0))
              val z = if (n >= minPrior && std > 1e-9)
                Some(BigDecimal((r.value - mean) / std)
                  .setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble)
              else None
              fresh += (t -> r.value)
              PointScore(key, r.ts, r.value, n.toLong, z,
                z.exists(v => math.abs(v) > zThreshold))
            }
            val pts = old ++ fresh
            val newest = pts.iterator.map(_._1).max
            // prune against min(newest, watermark): a future point cannot
            // carry ts below the watermark, so anything older than
            // watermark - window can never enter a prior frame again — but
            // pruning against newest alone would truncate the prior window
            // of a within-watermark LATE point whose ts trails the batch
            // max. State stays bounded by key-rate × (window + watermark
            // delay).
            val horizon = math.min(newest, state.getCurrentWatermarkMs()) - windowMs
            // keep ascending (ts, value) order so the NEXT batch's prior
            // sums accumulate in the same order the batch twin uses
            val kept = pts.filter(_._1 >= horizon).sorted
            state.update(RollingState(kept))
            state.setTimeoutTimestamp(
              math.max(newest + windowMs, state.getCurrentWatermarkMs() + 1))
            scored.iterator
          }
      }
  }

  final case class LocfState(lastObsTs: Long, lastObsVal: Double,
      pending: List[(Long, Double)], nextTickMs: Long)
  final case class LocfTick(key: Long, tick: Timestamp, obs_ts: Timestamp,
      value: Double)

  /** Streaming LOCF resampler — the streaming twin of
    * [[graft.operators.Temporal.resampleLocf]]: per key, emit one row per
    * epoch-aligned tick of width `intervalSec` carrying the most recent
    * observation at or before the tick. Ticks fire as the WATERMARK passes
    * them (strictly: tick < watermark, so a within-watermark late
    * observation can never land at-or-before an already-emitted tick), and
    * the event-time timeout keeps a silent key ticking — the gap-filling a
    * live series needs and the batch twin, which stops at each key's max
    * observation, cannot express. `idleStopSec` optionally ends a series
    * at newest-observation + idleStopSec: ticks due before that instant
    * still emit (so nothing the batch twin produces is swallowed), then
    * the key's state drops.
    *
    * State per key is ONE carried observation plus the pending
    * observations newer than the emission frontier (drains every time the
    * watermark advances) — memory follows key count + late-arrival rate ×
    * watermark delay, not stream length. Agreement with the batch twin:
    * identical (tick, obs_ts, value) rows for every tick both emit —
    * ticks ≤ the key's max observation once the watermark passes them. */
  def locfResampleStream(points: Dataset[PointInput], intervalSec: Long,
      watermark: String = "1 hour",
      idleStopSec: Option[Long] = None): Dataset[LocfTick] = {
    import points.sparkSession.implicits._
    val ivMs = intervalSec * 1000L
    def ceilTick(tsMs: Long): Long = math.floorDiv(tsMs + ivMs - 1, ivMs) * ivMs
    points
      .withWatermark("ts", watermark)
      .groupByKey(_.key)
      .flatMapGroupsWithState[LocfState, LocfTick](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (key, rows, state: GroupState[LocfState]) =>
          val wm = state.getCurrentWatermarkMs()
          val prior = state.getOption
          // merge this batch into the pending timeline (ascending by ts;
          // unique (key, ts) required, same contract as the batch twin)
          val merged = (prior.map(_.pending).getOrElse(Nil) ++
            rows.map(r => (r.ts.getTime, r.value))).sortBy(_._1)
          if (merged.isEmpty && prior.isEmpty) {
            // timeout fired for a key whose state was already dropped
            state.remove(); Iterator.empty
          } else {
            // idle cutoff: the series ENDS at newest-obs + idleStopSec —
            // ticks due before that instant (and before the watermark)
            // still emit, THEN the state drops; removing first would
            // silently swallow ticks the batch twin produces
            val newestObs = (prior.map(_.lastObsTs).getOrElse(Long.MinValue) +:
              merged.map(_._1)).max
            val seriesEnd = idleStopSec.map(s => newestObs + s * 1000L)
            val ended = seriesEnd.exists(_ < wm)
            // emission horizon: strictly below the watermark, and never
            // past the series end when one applies
            val horizon = seriesEnd.filter(_ < wm).map(_ + 1).getOrElse(wm)

            // emission frontier: resumes where the last batch stopped, or
            // starts at the first observation's aligned tick
            var tick = prior.map(_.nextTickMs)
              .getOrElse(ceilTick(merged.head._1))
            var lastTs = prior.map(_.lastObsTs).getOrElse(Long.MinValue)
            var lastVal = prior.map(_.lastObsVal).getOrElse(Double.NaN)
            var rest = merged
            val out = scala.collection.mutable.ListBuffer.empty[LocfTick]
            while (tick < horizon) {
              while (rest.nonEmpty && rest.head._1 <= tick) {
                lastTs = rest.head._1; lastVal = rest.head._2
                rest = rest.tail
              }
              if (lastTs != Long.MinValue)
                out += LocfTick(key, new Timestamp(tick),
                  new Timestamp(lastTs), lastVal)
              tick += ivMs
            }
            if (ended) state.remove()
            else {
              state.update(LocfState(lastTs, lastVal, rest, tick))
              // wake when the watermark passes the next tick, so a silent
              // key keeps ticking without new data
              state.setTimeoutTimestamp(math.max(tick + 1, wm + 1))
            }
            out.iterator
          }
      }
  }

  /** Stream-static enrichment: attach dimension attributes to each event.
    * The static side re-resolves per micro-batch (a metastore-backed dim
    * picks up updates) and broadcasts — no stream-side shuffle at all. */
  def enrichStream(stream: DataFrame, dim: DataFrame, keys: Seq[String]): DataFrame =
    stream.join(broadcast(dim), keys, "left")

  /** Watermarked stream-stream join: correlate right-stream events to
    * left-stream events sharing `keys` where the right event lands within
    * `[0, within]` AFTER the left event (signup→purchase attribution,
    * request→response pairing).
    *
    * Both sides carry watermarks and the join predicate bounds the
    * event-time distance — the two conditions Spark needs to age out join
    * state on unbounded input; an unconstrained stream-stream join would
    * buffer both streams forever. State per side is bounded by
    * watermark + `within`. `joinType` supports the watermark-compatible
    * outer variants ("inner", "leftOuter", "rightOuter", "fullOuter") —
    * outer rows emit only once the watermark proves no match can arrive.
    *
    * The time-bound predicate makes this the streaming twin of the batch
    * `Temporal.intervalJoin`. */
  def streamStreamJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTs: String, rightTs: String, watermark: String, within: String,
      joinType: String = "inner"): DataFrame = {
    require(keys.nonEmpty, "at least one join key")
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark)
    val keyCond = keys.map(k => l(k) === r(k)).reduce(_ && _)
    val timeCond = r(rightTs) >= l(leftTs) &&
      r(rightTs) <= l(leftTs) + expr(s"interval $within")
    l.join(r, keyCond && timeCond, joinType)
  }

  /** Streaming content dedup: canonical md5 fingerprint per document, state
    * bounded by the watermark (`dropDuplicatesWithinWatermark`) — the
    * streaming twin of batch exact dedup, safe on unbounded input because
    * fingerprints expire with event time. */
  def dedupStreamByContent(docs: DataFrame, tsCol: String, watermark: String,
      textCol: String): DataFrame =
    docs
      .withColumn("_fp", graft.functions.TextFunctions.fingerprint(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("_fp")
      .drop("_fp")

  /** Streaming benchmark decontamination: flag documents sharing word
    * n-grams with a STATIC benchmark set, at ingest time. The benchmark's
    * distinct gram hashes collect once to the driver (eval suites are tiny
    * by definition) and broadcast; each arriving doc is scored by one
    * in-row set-membership pass — completely stateless, no stream-side
    * shuffle, works in append mode with no watermark. The batch twin
    * ([[graft.operators.Dedup.decontaminate]]) shares the same benchmark
    * gram set, gram-hash function and `n > 0` check, so flags agree between
    * backfill and live ingest. The batch plan itself is not reused: its
    * per-doc aggregation would be unbounded state on a stream. */
  def decontaminateStream(docs: DataFrame, textCol: String, benchmark: DataFrame,
      benchTextCol: String, n: Int = 8, maxHits: Long = 0L): DataFrame = {
    val benchSet: Set[Long] = Dedup.benchmarkGrams(benchmark, benchTextCol, n)
      .collect().map(_.getLong(0)).toSet
    val gh = Dedup.gramHashUdf(n)
    val bc = docs.sparkSession.sparkContext.broadcast(benchSet)
    val hitsUdf = udf { (ghs: Array[Long]) => ghs.count(bc.value.contains).toLong }
    docs
      .withColumn("_ghs", gh(col(textCol)))
      .withColumn("n_grams", size(col("_ghs")).cast("long"))
      .withColumn("n_hits", hitsUdf(col("_ghs")))
      .withColumn("contaminated", col("n_hits") > maxHits)
      .drop("_ghs")
  }

  /** Streaming drift monitor: per micro-batch, compare the batch's
    * categorical distribution against a STATIC reference snapshot
    * ([[graft.operators.Drift.driftSummary]] — KL both ways, JS, PSI) and
    * append one summary row per batch to `outPath` (columns: batch_id +
    * the four divergences). The monitoring loop for live ingest: alerting
    * tails the parquet and fires when js/psi exceed a budget.
    *
    * Stateless across batches by design — each batch is judged on its own
    * distribution, so a drifting source is visible immediately and state
    * never grows. The reference frame re-resolves per batch (a
    * metastore-backed snapshot picks up updates). */
  def driftMonitorStream(stream: DataFrame, reference: DataFrame,
      cat: Column, outPath: String, checkpoint: String): StreamingQuery =
    eachNonEmptyBatch(stream, checkpoint) { (batch, epochId) =>
      Drift.driftSummary(batch, reference, cat)
        .withColumn("batch_id", lit(epochId))
        .write.mode("append").parquet(outPath)
    }

  /** Streaming BM25 retrieval serving: queries ARRIVE as a stream and are
    * answered against a STATIC pre-built inverted index
    * ([[graft.operators.Ranking.bm25Index]]; materialized on start here,
    * and contributions are query-independent by construction, so serving
    * never re-tokenizes the corpus). Per micro-batch, each query's top-k
    * runs through the batch [[graft.operators.Ranking.bm25Retrieve]] —
    * results are BIT-IDENTICAL to batch retrieval over the same queries
    * (spec-pinned) — and lands in `outPath/batch_id=N`, one OVERWRITTEN
    * directory per epoch, so the at-least-once foreachBatch contract can
    * never duplicate a replayed batch's rows.
    *
    * Per-batch work is proportional to the arriving queries' term
    * postings, state is zero (every query is self-contained), so the
    * serving loop runs forever on bounded memory. */
  def bm25ServeStream(queries: DataFrame, index: DataFrame,
      queryIdCol: String, queryTextCol: String, k: Int,
      outPath: String, checkpoint: String): StreamingQuery = {
    // materialize HERE, not by caller convention: a raw bm25Index frame
    // would re-tokenize the corpus every micro-batch (idempotent if the
    // caller already materialized — one extra pass at start, then shared)
    val idx = Materialize(index)
    eachNonEmptyBatch(queries, checkpoint) { (batch, epochId) =>
      // one directory per epoch, OVERWRITE: foreachBatch is
      // at-least-once, so a replayed epoch rewrites its own partition
      // instead of appending duplicate result rows; readers of outPath
      // get batch_id back as a partition column
      Ranking.bm25Retrieve(idx, batch, queryIdCol, queryTextCol, k)
        .write.mode("overwrite").parquet(s"$outPath/batch_id=$epochId")
    }
  }

  /** Streaming embedding-space drift monitor: per event-time window, the
    * top principal axis of the arriving embeddings and its alignment with
    * a FROZEN reference axis (from a batch
    * [[graft.operators.Pca.principalComponent]] over historical data) —
    * "is the embedding distribution rotating away from what the index /
    * quantizer was trained on?". `drift` is 1 − |cos(window axis,
    * reference axis)|: 0 = same axis (sign-insensitive — eigenvectors are
    * sign-ambiguous), → 1 = orthogonal.
    *
    * The aggregation state per window is ONE [[graft.sql.GramianMoments]]
    * buffer — 2 + d + d(d+1)/2 longs, O(d²) regardless of how many vectors
    * arrive — and the watermark expires windows, so the monitor runs
    * forever on bounded memory. The eigen-extraction runs once per WINDOW
    * row (not per vector) through the exact-integer
    * [[graft.operators.Pca.topComponentFromMoments]], so a window's
    * reported axis is bit-identical to the batch operator over the same
    * vectors. Run with Append output after the watermark closes windows. */
  def embeddingDriftStream(vectors: DataFrame, vecCol: String, tsCol: String,
      watermark: String, windowSec: Long, referenceAxis: Array[Double],
      iterations: Int = 4): DataFrame = {
    require(windowSec > 0, s"windowSec must be > 0, got $windowSec")
    require(referenceAxis.nonEmpty, "referenceAxis must be non-empty")
    graft.sql.functions.ensureRegistered(vectors.sparkSession)
    val ref = referenceAxis
    val extract = udf { (m: Seq[Long]) =>
      val (axis, share) =
        graft.operators.Pca.topComponentFromMoments(m, iterations)
      require(axis.length == ref.length,
        s"window embeddings have dim ${axis.length}, reference axis ${ref.length}")
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < axis.length) {
        dot += axis(i) * ref(i); na += axis(i) * axis(i); nb += ref(i) * ref(i)
        i += 1
      }
      val cos =
        if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na) / math.sqrt(nb)
      (axis, share, 1.0 - math.abs(cos))
    }
    vectors
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), s"$windowSec seconds"))
      .agg(call_function("graft_gramian",
        col(vecCol).cast("array<double>")).as("moments"))
      .where(size(col("moments")) > lit(0)) // windows of only-null vectors
      .withColumn("_e", extract(col("moments")))
      .select(col("window.start").as("window_start"),
        element_at(col("moments"), 2).as("n_vectors"),
        col("_e._1").as("axis"), col("_e._2").as("var_share"),
        col("_e._3").as("drift"))
  }

  /** Streaming histogram sketch over a FIXED reference range: the running
    * (bin, cnt) state of an unbounded value stream — the streaming twin of
    * [[graft.operators.Binning.approxQuantiles]]'s histogram pass.
    * Aggregation state is ≤ nBins counters regardless of stream length;
    * answer quantiles from any snapshot with
    * [[graft.operators.Binning.quantilesFromHistogram]]. The range comes
    * from a batch profile of historical data (a stream can't two-pass for
    * min/max); out-of-range values clamp into the edge bins, which keeps
    * the monitor total-mass-correct and surfaces range drift as edge-bin
    * swell. Run with Complete/Update output. */
  def quantileSketchStream(points: DataFrame, valueCol: String,
      lo: Double, hi: Double, nBins: Int = 256): DataFrame = {
    require(nBins > 0, s"nBins must be > 0, got $nBins")
    val v = col(valueCol).cast("double")
    points.where(v.isNotNull)
      .groupBy(Binning.clampedBin(v, lit(lo), lit(hi), nBins).as("bin"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Streaming windowed trend monitor: per (event-time window, key) OLS
    * slope/intercept/R² of `y` against event-time — the streaming twin of
    * [[graft.operators.Trend.groupTrend]] ("is this metric drifting,
    * per segment, right now?"), which it calls with the window as one more
    * group. The aggregation state per group is that operator's six
    * sufficient statistics (n, Σx, Σy, Σx², Σy², Σxy) — O(1) per
    * window×key however many events arrive — and the watermark expires
    * windows, so the monitor runs forever on bounded memory. x is seconds
    * since the window start: centered per-window, which both keeps the
    * closed form numerically sound and makes slopes comparable across
    * windows (units: y per second). */
  def trendMonitorStream(events: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, watermark: String = "10 minutes",
      windowDuration: String = "1 hour", scale: Int = 6): DataFrame = {
    // window + x materialized BEFORE the aggregation (an agg function may
    // not reference the window alias it groups by), so the six sums see x
    // as a plain input column
    val pre = events
      .withWatermark(tsCol, watermark)
      .withColumn("win", window(col(tsCol), windowDuration))
      .withColumn("_x", (unix_micros(col(tsCol)) - unix_micros(col("win.start")))
        .cast("double") / lit(1000000.0))
    Trend.groupTrend(pre, Seq(col("win"), col(keyCol)), col("_x"), col(valueCol), scale)
      .select(col("win.start").as("window_start"), col("win.end").as("window_end"),
        col(keyCol), col("n"), col("slope"), col("intercept"), col("r2"))
  }

  final case class PackInput(shard: String, order_key: Long, n_tokens: Long)
  final case class PackState(cumTokens: Long)
  final case class PackedDoc(shard: String, order_key: Long, n_tokens: Long,
    start_offset: Long, chunk_id: Long, spans_boundary: Boolean)

  /** Streaming sequence packing: the batch
    * [[graft.operators.Packing.packSequences]] contract applied
    * incrementally — documents receive their shard's cumulative token
    * offset, fixed-window chunk id, and boundary flag as they ARRIVE, so a
    * live ingest assigns final training-window coordinates without ever
    * re-reading the corpus. The per-shard state is ONE long (the running
    * token total): bounded by |shards| forever, no matter how many
    * documents stream through — the window-function formulation the batch
    * twin uses is not even expressible over an unbounded stream.
    *
    * Ordering contract: within a micro-batch, rows pack in ascending
    * `order_key` (the batch twin's orderCol); ACROSS batches, arrival
    * order is pack order. Feed batches in orderCol order (the backfill
    * replay) and the stream's offsets equal the batch twin's exactly
    * (spec-pinned). Packing is corpus-order, not event-time — there is no
    * watermark and shard state never expires. */
  def packStream(docs: Dataset[PackInput], windowTokens: Long): Dataset[PackedDoc] = {
    require(windowTokens > 0, s"windowTokens must be > 0, got $windowTokens")
    import docs.sparkSession.implicits._
    docs.groupByKey(_.shard)
      .flatMapGroupsWithState[PackState, PackedDoc](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (shard, rows, state: GroupState[PackState]) =>
          var cum = state.getOption.map(_.cumTokens).getOrElse(0L)
          val out = rows.toSeq.sortBy(_.order_key).map { r =>
            val start = cum
            cum += r.n_tokens
            PackedDoc(shard, r.order_key, r.n_tokens, start,
              start / windowTokens,
              (start % windowTokens + r.n_tokens) > windowTokens)
          }
          state.update(PackState(cum))
          out.iterator
      }
  }

  /** Stream into an audit table: each micro-batch appends one region via
    * [[graft.storage.AuditTable.append]], wiring Structured Streaming into
    * the storage layer's snapshot/compact lifecycle (the reference reaches
    * storage only from batch flows; this is the streaming ingest path).
    *
    * Delivery is AT-LEAST-ONCE: a batch replayed after a crash appends a
    * second region. For tables with PRIMARY KEYS that is absorbed
    * downstream — `snapshot(ts)` dedups to the latest row per PK, and
    * compaction merges the extra regions. PK-less append-only tables have
    * NO dedup anywhere on the read or compact path, so a replay
    * double-counts those rows permanently — give streamed tables primary
    * keys, or dedup downstream of `allBetween`.
    *
    * @param batchTimestamp append timestamp per epoch id — inject a
    *                       deterministic mapping in tests; defaults to
    *                       wall clock. */
  def writeToStorageStream(
      stream: DataFrame,
      basePath: String,
      info: AuditTableInfo,
      checkpoint: String,
      lastUpdatedCol: Option[String] = None,
      batchTimestamp: Long => Timestamp = wallClock): StreamingQuery =
    eachNonEmptyBatch(stream, checkpoint) { (batch, epochId) =>
      // re-open the table EVERY epoch: a handle cached across epochs goes
      // stale the moment a maintenance job compacts the table, and its next
      // region id would then collide with the compactor's freshly written
      // region
      Storage.getOrCreateTable(batch.sparkSession, basePath, info)
        .append(batch, lastUpdatedCol, batchTimestamp(epochId))
    }

  /** The daily-crawl loop as a stream: every micro-batch of documents is
    * deduped against EVERYTHING INDEXED BEFORE IT (near-dup pairs handed to
    * `onPairs`), then signed and appended to the persisted MinHash index —
    * the streaming twin of the [[graft.operators.DedupIndex]] batch loop,
    * composing banded LSH with the storage layer's audit-table snapshots.
    * The indexed corpus is never re-scanned or re-shingled: each epoch pays
    * signature cost for its own batch plus a banded equi-join against
    * signature rows (~64 longs per indexed doc).
    *
    * Pairs are batch-vs-index only; dedup WITHIN a batch, if wanted, is
    * [[graft.operators.Dedup.minHashLshPairs]] on the batch inside
    * `onPairs`. Index writes are IDEMPOTENT under epoch replay (PK snapshot
    * semantics: the latest signature per doc id wins), pair emission is
    * at-least-once — same contract as [[writeToStorageStream]].
    *
    * @param batchTimestamp per-epoch append/as-of timestamp — MUST be
    *                       strictly increasing in the epoch id (the as-of
    *                       read at epoch N sees exactly the appends of
    *                       epochs < N); inject a deterministic mapping in
    *                       tests. */
  def dedupIndexStream(
      docs: DataFrame, idCol: String, textCol: String,
      basePath: String, checkpoint: String,
      onPairs: (DataFrame, Long) => Unit,
      tableName: String = DedupIndex.DefaultTableName,
      bands: Int = 8, rowsPerBand: Int = 8, shingleWords: Int = 3,
      threshold: Double = 0.5,
      batchTimestamp: Long => Timestamp = wallClock): StreamingQuery =
    eachNonEmptyBatch(docs, checkpoint) { (batch, epochId) =>
      val table = DedupIndex.openOrCreate(batch.sparkSession, basePath, tableName)
      val ts = batchTimestamp(epochId)
      onPairs(DedupIndex.dedupAgainst(table, ts, batch, idCol, textCol,
        bands, rowsPerBand, shingleWords, threshold), epochId)
      DedupIndex.indexBatch(table, batch, idCol, textCol, ts,
        bands, rowsPerBand, shingleWords)
    }

  /** Streamed ANN-index maintenance — the ingest half of the persisted
    * IVF-PQ loop ([[graft.operators.AnnIndex]]) as a stream: each
    * micro-batch of (id, vector) rows is assigned to its coarse cell and
    * residual-encoded against the FROZEN models as of that batch's
    * timestamp, then appended codes-only. PK semantics make epoch replay
    * idempotent (a re-delivered batch re-appends the same vec_ids, and the
    * snapshot resolves one row per id); queries at any `asOf` see exactly
    * the batches whose timestamps precede it. Requires `buildIvfPq` to
    * have run once (models must exist before the stream starts). */
  def annIndexStream(
      vectors: DataFrame, basePath: String, checkpoint: String,
      idCol: String, vecCol: String,
      batchTimestamp: Long => Timestamp = wallClock): StreamingQuery =
    eachNonEmptyBatch(vectors, checkpoint) { (batch, epochId) =>
      AnnIndex.appendVectorsPq(batch.sparkSession,
        basePath, batch, idCol, vecCol, batchTimestamp(epochId))
    }

  /** Streamed as-of enrichment against a PERSISTED dimension — the
    * operational twin of the native batch as-of join ([[graft.plans.AsOf]])
    * and the lambda-loop closer for the temporal family: a stream of points
    * (trades, requests, sensor reads) is enriched per micro-batch with the
    * latest-at-or-before dimension row (quotes, configs, calibrations) from
    * a storage-layer audit table.
    *
    * Snapshot ISOLATION per micro-batch: each batch resolves the audit
    * table at `batchTimestamp(epochId)` — concurrent ingest into the
    * dimension after that timestamp is invisible to the batch, so replaying
    * an epoch (foreachBatch's at-least-once contract) joins against the
    * SAME snapshot and yields the same rows; results are reproducible and
    * region pruning keeps the snapshot read from scanning newer ingest.
    * Each batch is one native as-of join: the (usually small) snapshot
    * shuffles per batch, the stream side shuffles only within the batch.
    * Dimension/stream column names must be disjoint (as-of contract). */
  def asOfEnrichStream(
      stream: DataFrame, basePath: String, tableName: String,
      checkpoint: String,
      onBatch: (DataFrame, Long) => Unit,
      pointKeys: Seq[String], dimKeys: Seq[String],
      pointTsCol: String, dimTsCol: String,
      direction: String = "backward", tolerance: Option[Long] = None,
      batchTimestamp: Long => Timestamp = wallClock): StreamingQuery =
    eachNonEmptyBatch(stream, checkpoint) { (batch, epochId) =>
      val asOfTs = batchTimestamp(epochId)
      val snap = Storage.openTable(batch.sparkSession, basePath, tableName)
        .getOrElse(throw new IllegalStateException(
          s"no audit table '$tableName' under $basePath — ingest the " +
            "dimension before starting the enrichment stream"))
        .snapshot(asOfTs)
        .getOrElse(throw new IllegalStateException(
          s"audit table '$tableName' has no data at $asOfTs"))
      onBatch(graft.plans.AsOf.asOfJoin(batch, snap, pointKeys, dimKeys,
        pointTsCol, dimTsCol, direction, tolerance), epochId)
    }

  private val wallClock: Long => Timestamp =
    _ => new Timestamp(System.currentTimeMillis())

  /** The one `foreachBatch` sink skeleton: run `act` on every non-empty
    * micro-batch of `stream`, checkpointed at `checkpoint`. The batch is
    * persisted around the call because the emptiness probe and `act` both
    * execute its plan, and upstream streaming transforms can be expensive. */
  private def eachNonEmptyBatch(stream: DataFrame, checkpoint: String)(
      act: (DataFrame, Long) => Unit): StreamingQuery = {
    val sink: (DataFrame, Long) => Unit = { (batch, epochId) =>
      batch.persist()
      try { if (!batch.isEmpty) act(batch, epochId) }
      finally batch.unpersist()
    }
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch(sink)
      .start()
  }
}
