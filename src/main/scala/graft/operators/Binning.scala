package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Equi-depth (quantile) binning — the feature-engineering primitive for
  * skew-robust bucketing (each bin holds ~the same row count regardless of
  * the value distribution, unlike equi-width `width_bucket`).
  *
  * Scale shape: the N-1 boundary quantiles reduce to the driver in ONE
  * aggregation (state is bounded by the exact-percentile buffer, never
  * row count on the driver), then assignment is a pure map-side comparison
  * chain against literals — no window over a global ordering (an `ntile`
  * formulation would serialise the corpus through one sort partition).
  * Boundaries are rounded so a SQL oracle reproduces the identical bins.
  */
object Binning {

  /** Exact equi-depth boundaries: the i/nBins percentiles, i in [1, nBins). */
  def equiDepthBoundaries(df: DataFrame, valueCol: String, nBins: Int,
      scale: Int = 6): Seq[Double] = {
    require(nBins > 1, s"nBins must be > 1, got $nBins")
    val fracs = (1 until nBins).map(i => i.toDouble / nBins)
    // backtick-quote: legal column names with dots/spaces must not be
    // parsed as field paths or spliced as SQL
    val q = "`" + valueCol.replace("`", "``") + "`"
    val arr = df.select(
      expr(s"percentile($q, array(${fracs.mkString(",")}))")).head()
      .getSeq[Double](0)
    require(arr != null,
      s"equiDepth over an empty (or all-null '$valueCol') input")
    arr.map(b => BigDecimal(b).setScale(scale, BigDecimal.RoundingMode.HALF_UP)
      .toDouble)
  }

  /** Bin id in [0, nBins): the count of boundaries strictly below the
    * value (ties sit in the LOWER bin; nulls get bin null). */
  def binColumn(value: Column, boundaries: Seq[Double]): Column =
    boundaries.map(b => when(value > lit(b), 1L).otherwise(0L))
      .reduce(_ + _)

  /** Append an equi-depth `bin` column over `valueCol`. */
  def equiDepth(df: DataFrame, valueCol: String, nBins: Int,
      binCol: String = "bin", scale: Int = 6): DataFrame = {
    require(!df.columns.contains(binCol),
      s"input already carries '$binCol' — pass a different binCol")
    df.withColumn(binCol,
      binColumn(col(valueCol), equiDepthBoundaries(df, valueCol, nBins, scale)))
  }

  /** Equi-width histogram over explicit [lo, hi) bounds: one aggregation,
    * map-side bin assignment (`width_bucket` semantics: below-range rows in
    * bin 0, at-or-above-range in nBins+1, interior bins 1..nBins with ties
    * to the UPPER bin since bins are half-open [a, b)). Empty bins are
    * filled in with zero counts so the output always has nBins+2 rows —
    * chartable as-is and diffable across runs.
    *
    * Explicit bounds (vs data-derived min/max) keep the operator one-pass
    * and the bins stable across incremental corpus versions. Scale: the
    * shuffle carries at most nBins+2 partial rows per task. */
  def histogram(df: DataFrame, valueCol: String, lo: Double, hi: Double,
      nBins: Int): DataFrame = {
    require(nBins > 0, s"nBins must be > 0, got $nBins")
    require(lo < hi, s"need lo < hi, got [$lo, $hi)")
    val v = col(valueCol).cast("double")
    // clamp the interior bin: when (hi-lo)/nBins rounds DOWN in floating
    // point, a value just below hi can compute floor(...)+1 = nBins+1 and
    // leak into the overflow bin, contradicting width_bucket semantics
    // (overflow holds only at-or-above-range values)
    val bin = when(v < lo, 0L)
      .when(v >= hi, nBins + 1L)
      .otherwise(least((floor((v - lit(lo)) / lit((hi - lo) / nBins)) + 1L)
        .cast("long"), lit(nBins.toLong)))
    val counted = df.where(v.isNotNull)
      .groupBy(bin.as("bin"))
      .agg(count(lit(1)).as("n"),
        round(min(v), 6).as("bin_min"), round(max(v), 6).as("bin_max"))
    val allBins = df.sparkSession.range(0, nBins + 2L).select(col("id").as("bin"))
    // broadcast the aggregated side: it is at most nBins+2 rows, and a
    // left-outer join can only broadcast its non-preserved (right) side
    allBins.join(broadcast(counted), Seq("bin"), "left")
      .select(col("bin"), coalesce(col("n"), lit(0L)).as("n"),
        col("bin_min"), col("bin_max"))
  }

  /** Equal-width bin in [1, nBins] of `v` over [lo, hi], values outside the
    * range clamped into the edge bins; a degenerate range (hi <= lo) puts
    * every value in bin 1. The histogram pass of [[approxQuantiles]] (whose
    * range is the data's own) and the fixed-range streaming sketch
    * ([[graft.streaming.Streaming.quantileSketchStream]]) both bin with it,
    * so [[quantilesFromHistogram]] answers either one identically. */
  private[graft] def clampedBin(v: Column, lo: Column, hi: Column, nBins: Int): Column =
    when(hi > lo, greatest(least(floor((v - lo) / ((hi - lo) / nBins)).cast("long") + 1L,
      lit(nBins.toLong)), lit(1L)))
      .otherwise(1L)

  /** Mergeable histogram quantiles — the constant-state alternative to an
    * exact sort-based percentile at 100 TB: two map-combined passes (min/max
    * + per-bin counts), a bins-sized cumulative frame, and linear
    * interpolation inside the selected bin. The per-bin counts are a LINEAR
    * sketch (cell-wise sums), so per-partition / per-day histograms merge
    * into the corpus histogram without re-scanning — what a streaming
    * quantile monitor keeps as state, where exact percentile_cont would
    * need the full value multiset.
    *
    * Estimate convention (mirrored exactly by the SQL oracle): target rank
    * = max(ceil(q·N), 1); B = first bin whose cumulative count reaches the
    * target; estimate = lo + (B−1)·w + ((target − cumBefore)/cnt_B)·w with
    * w = (hi−lo)/nBins. Every step is plain IEEE double arithmetic in a
    * fixed order — engine-exact. A constant column (hi == lo) estimates lo
    * at every quantile. Output: (q, estimate, rank, bin). */
  def approxQuantiles(df: DataFrame, valueCol: String, qs: Seq[Double],
      nBins: Int = 256, scale: Int = 6): DataFrame = {
    require(nBins > 0, s"nBins must be > 0, got $nBins")
    require(qs.nonEmpty, "need at least one quantile")
    val v = col(valueCol).cast("double")
    val stats = df.agg(min(v).as("__lo"), max(v).as("__hi"),
      count(v).cast("long").as("__n"))
    val counts = df.where(v.isNotNull).crossJoin(broadcast(stats))
      .select(clampedBin(v, col("__lo"), col("__hi"), nBins).as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("cnt"))
    // bins-sized frame: the single-partition running sum is over <= nBins rows
    val wcum = org.apache.spark.sql.expressions.Window.orderBy(col("bin"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val cum = counts.withColumn("cum", sum(col("cnt")).over(wcum))
    import df.sparkSession.implicits._
    val tgt = qs.toDF("q").crossJoin(broadcast(stats))
      .withColumn("target", greatest(ceil(col("q") * col("__n")), lit(1L)))
    val picked = tgt
      .join(broadcast(cum), col("cum") >= col("target"))
      .groupBy(col("q"), col("target"), col("__lo"), col("__hi"))
      .agg(min(struct(col("bin"), col("cnt"), col("cum"))).as("__b"))
    picked.select(col("q"),
      when(col("__hi") > col("__lo"),
        round(col("__lo") + (col("__b.bin") - 1) * ((col("__hi") - col("__lo")) / nBins)
          + ((col("target") - (col("__b.cum") - col("__b.cnt"))) / col("__b.cnt"))
            * ((col("__hi") - col("__lo")) / nBins), scale))
        .otherwise(col("__lo")).as("estimate"),
      col("target").as("rank"), col("__b.bin").as("bin"))
  }

  /** Quantile estimates from an ALREADY-BUILT (bin, cnt) histogram over the
    * fixed range [lo, hi] — the read side of a persisted or streaming
    * histogram state ([[graft.streaming.Streaming.quantileSketchStream]]):
    * the monitor keeps ≤ nBins counters as its aggregation state, and any
    * snapshot of that state answers every quantile without touching the
    * stream again. Same target-rank + in-bin interpolation convention as
    * [[approxQuantiles]] (which builds the histogram and estimates in one
    * call, with lo/hi taken from the data). */
  def quantilesFromHistogram(counts: DataFrame, lo: Double, hi: Double,
      nBins: Int, qs: Seq[Double], scale: Int = 6): DataFrame = {
    require(nBins > 0 && qs.nonEmpty, "need nBins > 0 and at least one quantile")
    val wcum = org.apache.spark.sql.expressions.Window.orderBy(col("bin"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val cum = counts
      .select(col("bin").cast("long").as("bin"), col("cnt").cast("long").as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(wcum))
    val n = counts.agg(sum(col("cnt")).cast("long").as("__n"))
    import counts.sparkSession.implicits._
    val tgt = qs.toDF("q").crossJoin(broadcast(n))
      .withColumn("target", greatest(ceil(col("q") * col("__n")), lit(1L)))
    val wid = (hi - lo) / nBins
    tgt
      .join(broadcast(cum), col("cum") >= col("target"))
      .groupBy(col("q"), col("target"))
      .agg(min(struct(col("bin"), col("cnt"), col("cum"))).as("__b"))
      .select(col("q"),
        (if (hi > lo)
          round(lit(lo) + (col("__b.bin") - 1) * lit(wid)
            + ((col("target") - (col("__b.cum") - col("__b.cnt"))) / col("__b.cnt"))
              * lit(wid), scale)
        else lit(lo)).as("estimate"),
        col("target").as("rank"), col("__b.bin").as("bin"))
  }

  /** Per-group equi-width histogram: [[histogram]] semantics computed for
    * every value of `groupCol` in one aggregation; the zero-fill spine is
    * |groups| × (nBins+2), built from the distinct groups (a GROUP-sized
    * relation) crossed with the bin range — the counted side broadcasts,
    * the data never shuffles twice. */
  def histogramBy(df: DataFrame, groupCol: String, valueCol: String,
      lo: Double, hi: Double, nBins: Int): DataFrame = {
    require(nBins > 0, s"nBins must be > 0, got $nBins")
    require(lo < hi, s"need lo < hi, got [$lo, $hi)")
    val v = col(valueCol).cast("double")
    // same float-width clamp as histogram() above
    val bin = when(v < lo, 0L)
      .when(v >= hi, nBins + 1L)
      .otherwise(least((floor((v - lit(lo)) / lit((hi - lo) / nBins)) + 1L)
        .cast("long"), lit(nBins.toLong)))
    val counted = df.where(v.isNotNull)
      .groupBy(col(groupCol).as("group"), bin.as("bin"))
      .agg(count(lit(1)).as("n"))
    val spine = df.select(col(groupCol).as("group")).distinct()
      .crossJoin(df.sparkSession.range(0, nBins + 2L).select(col("id").as("bin")))
    spine.join(broadcast(counted), Seq("group", "bin"), "left")
      .select(col("group"), col("bin"), coalesce(col("n"), lit(0L)).as("n"))
  }
}
