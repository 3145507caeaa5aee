package graft.plans

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, Attribute, BindReferences, Expression, JoinedRow, RowOrdering,
  SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.plans.physical.{
  BroadcastDistribution, ClusteredDistribution, Distribution,
  IdentityBroadcastMode, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.DataType

/** Schema-derived row-width estimate shared by the native joins' logical
  * statistics (8 bytes of overhead + each column's `defaultSize`, the same
  * shape Catalyst's `EstimationUtils.getSizePerRow` uses). */
private[plans] object NativeJoinStats {
  def rowWidth(out: Seq[Attribute]): Long =
    8L + out.map(_.dataType.defaultSize.toLong).sum
}

/** Shared primitive-time comparison for the native temporal joins:
  * timestamps/longs eval to boxed longs — comparing them primitively
  * instead of through the interpreted ordering saves one virtual dispatch
  * + two boxed compares per buffered row per probe (measured on the
  * 1M-point probe). */
private[plans] object NativeJoinTime {
  def ordering(timeType: DataType): Ordering[Any] = timeType match {
    case org.apache.spark.sql.types.LongType |
         org.apache.spark.sql.types.TimestampType |
         org.apache.spark.sql.types.TimestampNTZType =>
      ((a: Any, b: Any) => java.lang.Long.compare(
        a.asInstanceOf[java.lang.Long].longValue(),
        b.asInstanceOf[java.lang.Long].longValue())): Ordering[Any]
    case org.apache.spark.sql.types.IntegerType |
         org.apache.spark.sql.types.DateType =>
      ((a: Any, b: Any) => java.lang.Integer.compare(
        a.asInstanceOf[java.lang.Integer].intValue(),
        b.asInstanceOf[java.lang.Integer].intValue())): Ordering[Any]
    case _ => TypeUtils.getInterpretedOrdering(timeType)
      .asInstanceOf[Ordering[Any]]
  }

  /** Time value in its native long representation (timestamps eval to
    * epoch-µs longs, dates to day ints). ONE definition shared by both
    * as-of regimes so a semantics fix can never diverge them. */
  def asLong(v: Any): Long = v match {
    case l: Long => l
    case i: Int => i.toLong
    case other => throw new IllegalStateException(s"native-join time: $other")
  }

  /** Overflow-safe tolerance check. The probe guarantees `later >= earlier`
    * in time order, so the true distance is non-negative — a NEGATIVE
    * computed difference can only be Long wraparound (e.g. a Long.MinValue
    * "beginning of time" sentinel on one side), which without the `>= 0`
    * guard would silently pass `d <= tol` and emit a false match. */
  def withinTolerance(later: Any, earlier: Any, tol: Long): Boolean = {
    val d = asLong(later) - asLong(earlier)
    d >= 0 && d <= tol
  }

  /** Shared key/time/tolerance validation for the as-of execs (both
    * regimes run the same checks from one definition). Returns the time
    * type. */
  def validateAsOf(leftKeys: Seq[Expression], rightKeys: Seq[Expression],
      leftTime: Expression, rightTime: Expression,
      toleranceUs: Option[Long]): DataType = {
    val keyTypes = leftKeys.map(_.dataType)
    require(keyTypes == rightKeys.map(_.dataType),
      s"as-of key types differ: $keyTypes vs ${rightKeys.map(_.dataType)}")
    require(leftTime.dataType == rightTime.dataType,
      s"as-of time types differ: ${leftTime.dataType} vs ${rightTime.dataType}")
    val timeType = leftTime.dataType
    if (toleranceUs.isDefined) {
      import org.apache.spark.sql.types.{DateType, IntegerType, LongType, TimestampNTZType, TimestampType}
      require(Seq(LongType, IntegerType, TimestampType, TimestampNTZType, DateType)
          .contains(timeType),
        s"as-of tolerance needs an integral/timestamp/date time column, got $timeType")
      require(toleranceUs.get >= 0, "as-of tolerance must be >= 0")
    }
    timeType
  }
}

/** Per-key time-sorted probe tables for the broadcast regimes — package
  * level so [[BroadcastTableCache]] values type-check across tasks. */
private[plans] final class AsOfKeyTable(val times: Array[Any],
    val rows: Array[InternalRow])
private[plans] final class IntervalKeyTable(val starts: Array[Any],
    val ends: Array[Any], val rows: Array[InternalRow])

/** Per-EXECUTOR cache of probe tables derived from a broadcast relation.
  * IdentityBroadcastMode ships raw rows, so without this every task of the
  * fact side re-hashes and re-sorts the same dimension rows into the same
  * per-key tables — O(|R| log |R|) × tasks of pure waste (Spark's own BHJ
  * avoids it with a transforming BroadcastMode). Keyed on
  * (broadcast id, plan node id): same broadcast probed by two different
  * execs builds two tables. `compute` gives per-key locking, so one task
  * builds while the rest of that exec's tasks wait, and unrelated builds
  * proceed in parallel. Bound: once the map holds more than `MaxEntries`,
  * the next lookup evicts entry by entry — entries the GC already cleared
  * first, then arbitrary ones — until `MaxEntries` remain. An evicted
  * table costs exactly the per-task rebuild this cache removes, and the
  * broadcast's own row array (the big part) lives in Spark's block
  * manager regardless. */
private[plans] object BroadcastTableCache {
  private val MaxEntries = 16
  // Soft values: the probe tables' rows point into the broadcast's row
  // array, so a strong cache would pin destroyed/unpersisted broadcasts
  // (hundreds of MB each) for the executor JVM's lifetime. Soft refs let
  // the GC reclaim them under pressure; the fallback cost is one per-task
  // rebuild, exactly what the cache saves in the common case.
  private val cache = new java.util.concurrent.ConcurrentHashMap[
    (Long, Int), java.lang.ref.SoftReference[AnyRef]]()
  def getOrBuild(broadcastId: Long, planId: Int)(build: => AnyRef): AnyRef = {
    // Bound enforcement evicts per-entry — GC-cleared refs first, then
    // arbitrary extras — so one executor running >MaxEntries distinct
    // broadcast joins sheds cold entries instead of thrash-rebuilding
    // every hot one (the old clear() dropped the whole map).
    if (cache.size > MaxEntries) {
      val it = cache.entrySet().iterator()
      while (it.hasNext) if (it.next().getValue.get() == null) it.remove()
      val extras = cache.keySet().iterator()
      while (cache.size > MaxEntries && extras.hasNext) {
        extras.next(); extras.remove()
      }
    }
    // compute keeps computeIfAbsent's per-key build locking and also
    // replaces entries whose soft ref the GC already cleared
    val ref = cache.compute((broadcastId, planId), (_, old) =>
      if (old != null && old.get() != null) old
      else new java.lang.ref.SoftReference[AnyRef](build))
    val got = ref.get()
    if (got != null) got else build // GC raced the insert: uncached build
  }
}

/** Native keyed interval join — "every (point, interval) pair with equal
  * keys and start <= t < end" as ONE physical operator, the twin of
  * [[AsOfJoinExec]] for range containment.
  *
  * The compositional formulation ([[graft.operators.Temporal.intervalJoin]]:
  * explode each interval into fixed-width time buckets, equi-join on the
  * bucket, re-filter) is correct and AQE-friendly, but its cost carries two
  * structural taxes: every interval is REPLICATED once per bucket it spans
  * (a 30-day interval against 1-day buckets shuffles 30 copies), and the
  * bucket width is a tuning knob that trades replication against
  * false-candidate density. This exec needs neither: each side shuffles
  * exactly once, hash-clustered by key (`requiredChildDistribution`) and
  * sorted — points by (key, t), intervals by (key, start) — then a single
  * forward sweep per partition joins them. State is the set of intervals
  * for the CURRENT key whose start has been reached and whose end hasn't
  * expired yet — bounded by the key's maximum concurrent-interval overlap
  * (the quantity that also bounds the output), not by table size, bucket
  * width, or interval length. At 100 TB: two co-partitioned scans, zero
  * replication, no knob.
  *
  * Semantics: inner join; half-open containment start <= t < end (same
  * contract as the bucketed operator). Points or intervals with null key /
  * null bound rows are dropped, as are degenerate intervals (end <= start).
  * Output order within a partition follows the left (point) sort; match
  * order within one point follows the intervals' (key, start) sort.
  */
case class IntervalJoinPlan(left: LogicalPlan, right: LogicalPlan,
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    pointTime: Expression, start: Expression, end: Expression,
    broadcastHint: Option[Boolean] = None)
  extends BinaryNode {

  override def output: Seq[Attribute] = left.output ++ right.output

  /** Catalyst's statistics default for an unknown binary node is the
    * PRODUCT of the child sizes — which makes this join's output look
    * astronomically large to every operator planned above it, forbidding
    * e.g. a downstream broadcast of a small interval-join result. The
    * join's true fanout is data-dependent (per-point containing-interval
    * count) and, unlike the as-of join's, unbounded — so the estimate
    * models the dominant enrichment shape (~one match per point, as the
    * left relation widened to the output width plus the interval side)
    * and then multiplies by an 8× fanout headroom: small results stay
    * broadcastable downstream, while a genuinely high-overlap join must
    * be ~two orders of magnitude denser than the estimate before a wrong
    * static broadcast is even possible. Like Spark's own size-only join
    * estimates this is a heuristic; AQE's runtime sizes correct it at
    * every shuffle boundary (and are the default in Spark 4). */
  override def stats: Statistics = {
    val lW = NativeJoinStats.rowWidth(left.output)
    val outW = lW + NativeJoinStats.rowWidth(right.output)
    val size =
      (left.stats.sizeInBytes * outW / lW + right.stats.sizeInBytes) * 8
    Statistics(sizeInBytes = size.max(1))
  }

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): IntervalJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Plans [[IntervalJoinPlan]] into a physical operator, making the same
  * BHJ-vs-SMJ regime choice every engine's join planner makes: when the
  * interval side's estimated size fits `spark.sql.autoBroadcastJoinThreshold`
  * it plans [[BroadcastIntervalJoinExec]] (points never shuffle — the
  * measured 2× win when intervals are dimension-sized), otherwise the
  * sorted-merge [[IntervalJoinExec]] (both sides shuffle once, state
  * bounded by per-key overlap — the 100 TB fact-×-fact shape). The size
  * read participates in AQE's runtime re-planning: a materialized stage
  * under the interval side carries real stats, flipping an initial SMJ to
  * broadcast mid-query (spec-pinned). Injected by
  * `graft.sql.GraftExtensions`, or per-session via
  * [[graft.sql.functions.ensureRegistered]]. */
object IntervalJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case IntervalJoinPlan(l, r, lk, rk, t, s, e, hint) =>
      val thresh = SQLConf.get.autoBroadcastJoinThreshold
      val sz = r.stats.sizeInBytes
      // explicit hint wins (the user knows the post-aggregation cardinality
      // the size-only estimator can't see); otherwise the size estimate
      // decides, exactly like Spark's own BHJ-vs-SMJ selection
      val broadcast = hint.getOrElse(thresh > 0 && sz >= 0 && sz <= thresh)
      if (broadcast)
        BroadcastIntervalJoinExec(planLater(l), planLater(r), lk, rk, t, s, e) :: Nil
      else
        IntervalJoinExec(planLater(l), planLater(r), lk, rk, t, s, e) :: Nil
    case _ => Nil
  }
}

case class IntervalJoinExec(left: SparkPlan, right: SparkPlan,
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    pointTime: Expression, start: Expression, end: Expression)
  extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ right.output

  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(leftKeys), ClusteredDistribution(rightKeys))

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(pointTime, Ascending),
    rightKeys.map(SortOrder(_, Ascending)) :+ SortOrder(start, Ascending))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): IntervalJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val outAttrs = output // nullability-correct (right side nullable in outer joins)
    val lKeysB = leftKeys
    val rKeysB = rightKeys
    val tB = pointTime
    val sB = start
    val eB = end
    val keyTypes = leftKeys.map(_.dataType)
    require(keyTypes == rightKeys.map(_.dataType),
      s"interval-join key types differ: $keyTypes vs ${rightKeys.map(_.dataType)}")
    require(pointTime.dataType == start.dataType && start.dataType == end.dataType,
      s"interval-join time types differ: ${pointTime.dataType} / " +
        s"${start.dataType} / ${end.dataType}")
    val timeType = pointTime.dataType
    val numOutputRows = longMetric("numOutputRows")

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lKeysB, lOut)
      val rKeyProj = UnsafeProjection.create(rKeysB, rOut)
      val tEval = BindReferences.bindReference(tB, lOut)
      val sEval = BindReferences.bindReference(sB, rOut)
      val eEval = BindReferences.bindReference(eB, rOut)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      val timeOrd = NativeJoinTime.ordering(timeType)
      val joined = new JoinedRow
      // Spark's operator contract expects UnsafeRow output (collect /
      // exchange serialize through it) — same result projection the
      // built-in sort-merge join applies
      val resultProj = UnsafeProjection.create(outAttrs, outAttrs)

      new Iterator[InternalRow] {
        // lookahead over the interval side; rows copied (Spark reuses
        // iterator row objects), null-key/bound and degenerate rows skipped
        private var rNext: InternalRow = null
        private var rNextKey: InternalRow = null
        private var rNextStart: Any = null
        advanceRight()

        private def advanceRight(): Unit = {
          rNext = null
          while (rNext == null && rIter.hasNext) {
            val r = rIter.next()
            val k = rKeyProj(r)
            val s = sEval.eval(r)
            val e = eEval.eval(r)
            if (s != null && e != null && !k.anyNull && timeOrd.lt(s, e)) {
              rNext = r.copy()
              rNextKey = k.copy()
              rNextStart = s
            }
          }
        }

        // intervals of the CURRENT key whose start <= current point time;
        // ends checked (and expired entries dropped) per point
        private val active = new ArrayBuffer[(InternalRow, Any)]()
        private var activeKey: InternalRow = null

        // matches for the in-flight left row not yet emitted
        private var pendingLeft: InternalRow = null
        private var pendingMatches: Iterator[InternalRow] = Iterator.empty

        private def fillPending(): Unit = {
          while (!pendingMatches.hasNext && lIter.hasNext) {
            val l = lIter.next()
            val lKey = lKeyProj(l)
            val t = tEval.eval(l)
            if (!lKey.anyNull && t != null) {
              if (activeKey == null || keyOrd.compare(activeKey, lKey) != 0) {
                // new key: discard the old key's state, skip intervals of
                // smaller keys entirely (no point can match them anymore)
                active.clear()
                activeKey = lKey.copy()
                while (rNext != null && keyOrd.compare(rNextKey, activeKey) < 0)
                  advanceRight()
              }
              // absorb intervals of this key that have started by t
              while (rNext != null && keyOrd.compare(rNextKey, activeKey) == 0 &&
                  timeOrd.lteq(rNextStart, t)) {
                active += ((rNext, eEval.eval(rNext)))
                advanceRight()
              }
              // expire end <= t lazily; left times ascend within the key, so
              // an interval expired for this point is expired for all later
              // ones and can be dropped for good. Single compaction pass —
              // element-shifting remove(i) in a scan is O(n²) when a burst
              // of intervals expires at once
              active.filterInPlace(p => timeOrd.gt(p._2, t))
              if (active.nonEmpty) {
                pendingLeft = l.copy()
                // snapshot: `active` mutates on the next fill, and a live
                // view iterator would throw ConcurrentModificationException
                pendingMatches = active.map(_._1).toArray.iterator
              }
            }
          }
        }

        override def hasNext: Boolean = {
          if (!pendingMatches.hasNext) fillPending()
          pendingMatches.hasNext
        }

        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException
          numOutputRows += 1
          resultProj(joined(pendingLeft, pendingMatches.next()))
        }
      }
    }
  }
}

/** Broadcast regime of the keyed interval join: the interval side is
  * broadcast whole (EnsureRequirements inserts the BroadcastExchange from
  * `requiredChildDistribution`), the point side keeps its incoming
  * partitioning — NO shuffle, NO sort on either side. Each task builds a
  * per-key interval table from the broadcast rows once (stable-sorted by
  * start), then probes: binary-search the start-≤-t prefix, filter ends.
  * Probe cost is O(log n + matches + expired-in-prefix) per point against
  * a dimension-sized table; identical join semantics to
  * [[IntervalJoinExec]] (inner, half-open start <= t < end, null/degenerate
  * rows dropped, match order follows interval start order). */
case class BroadcastIntervalJoinExec(left: SparkPlan, right: SparkPlan,
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    pointTime: Expression, start: Expression, end: Expression)
  extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ right.output

  override def requiredChildDistribution: Seq[Distribution] =
    Seq(UnspecifiedDistribution, BroadcastDistribution(IdentityBroadcastMode))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): BroadcastIntervalJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val outAttrs = output // nullability-correct (right side nullable in outer joins)
    val lKeysB = leftKeys
    val rKeysB = rightKeys
    val tB = pointTime
    val sB = start
    val eB = end
    require(leftKeys.map(_.dataType) == rightKeys.map(_.dataType),
      s"interval-join key types differ: ${leftKeys.map(_.dataType)} vs " +
        s"${rightKeys.map(_.dataType)}")
    require(pointTime.dataType == start.dataType && start.dataType == end.dataType,
      s"interval-join time types differ: ${pointTime.dataType} / " +
        s"${start.dataType} / ${end.dataType}")
    val timeType = pointTime.dataType
    val numOutputRows = longMetric("numOutputRows")
    val relation = right.executeBroadcast[Array[InternalRow]]()
    val planId = id

    left.execute().mapPartitions({ lIter =>
      val timeOrd = NativeJoinTime.ordering(timeType)
      // per-key tables from the broadcast rows: parallel arrays sorted by
      // start (stable, so equal starts keep broadcast row order). Built
      // once per EXECUTOR via BroadcastTableCache — per-task rebuilds were
      // |intervals| log |intervals| of repeated work.
      val tables = BroadcastTableCache.getOrBuild(relation.id, planId) {
        val rKeyProj = UnsafeProjection.create(rKeysB, rOut)
        val sEval = BindReferences.bindReference(sB, rOut)
        val eEval = BindReferences.bindReference(eB, rOut)
        val byKey = new java.util.HashMap[UnsafeRow, ArrayBuffer[(Any, Any, InternalRow)]]()
        relation.value.foreach { r =>
          val k = rKeyProj(r)
          val s = sEval.eval(r)
          val e = eEval.eval(r)
          if (s != null && e != null && !k.anyNull && timeOrd.lt(s, e)) {
            var buf = byKey.get(k)
            if (buf == null) { buf = new ArrayBuffer; byKey.put(k.copy(), buf) }
            buf += ((s, e, r)) // broadcast rows are materialized copies already
          }
        }
        val built = new java.util.HashMap[UnsafeRow, IntervalKeyTable](byKey.size())
        byKey.forEach { (k, buf) =>
          val sorted = buf.sortBy(_._1)(timeOrd)
          built.put(k, new IntervalKeyTable(sorted.map(_._1).toArray,
            sorted.map(_._2).toArray, sorted.map(_._3).toArray))
        }
        built
      }.asInstanceOf[java.util.HashMap[UnsafeRow, IntervalKeyTable]]

      val lKeyProj = UnsafeProjection.create(lKeysB, lOut)
      val tEval = BindReferences.bindReference(tB, lOut)
      val joined = new JoinedRow
      // UnsafeRow output contract — see IntervalJoinExec
      val resultProj = UnsafeProjection.create(outAttrs, outAttrs)
      lIter.flatMap { l =>
        val k = lKeyProj(l)
        val t = tEval.eval(l)
        val tab = if (k.anyNull || t == null) null else tables.get(k)
        if (tab == null) Iterator.empty
        else {
          // upper bound: first index with start > t (starts sorted asc)
          var lo = 0
          var hi = tab.starts.length
          while (lo < hi) {
            val mid = (lo + hi) >>> 1
            if (timeOrd.lteq(tab.starts(mid), t)) lo = mid + 1 else hi = mid
          }
          val bound = lo
          // the projection's result buffer is reused per row; safe because
          // downstream Spark operators copy when they buffer (same contract
          // as Spark's own BroadcastHashJoinExec output)
          Iterator.range(0, bound)
            .filter(i => timeOrd.gt(tab.ends(i), t))
            .map { i => numOutputRows += 1; resultProj(joined(l, tab.rows(i))) }
        }
      }
    }, preservesPartitioning = true)
  }
}

/** User-facing entry point, mirroring [[AsOf]]. */
object IntervalJoin {

  /** Keyed interval inner join: each `points` row paired with every
    * `intervals` row of the same key whose [start, end) contains its
    * `pointTsCol`. Column names must be disjoint between the two sides
    * (they all carry through to the output).
    *
    * Physical regime is chosen by [[IntervalJoinStrategy]]: intervals under
    * `spark.sql.autoBroadcastJoinThreshold` broadcast (points never
    * shuffle); larger sides sort-merge (one shuffle per side). Pass
    * `broadcastIntervals = Some(true/false)` to override the size estimate
    * — e.g. a post-aggregation interval side whose size-only stats still
    * carry the pre-aggregation scan size. */
  def intervalJoin(points: DataFrame, intervals: DataFrame,
      pointKeys: Seq[String], intervalKeys: Seq[String],
      pointTsCol: String, startCol: String, endCol: String,
      broadcastIntervals: Option[Boolean] = None): DataFrame = {
    require(pointKeys.nonEmpty && pointKeys.size == intervalKeys.size,
      "interval join needs one or more key columns, the same count on both sides")
    val spark = points.sparkSession
    // resolver-aware — see AsOf.asOfJoin: case-insensitive resolution makes
    // same-name-different-case columns ambiguous downstream
    val overlap = points.columns.filter(pc =>
      intervals.columns.exists(ic => spark.sessionState.conf.resolver(pc, ic)))
    require(overlap.isEmpty,
      s"interval-join output would carry ambiguous column names: ${overlap.mkString(", ")}")
    graft.sql.functions.ensureRegistered(spark)
    val lPlan = points.queryExecution.analyzed
    val rPlan = intervals.queryExecution.analyzed
    def resolve(plan: LogicalPlan, name: String): Attribute =
      plan.output.find(a => spark.sessionState.conf.resolver(a.name, name))
        .getOrElse(throw new IllegalArgumentException(
          s"column '$name' not found among ${plan.output.map(_.name).mkString(", ")}"))
    GraftSqlBridge.ofRows(spark, IntervalJoinPlan(lPlan, rPlan,
      pointKeys.map(resolve(lPlan, _)), intervalKeys.map(resolve(rPlan, _)),
      resolve(lPlan, pointTsCol), resolve(rPlan, startCol),
      resolve(rPlan, endCol), broadcastIntervals))
  }
}
