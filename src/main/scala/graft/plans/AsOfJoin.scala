package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, Attribute, BindReferences, Expression, GenericInternalRow,
  JoinedRow, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.plans.physical.{
  BroadcastDistribution, ClusteredDistribution, Distribution,
  IdentityBroadcastMode, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}

/** Native as-of join — the time-series lookup ("latest right row at or
  * before each left row's time, per key") as a first-class physical
  * operator: custom [[LogicalPlan]] node + planner [[SparkStrategy]] +
  * sort-merge [[SparkPlan]], the tier-(c) extension path for semantics the
  * built-in operators can't express as ONE operator.
  *
  * The compositional formulation ([[graft.operators.Temporal.asOfJoin]]:
  * union both sides, window carry-forward, filter) is semantically fine
  * but pays a union shuffle over BOTH relations plus a window over the
  * merged stream. This exec needs exactly what a sort-merge join needs —
  * each side hash-clustered by key and sorted (key, time), declared via
  * `requiredChildDistribution` / `requiredChildOrdering` so
  * EnsureRequirements plans the minimal exchanges (and elides them when an
  * upstream operation already partitioned the data — the reuse the
  * composition can never get) — then a single forward-only streaming merge
  * per partition: O(1) state (one buffered right row), no window, no
  * union, no per-key buffering. At 100 TB that is two co-partitioned scans
  * and nothing else.
  *
  * Semantics: left outer. Backward (default): for each left row, the
  * matched right row is the LAST in (key, time) order with equal keys and
  * rightTime <= leftTime. Forward: the FIRST with rightTime >= leftTime.
  * An optional `toleranceUs` bounds the match distance (|Δt| <= tolerance,
  * in the time column's native units — µs for timestamps) — pandas
  * merge_asof's direction/tolerance contract. Left rows with no match (or
  * a null key/time) emit nulls. Right rows with null key or time are
  * skipped. If the right side carries duplicate (key, time) rows the
  * winner among them follows the right side's sort, which is not total —
  * deduplicate or pre-aggregate the right side for a deterministic result
  * (same contract as DuckDB/pandas ASOF).
  */
case class AsOfJoinPlan(left: LogicalPlan, right: LogicalPlan,
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTime: Expression, rightTime: Expression,
    forward: Boolean = false, toleranceUs: Option[Long] = None,
    broadcastHint: Option[Boolean] = None)
  extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  /** The output cardinality is known by construction — left outer with at
    * most one match per left row, so EXACTLY `rowCount(left)` output rows
    * at the widened row size. Report that instead of Catalyst's statistics
    * default for an unknown binary node (the PRODUCT of the child sizes),
    * which would make the join's output look astronomically large to every
    * operator planned above it — forbidding e.g. a downstream broadcast of
    * a dimension-sized as-of result that in truth fits the threshold. */
  override def stats: Statistics = {
    val ls = left.stats
    val lW = NativeJoinStats.rowWidth(left.output)
    val outW = lW + NativeJoinStats.rowWidth(right.output)
    Statistics(sizeInBytes = (ls.sizeInBytes * outW / lW).max(1),
      rowCount = ls.rowCount)
  }

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoinPlan]] into a physical operator, making the same
  * BHJ-vs-SMJ regime choice as [[IntervalJoinStrategy]]: a right side whose
  * size estimate fits `spark.sql.autoBroadcastJoinThreshold` broadcasts
  * ([[BroadcastAsOfJoinExec]] — the fact side never shuffles or sorts; the
  * dominant shape at 100 TB is a huge event stream enriched against a
  * dimension-sized quote/snapshot table), anything larger sort-merges
  * ([[AsOfJoinExec]]). An explicit hint overrides the size estimate.
  *
  * Because the choice reads `right.stats`, it participates in AQE's
  * RUNTIME re-planning too: once a materialized query stage with real
  * row/byte counts sits under the right side, re-planning flips an
  * initial sort-merge to broadcast mid-query — the same runtime BHJ
  * conversion Spark performs for its own joins (spec-pinned).
  *
  * Inject engine-wide via `spark.sql.extensions=graft.sql.GraftExtensions`
  * or per-session through [[graft.sql.functions.ensureRegistered]]. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case j: AsOfJoinPlan =>
      val thresh = org.apache.spark.sql.internal.SQLConf.get.autoBroadcastJoinThreshold
      val sz = j.right.stats.sizeInBytes
      val broadcast = j.broadcastHint.getOrElse(thresh > 0 && sz >= 0 && sz <= thresh)
      if (broadcast)
        BroadcastAsOfJoinExec(planLater(j.left), planLater(j.right), j.leftKeys,
          j.rightKeys, j.leftTime, j.rightTime, j.forward, j.toleranceUs) :: Nil
      else
        AsOfJoinExec(planLater(j.left), planLater(j.right), j.leftKeys,
          j.rightKeys, j.leftTime, j.rightTime, j.forward, j.toleranceUs) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(left: SparkPlan, right: SparkPlan,
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTime: Expression, rightTime: Expression,
    forward: Boolean = false, toleranceUs: Option[Long] = None)
  extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  // hash-cluster both sides on the key, sort (key, time): exactly a
  // sort-merge join's requirements, so EnsureRequirements inserts (or
  // reuses!) the same exchanges it would for an equi-join
  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(leftKeys), ClusteredDistribution(rightKeys))

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTime, Ascending),
    rightKeys.map(SortOrder(_, Ascending)) :+ SortOrder(rightTime, Ascending))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  // one output row per left row, so numOutputRows == left row count;
  // numMatchedRows counts the subset that found an as-of partner (the
  // rest null-extend) — the join's hit rate at a glance in the SQL UI
  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numMatchedRows" -> SQLMetrics.createMetric(sparkContext, "number of matched left rows"))

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val outAttrs = output // nullability-correct (right side nullable in outer joins)
    val lKeysB = leftKeys
    val rKeysB = rightKeys
    val lTimeB = leftTime
    val rTimeB = rightTime
    val keyTypes = leftKeys.map(_.dataType)
    val timeType =
      NativeJoinTime.validateAsOf(leftKeys, rightKeys, leftTime, rightTime, toleranceUs)
    val fwd = forward
    val tol = toleranceUs
    val nRight = rOut.size
    val numOutputRows = longMetric("numOutputRows")
    val numMatchedRows = longMetric("numMatchedRows")

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lKeysB, lOut)
      val rKeyProj = UnsafeProjection.create(rKeysB, rOut)
      val lTimeEval = BindReferences.bindReference(lTimeB, lOut)
      val rTimeEval = BindReferences.bindReference(rTimeB, rOut)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      // primitive comparisons for long-backed time types (see IntervalJoin)
      val timeOrd = NativeJoinTime.ordering(timeType)
      val nullRight = new GenericInternalRow(nRight)
      val joined = new JoinedRow
      // Spark's operator contract expects UnsafeRow output (collect /
      // exchange serialize through it) — same result projection the
      // built-in sort-merge join applies
      val resultProj = UnsafeProjection.create(outAttrs, outAttrs)

      new Iterator[InternalRow] {
        // single-row lookahead over the right side (skipping null key/time
        // rows); rows are copied because Spark iterators reuse row objects
        private var rNext: InternalRow = null
        private var rNextKey: InternalRow = null
        private var rNextTime: Any = null
        advanceRight()

        private def advanceRight(): Unit = {
          rNext = null
          while (rNext == null && rIter.hasNext) {
            val r = rIter.next()
            val k = rKeyProj(r)
            val t = rTimeEval.eval(r)
            if (t != null && !k.anyNull) {
              rNext = r.copy()
              rNextKey = k.copy()
              rNextTime = t
            }
          }
        }

        // backward state: the latest right row consumed for its key — O(1)
        private var lastMatch: InternalRow = null
        private var lastMatchKey: InternalRow = null
        private var lastMatchTime: Any = null

        override def hasNext: Boolean = lIter.hasNext

        override def next(): InternalRow = {
          val l = lIter.next()
          val lKey = lKeyProj(l)
          val lTime = lTimeEval.eval(l)
          numOutputRows += 1
          if (lKey.anyNull || lTime == null)
            return resultProj(joined(l, nullRight))
          if (fwd) {
            // drop right rows strictly before this left row (or of smaller
            // keys) — left times ascend, so they can't match later lefts
            var advancing = true
            while (advancing && rNext != null) {
              val c = keyOrd.compare(rNextKey, lKey)
              if (c < 0) advanceRight()
              else if (c == 0 && timeOrd.lt(rNextTime, lTime)) advanceRight()
              else advancing = false
            }
            val matched = rNext != null &&
              keyOrd.compare(rNextKey, lKey) == 0 &&
              tol.forall(t => NativeJoinTime.withinTolerance(rNextTime, lTime, t))
            if (matched) numMatchedRows += 1
            resultProj(joined(l, if (matched) rNext else nullRight))
          } else {
            // consume right rows that are at-or-before this left row: their
            // last one with an equal key is the as-of match (left times
            // ascend within a key, so earlier matches stay valid until the
            // key changes — detected by the key comparison below)
            var advancing = true
            while (advancing && rNext != null) {
              val c = keyOrd.compare(rNextKey, lKey)
              if (c < 0) advanceRight()
              else if (c == 0 && timeOrd.lteq(rNextTime, lTime)) {
                lastMatch = rNext
                lastMatchKey = rNextKey
                lastMatchTime = rNextTime
                advanceRight()
              } else advancing = false
            }
            val matched = lastMatch != null &&
              keyOrd.compare(lastMatchKey, lKey) == 0 &&
              tol.forall(t => NativeJoinTime.withinTolerance(lTime, lastMatchTime, t))
            if (matched) numMatchedRows += 1
            resultProj(joined(l, if (matched) lastMatch else nullRight))
          }
        }
      }
    }
  }
}

/** Broadcast regime of the as-of join: the right side is broadcast whole
  * (EnsureRequirements inserts the BroadcastExchange from
  * `requiredChildDistribution`), the left (fact) side keeps its incoming
  * partitioning — NO shuffle, NO sort on either side. Each task builds a
  * per-key time-sorted table from the broadcast rows once, then probes:
  * backward = last right row with time <= t (binary upper bound), forward =
  * first with time >= t (binary lower bound), tolerance checked on the
  * candidate. Identical join semantics to [[AsOfJoinExec]] (left outer,
  * null-key/time lefts null-extend, null right rows skipped; among
  * duplicate right (key, time) rows the winner is order-dependent — same
  * non-total contract as the sort-merge regime). One output row per left
  * row, in left order, so `outputOrdering` passes through. */
case class BroadcastAsOfJoinExec(left: SparkPlan, right: SparkPlan,
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTime: Expression, rightTime: Expression,
    forward: Boolean = false, toleranceUs: Option[Long] = None)
  extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    Seq(UnspecifiedDistribution, BroadcastDistribution(IdentityBroadcastMode))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numMatchedRows" -> SQLMetrics.createMetric(sparkContext, "number of matched left rows"))

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): BroadcastAsOfJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val outAttrs = output // nullability-correct (right side nullable in outer joins)
    val lKeysB = leftKeys
    val rKeysB = rightKeys
    val lTimeB = leftTime
    val rTimeB = rightTime
    val timeType =
      NativeJoinTime.validateAsOf(leftKeys, rightKeys, leftTime, rightTime, toleranceUs)
    val fwd = forward
    val tol = toleranceUs
    val nRight = rOut.size
    val numOutputRows = longMetric("numOutputRows")
    val numMatchedRows = longMetric("numMatchedRows")
    val relation = right.executeBroadcast[Array[InternalRow]]()
    val planId = id

    left.execute().mapPartitions({ lIter =>
      val timeOrd = NativeJoinTime.ordering(timeType)
      // per-key tables from the broadcast rows: parallel arrays time-sorted
      // (stable, so equal times keep broadcast row order — backward's
      // upper-bound probe then picks the LAST duplicate, matching the
      // sort-merge regime's consume-all-equal-times behavior). Built once
      // per EXECUTOR via BroadcastTableCache — rebuilding identical tables
      // in every task was O(|R| log |R|) × tasks of waste.
      val tables = BroadcastTableCache.getOrBuild(relation.id, planId) {
        val rKeyProj = UnsafeProjection.create(rKeysB, rOut)
        val rTimeEval = BindReferences.bindReference(rTimeB, rOut)
        val byKey = new java.util.HashMap[org.apache.spark.sql.catalyst.expressions.UnsafeRow,
          scala.collection.mutable.ArrayBuffer[(Any, InternalRow)]]()
        relation.value.foreach { r =>
          val k = rKeyProj(r)
          val t = rTimeEval.eval(r)
          if (t != null && !k.anyNull) {
            var buf = byKey.get(k)
            if (buf == null) {
              buf = new scala.collection.mutable.ArrayBuffer[(Any, InternalRow)]
              byKey.put(k.copy(), buf)
            }
            buf += ((t, r)) // broadcast rows are materialized copies already
          }
        }
        val built = new java.util.HashMap[org.apache.spark.sql.catalyst.expressions.UnsafeRow,
          AsOfKeyTable](byKey.size())
        byKey.forEach { (k, buf) =>
          val sorted = buf.sortBy(_._1)(timeOrd)
          built.put(k, new AsOfKeyTable(sorted.map(_._1).toArray, sorted.map(_._2).toArray))
        }
        built
      }.asInstanceOf[java.util.HashMap[org.apache.spark.sql.catalyst.expressions.UnsafeRow, AsOfKeyTable]]

      val lKeyProj = UnsafeProjection.create(lKeysB, lOut)
      val lTimeEval = BindReferences.bindReference(lTimeB, lOut)
      val nullRight = new GenericInternalRow(nRight)
      val joined = new JoinedRow
      // UnsafeRow output contract — see AsOfJoinExec
      val resultProj = UnsafeProjection.create(outAttrs, outAttrs)
      lIter.map { l =>
        numOutputRows += 1
        val k = lKeyProj(l)
        val t = lTimeEval.eval(l)
        val tab = if (k.anyNull || t == null) null else tables.get(k)
        if (tab == null) resultProj(joined(l, nullRight))
        else {
          // binary bound over the key's sorted times:
          // backward → first index with time > t (candidate = bound - 1)
          // forward  → first index with time >= t (candidate = bound)
          var lo = 0
          var hi = tab.times.length
          while (lo < hi) {
            val mid = (lo + hi) >>> 1
            val le = if (fwd) timeOrd.lt(tab.times(mid), t)
                     else timeOrd.lteq(tab.times(mid), t)
            if (le) lo = mid + 1 else hi = mid
          }
          val idx = if (fwd) lo else lo - 1
          val matched = idx >= 0 && idx < tab.times.length &&
            tol.forall { tv =>
              if (fwd) NativeJoinTime.withinTolerance(tab.times(idx), t, tv)
              else NativeJoinTime.withinTolerance(t, tab.times(idx), tv)
            }
          if (matched) numMatchedRows += 1
          resultProj(joined(l, if (matched) tab.rows(idx) else nullRight))
        }
      }
    }, preservesPartitioning = true)
  }
}

/** User-facing entry point. */
object AsOf {

  /** As-of left join: every left row plus the right columns of the
    * latest right row at-or-before it (`direction = "backward"`, default)
    * or the earliest at-or-after it (`"forward"`), per
    * `leftKeys`/`rightKeys` equality. `tolerance` (optional) bounds the
    * match distance in the time column's NATIVE units — µs for timestamp
    * columns, days for dates, the raw value for integral columns — like
    * pandas merge_asof.
    *
    * Column names must be disjoint between the two sides (rename the right
    * side's key/time columns first; they carry through to the output, so a
    * collision would produce ambiguous names downstream).
    *
    * Physical regime is chosen by [[AsOfJoinStrategy]]: a right side under
    * `spark.sql.autoBroadcastJoinThreshold` broadcasts (the left side never
    * shuffles or sorts — the 100 TB fact-vs-dimension shape); larger sides
    * sort-merge (one exchange + sort per side, reusable across stages).
    * Pass `broadcastRight = Some(true/false)` to override the size
    * estimate — e.g. a post-aggregation right side whose size-only stats
    * still carry the pre-aggregation scan size. */
  def asOfJoin(left: DataFrame, right: DataFrame,
      leftKeys: Seq[String], rightKeys: Seq[String],
      leftTimeCol: String, rightTimeCol: String,
      direction: String = "backward", tolerance: Option[Long] = None,
      broadcastRight: Option[Boolean] = None): DataFrame = {
    require(leftKeys.nonEmpty && leftKeys.size == rightKeys.size,
      "as-of needs one or more key columns, the same count on both sides")
    require(direction == "backward" || direction == "forward",
      s"as-of direction must be 'backward' or 'forward', got '$direction'")
    val spark = left.sparkSession
    // resolver-aware: with default case-insensitive resolution, 'Ts' vs
    // 'ts' is exactly the downstream ambiguity this guard documents —
    // a case-sensitive Set intersect would let it through
    val overlap = left.columns.filter(lc =>
      right.columns.exists(rc => spark.sessionState.conf.resolver(lc, rc)))
    require(overlap.isEmpty,
      s"as-of output would carry ambiguous column names: ${overlap.mkString(", ")}")
    graft.sql.functions.ensureRegistered(spark)
    val lPlan = left.queryExecution.analyzed
    val rPlan = right.queryExecution.analyzed
    def resolve(plan: LogicalPlan, name: String): Attribute =
      plan.output.find(a => spark.sessionState.conf.resolver(a.name, name))
        .getOrElse(throw new IllegalArgumentException(
          s"column '$name' not found among ${plan.output.map(_.name).mkString(", ")}"))
    GraftSqlBridge.ofRows(spark, AsOfJoinPlan(lPlan, rPlan,
      leftKeys.map(resolve(lPlan, _)), rightKeys.map(resolve(rPlan, _)),
      resolve(lPlan, leftTimeCol), resolve(rPlan, rightTimeCol),
      forward = direction == "forward", toleranceUs = tolerance,
      broadcastHint = broadcastRight))
  }
}
