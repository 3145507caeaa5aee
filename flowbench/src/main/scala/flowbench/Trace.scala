package flowbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.dataflow.{FlowAction, FlowEntities, FlowExecutor, core}
import graft.dataflow.spark.{SparkDataFlow, SparkFlowContext}

/** In-memory span recorder. Times are epoch milliseconds with sub-ms
  * precision from the monotonic clock, so they line up with the epoch-ms
  * times of Spark's listener events. With `enabled = false` every call runs
  * its body and records nothing. */
final class Trace(val enabled: Boolean) {
  private val baseNano = System.nanoTime()
  private val baseEpochMs = System.currentTimeMillis().toDouble
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val flows = new ConcurrentLinkedQueue[Map[String, Any]]()
  @volatile var iteration: Int = -1

  def nowMs: Double = baseEpochMs + (System.nanoTime() - baseNano) / 1e6

  def nextId(): Long = ids.incrementAndGet()

  /** Run `body` as span `name`; the body gets the span id for children. */
  def span[T](name: String, kind: String, parent: Long, attrs: Map[String, Any] = Map.empty)(
      body: Long => T): T = {
    if (!enabled) return body(0L)
    val id = nextId()
    val start = nowMs
    val it = iteration
    var error: Option[String] = None
    try body(id)
    catch { case t: Throwable => error = Some(t.getClass.getName); throw t }
    finally {
      spans.add(Map("id" -> id, "name" -> name, "kind" -> kind, "parent" -> parent,
        "iter" -> it, "start" -> start, "end" -> nowMs, "thread" -> Thread.currentThread().getName,
        "error" -> error.orNull) ++ attrs)
    }
  }

  /** DAG shape of one flow execution, for ready-time and critical-path
    * analysis: per action its producers' labels and tag edges. */
  def recordFlow(spanId: Long, flow: SparkDataFlow): Unit = if (enabled) {
    flows.add(Map("span" -> spanId, "iter" -> iteration, "actions" -> flow.actions.map { a =>
      val meta = flow.state.tagState.forAction(a.guid)
      Map("guid" -> a.guid, "name" -> a.actionName, "inputs" -> a.inputLabels,
        "outputs" -> a.outputLabels, "tags" -> meta.tags.toSeq.sorted,
        "deps" -> meta.dependsOnTags.toSeq.sorted)
    }))
  }

  def spanList: Seq[Map[String, Any]] = spans.asScala.toSeq
  def flowList: Seq[Map[String, Any]] = flows.asScala.toSeq
}

/** Times `performAction` of a wrapped flow action. Delegates labels, name
  * and description, so the Spark job description the flow context sets
  * (`graft: <description>`) is the original action's. */
final class TimedAction(val inner: FlowAction[SparkFlowContext], trace: Trace, parent: Long)
    extends FlowAction[SparkFlowContext] {
  def inputLabels: List[String] = inner.inputLabels
  def outputLabels: List[String] = inner.outputLabels
  override val requiresAllInputs: Boolean = inner.requiresAllInputs
  override def actionName: String = inner.actionName
  override def description: String = inner.description

  def performAction(inputs: FlowEntities, context: SparkFlowContext): Try[core.ActionResult] =
    trace.span(actionName, "action", parent, Map("guid" -> guid,
      "job_desc" -> s"graft: $description"))(_ => inner.performAction(inputs, context))
}

object Flows {
  /** Execute `flow` on `executor`. Traced: prepare explicitly (timed), wrap
    * every action of the prepared flow — including those the commit and
    * cache extensions add — and record the DAG. */
  def run(flow: SparkDataFlow, executor: FlowExecutor[SparkFlowContext], trace: Trace,
      parent: Long): SparkDataFlow = {
    val out =
      if (!trace.enabled) executor.execute(flow)._2
      else trace.span("dataflow.flow", "flow", parent) { flowSpan =>
        val prepared = trace.span("dataflow.prepare", "prepare", flowSpan)(_ =>
          flow.prepareForExecution().get)
        val wrapped = prepared.actions.foldLeft(prepared)((f, a) =>
          f.replaceAction(a, new TimedAction(a, trace, flowSpan)))
        trace.recordFlow(flowSpan, wrapped)
        trace.span("dataflow.execute", "execute", flowSpan)(_ => executor.execute(wrapped)._2)
      }
    flow.spark.sparkContext.setJobDescription(null)
    out
  }
}

/** Stage, task, job and query-planning records from Spark's listener buses.
  * Registered only for traced phases. */
final class SparkTrace extends SparkListener with QueryExecutionListener {
  private val jobs = mutable.ArrayBuffer[Map[String, Any]]()
  private val stages = mutable.ArrayBuffer[Map[String, Any]]()
  private val queries = mutable.ArrayBuffer[Map[String, Any]]()
  private val tasks = mutable.Map[(Int, Int), mutable.ArrayBuffer[Array[Double]]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    jobs += Map("job" -> e.jobId, "start" -> e.time.toDouble,
      "desc" -> p.flatMap(x => Option(x.getProperty("spark.job.description"))).orNull,
      "execution" -> p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L),
      "stages" -> e.stageIds)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val i = e.taskInfo
      val delay = math.max(0L, i.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime)
      tasks.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer()) +=
        Array(i.duration.toDouble, m.executorRunTime.toDouble, delay.toDouble)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    val m = s.taskMetrics
    val ts = tasks.remove((s.stageId, s.attemptNumber())).map(_.toSeq).getOrElse(Seq.empty)
    val durations = ts.map(_(0)).sorted
    stages += Map("stage" -> s.stageId, "attempt" -> s.attemptNumber(),
      "submit" -> s.submissionTime.getOrElse(0L).toDouble,
      "complete" -> s.completionTime.getOrElse(0L).toDouble,
      "tasks" -> s.numTasks,
      "failed" -> s.failureReason.isDefined,
      "run_ms" -> (if (m == null) 0L else m.executorRunTime),
      "cpu_ns" -> (if (m == null) 0L else m.executorCpuTime),
      "gc_ms" -> (if (m == null) 0L else m.jvmGCTime),
      "shuffle_read" -> (if (m == null) 0L else
        m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead),
      "shuffle_write" -> (if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten),
      "spill" -> (if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled),
      "input" -> (if (m == null) 0L else m.inputMetrics.bytesRead),
      "output" -> (if (m == null) 0L else m.outputMetrics.bytesWritten),
      "task_max_ms" -> durations.lastOption.getOrElse(0.0),
      "task_median_ms" -> (if (durations.isEmpty) 0.0 else durations(durations.size / 2)),
      "sched_delay_ms" -> ts.map(_(2)).sum)
  }

  private def record(qe: QueryExecution, durationNs: Long, ok: Boolean): Unit = synchronized {
    val tracked = qe.tracker.phases
    val phases = tracked.map { case (k, v) => k -> v.durationMs }
    queries += Map("execution" -> qe.id, "ok" -> ok,
      "start" -> tracked.values.map(_.startTimeMs).minOption.getOrElse(0L).toDouble,
      "duration_ms" -> durationNs / 1e6,
      "planning_ms" -> phases.values.sum, "phases" -> phases)
  }

  def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe, durationNs, ok = true)

  def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe, 0L, ok = false)

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def uninstall(spark: SparkSession): Unit = {
    org.apache.spark.flowbench.ListenerBus.drain(spark.sparkContext)
    spark.listenerManager.unregister(this)
    spark.sparkContext.removeSparkListener(this)
  }

  def snapshot: Map[String, Any] = synchronized {
    Map("jobs" -> jobs.toList, "stages" -> stages.toList, "queries" -> queries.toList)
  }
}
