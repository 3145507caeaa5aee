package graft.dataflow

import java.util.concurrent.{ConcurrentHashMap, Executors, LinkedBlockingQueue}
import scala.collection.mutable
import scala.util.{Failure, Success, Try}

/** Priority ordering applied to runnable actions before scheduling.
  * Mirrors the reference's strategies
  * (/root/reference/waimak-core/src/main/scala/com/coxautodata/waimak/dataflow/DFExecutorPriorityStrategies.scala:20-104). */
object PriorityStrategies {

  type Strategy[C <: FlowContext] = Seq[FlowAction[C]] => Seq[FlowAction[C]]

  /** Flow order as-is. */
  def asInFlow[C <: FlowContext]: Strategy[C] = identity

  /** Writers (no outputs) first — they free memory and unblock commits; then
    * actions with inputs; loaders (no inputs) last. */
  def raceToOutputs[C <: FlowContext]: Strategy[C] = { actions =>
    val (writers, rest) = actions.partition(_.outputLabels.isEmpty)
    val (mids, loaders) = rest.partition(_.inputLabels.nonEmpty)
    writers ++ mids ++ loaders
  }
}

/** Drives a flow to completion.
  *
  * @return executed actions and the final flow (outputs folded into inputs).
  */
trait FlowExecutor[C <: FlowContext] {
  def execute[S <: DataFlow[S, C]](flow: S, errorOnUnexecutedActions: Boolean = true): (Seq[FlowAction[C]], S)
}

/** The flow executor: independent DAG branches run concurrently on named
  * execution pools, each pool a fixed thread pool. `maxParallelActions = 1`
  * with [[PriorityStrategies.asInFlow]] runs one ready action at a time in
  * flow order (the reference's SequentialScheduler). Completion flows back
  * through a blocking queue; failures fail fast (no new scheduling, running
  * actions drain). Reference semantics: ParallelActionScheduler.scala:50-130.
  *
  * Spark note: each pool thread sets the Spark fair-scheduler pool local
  * property via [[FlowContext.setPoolIntoContext]], so independent branches
  * land on separate FAIR pools on the cluster.
  */
class ParallelExecutor[C <: FlowContext](
    maxParallelActions: Int = 20,
    poolParallelism: Map[String, Int] = Map.empty,
    priority: PriorityStrategies.Strategy[C] = PriorityStrategies.raceToOutputs[C])
  extends FlowExecutor[C] {

  private final case class Done(action: FlowAction[C], result: Try[core.ActionResult])

  def execute[S <: DataFlow[S, C]](flow: S, errorOnUnexecutedActions: Boolean = true): (Seq[FlowAction[C]], S) = {
    val prepared = flow.prepareForExecution().get
    val queue = new LinkedBlockingQueue[Done]()
    val pools = new ConcurrentHashMap[String, java.util.concurrent.ExecutorService]()
    val runningPerPool = mutable.Map[String, Int]().withDefaultValue(0)
    val running = mutable.Set[String]()
    var current = prepared
    var failure: Option[Throwable] = None

    def poolService(pool: String) = pools.computeIfAbsent(pool, { p =>
      val n = poolParallelism.getOrElse(p, maxParallelActions)
      Executors.newFixedThreadPool(n, r => {
        val t = new Thread(r, s"graft-pool-$p")
        t.setDaemon(true)
        t
      })
    })

    def slotsLeft(pool: String): Boolean =
      runningPerPool(pool) < poolParallelism.getOrElse(pool, maxParallelActions) &&
        running.size < maxParallelActions

    def scheduleReady(): Unit = {
      val ready = priority(current.nextRunnable().filterNot(a => running.contains(a.guid)))
      ready.foreach { action =>
        val pool = current.poolOf(action)
        if (failure.isEmpty && slotsLeft(pool)) {
          running += action.guid
          runningPerPool(pool) += 1
          val inputs = current.inputs.filterLabels(action.inputLabels)
          val ctx = current.context
          poolService(pool).submit(new Runnable {
            def run(): Unit = {
              // every submitted action posts exactly one Done: the context
              // hooks run inside the same catch as the action, and Throwable
              // (not just NonFatal) is caught, because a lost Done leaves the
              // scheduler blocked on `queue.take()` forever
              val result =
                try {
                  ctx.setPoolIntoContext(pool)
                  ctx.reportActionStarted(action)
                  Try(action.performAction(inputs, ctx)).flatten
                } catch { case t: Throwable => Failure(t) }
              queue.put(Done(action, result))
            }
          })
        }
      }
    }

    try {
      scheduleReady()
      while (running.nonEmpty) {
        val done = queue.take()
        running -= done.action.guid
        runningPerPool(current.poolOf(done.action)) -= 1
        done.result match {
          case Success(outputs) if failure.isEmpty =>
            // `executed` (and its temp-view hook) runs on this scheduler
            // thread — never concurrently — so flow state stays consistent.
            current = current.executed(done.action, outputs)
            scheduleReady()
          case Failure(e) if failure.isEmpty =>
            failure = Some(new FlowException(s"Action [${done.action.description}] failed", e))
          case _ => () // draining after failure
        }
      }
    } finally {
      pools.values.forEach(_.shutdown())
    }

    failure.foreach(throw _)
    if (errorOnUnexecutedActions && current.actions.nonEmpty)
      throw new FlowException(
        s"Flow finished with ${current.actions.size} unexecuted actions: " +
          current.actions.map(_.description).mkString("; "))
    val finalized = current.finaliseExecution().get
    (finalized.state.executedActions, finalized)
  }
}
