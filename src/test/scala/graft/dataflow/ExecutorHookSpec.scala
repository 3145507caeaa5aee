package graft.dataflow

import org.scalatest.funspec.AnyFunSpec
import org.scalatest.matchers.should.Matchers

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

/** A test flow over a caller-chosen context. */
private final case class HookFlow(
    context: FlowContext,
    state: FlowState[FlowContext] = FlowState.empty[FlowContext])
  extends DataFlow[HookFlow, FlowContext] {
  protected def withState(s: FlowState[FlowContext]): HookFlow = copy(state = s)
}

/** A flow context whose hooks throw: the executor must fail the flow with a
  * [[FlowException]], not leave its scheduler waiting for a completion that
  * never comes. Each run is bounded by a 10 s `Await`, so a hang fails the
  * spec instead of stalling the suite. */
class ExecutorHookSpec extends AnyFunSpec with Matchers {

  private def failsWithin10s(ctx: FlowContext): FlowException = {
    val flow = HookFlow(ctx).addAction(TestAction.producer("a", "v"))
      .addAction(TestAction.mapper("a", "b")(identity))
    val run = Future(new ParallelExecutor[FlowContext](4).execute(flow))
    intercept[FlowException](Await.result(run, 10.seconds))
  }

  it("fails the flow when reportActionStarted throws") {
    val e = failsWithin10s(new FlowContext {
      override def reportActionStarted(action: FlowAction[_]): Unit =
        throw new IllegalStateException("start hook")
    })
    e.getCause.getMessage shouldBe "start hook"
  }

  it("fails the flow when setPoolIntoContext throws") {
    val e = failsWithin10s(new FlowContext {
      override def setPoolIntoContext(poolName: String): Unit =
        throw new IllegalStateException("pool hook")
    })
    e.getCause.getMessage shouldBe "pool hook"
  }
}
