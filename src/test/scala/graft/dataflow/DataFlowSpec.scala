package graft.dataflow

import org.scalatest.funspec.AnyFunSpec
import org.scalatest.matchers.should.Matchers

import scala.util.{Success, Try}

/** Minimal non-Spark flow for DAG-semantics tests. */
final case class SimpleDataFlow(state: FlowState[FlowContext])
  extends DataFlow[SimpleDataFlow, FlowContext] {
  def context: FlowContext = EmptyFlowContext
  protected def withState(s: FlowState[FlowContext]): SimpleDataFlow = copy(state = s)
}

object SimpleDataFlow {
  def empty: SimpleDataFlow = SimpleDataFlow(FlowState.empty[FlowContext])
}

/** Test action: string inputs/outputs, computed by a function. */
class TestAction(
    val inputLabels: List[String],
    val outputLabels: List[String],
    override val requiresAllInputs: Boolean = true)(
    run: FlowEntities => core.ActionResult)
  extends FlowAction[FlowContext] {
  def performAction(inputs: FlowEntities, context: FlowContext): Try[core.ActionResult] =
    Try(run(inputs))
}

object TestAction {
  def producer(label: String, value: String): TestAction =
    new TestAction(List.empty, List(label))(_ => Seq(Some(value)))

  def mapper(in: String, out: String)(f: String => String): TestAction =
    new TestAction(List(in), List(out))(e => Seq(Some(f(e.get[String](in)))))
}

class DataFlowSpec extends AnyFunSpec with Matchers {

  describe("flow construction") {
    it("rejects duplicate output labels") {
      val flow = SimpleDataFlow.empty.addAction(TestAction.producer("a", "1"))
      val e = intercept[FlowException](flow.addAction(TestAction.producer("a", "2")))
      e.getMessage should include("already defined")
    }

    it("rejects output labels clashing with inputs at validation") {
      val flow = SimpleDataFlow.empty
        .addInput("a", Some("seed"))
        .addAction(TestAction.producer("a2", "1"))
      // direct clash caught in addAction
      intercept[FlowException](flow.addAction(TestAction.producer("a", "x")))
    }

    it("rejects duplicate input labels") {
      val flow = SimpleDataFlow.empty.addInput("a", Some("1"))
      intercept[FlowException](flow.addInput("a", Some("2")))
    }

    it("rejects actions consuming labels nobody produces") {
      val flow = SimpleDataFlow.empty.addAction(TestAction.mapper("ghost", "out")(identity))
      flow.isValidFlowDAG.failed.get.getMessage should include("ghost")
    }

    it("rejects an empty flow") {
      SimpleDataFlow.empty.isValidFlowDAG.failed.get.getMessage should include("empty flow")
    }
  }

  describe("state machine") {
    it("moves outputs into inputs on executed()") {
      val p = TestAction.producer("a", "v1")
      val flow = SimpleDataFlow.empty.addAction(p)
      val after = flow.executed(p, Seq(Some("v1")))
      after.actions shouldBe empty
      after.inputs.get[String]("a") shouldBe "v1"
      after.state.executedActions.map(_.guid) shouldBe Seq(p.guid)
    }

    it("tracks readiness through RequiresInput / ExpectedInputIsEmpty / ReadyToRun") {
      val m = TestAction.mapper("a", "b")(identity)
      m.readiness(FlowEntities.empty) shouldBe ActionState.RequiresInput
      m.readiness(FlowEntities(Map("a" -> None))) shouldBe ActionState.ExpectedInputIsEmpty
      m.readiness(FlowEntities(Map("a" -> Some("x")))) shouldBe ActionState.ReadyToRun
    }

    it("lets requiresAllInputs=false actions run on empty inputs") {
      val tolerant = new TestAction(List("a"), List("b"), requiresAllInputs = false)(
        e => Seq(Some(e.getOption[String]("a").getOrElse("default"))))
      tolerant.readiness(FlowEntities(Map("a" -> None))) shouldBe ActionState.ReadyToRun
    }

    it("nextRunnable respects data dependencies") {
      val p = TestAction.producer("a", "1")
      val m = TestAction.mapper("a", "b")(identity)
      val flow = SimpleDataFlow.empty.addAction(p).addAction(m)
      flow.nextRunnable().map(_.guid) shouldBe Seq(p.guid)
      flow.executed(p, Seq(Some("1"))).nextRunnable().map(_.guid) shouldBe Seq(m.guid)
    }
  }

  describe("tags") {
    it("tagDependency blocks until tagged actions ran") {
      var flow = SimpleDataFlow.empty
      val writer = TestAction.producer("w", "written")
      val reader = TestAction.producer("r", "read")
      flow = flow.tag("writes")(_.addAction(writer))
      flow = flow.tagDependency("writes")(_.addAction(reader))
      flow.nextRunnable().map(_.guid) shouldBe Seq(writer.guid)
      flow.executed(writer, Seq(Some("x"))).nextRunnable().map(_.guid) shouldBe Seq(reader.guid)
    }

    it("accepts an action without labels only under a tag dependency") {
      val writer = TestAction.producer("w", "written")
      val cleanup = new TestAction(List.empty, List.empty)(_ => Seq.empty)
      intercept[IllegalArgumentException](SimpleDataFlow.empty.addAction(cleanup))
        .getMessage should include("tag dependency")
      intercept[IllegalArgumentException](
        SimpleDataFlow.empty.tag("writes")(_.addAction(cleanup)))
      val flow = SimpleDataFlow.empty.tag("writes")(_.addAction(writer))
        .tagDependency("writes")(_.addAction(cleanup))
      flow.isValidFlowDAG shouldBe a[Success[_]]
      flow.nextRunnable().map(_.guid) shouldBe Seq(writer.guid)
      flow.executed(writer, Seq(Some("x"))).nextRunnable().map(_.guid) shouldBe Seq(cleanup.guid)
    }

    it("rejects dependencies on tags nobody carries") {
      val flow = SimpleDataFlow.empty
        .tagDependency("nope")(_.addAction(TestAction.producer("a", "1")))
      flow.isValidFlowDAG.failed.get.getMessage should include("nope")
    }

    it("rejects an action depending on its own tag") {
      val flow = SimpleDataFlow.empty.tag("t") {
        _.tagDependency("t")(_.addAction(TestAction.producer("a", "1")))
      }
      flow.isValidFlowDAG.failed.get.getMessage should include("carries and depends")
    }

    it("detects tag-induced cycles") {
      var flow = SimpleDataFlow.empty
      // action X (tagged "first") consumes output of Y; Y depends on tag "first"
      val y = TestAction.producer("fromY", "y")
      flow = flow.tagDependency("first")(_.addAction(y))
      val x = TestAction.mapper("fromY", "fromX")(identity)
      flow = flow.tag("first")(_.addAction(x))
      flow.isValidFlowDAG.failed.get.getMessage should include("Cycle")
    }

    it("accepts a valid diamond DAG") {
      val src = TestAction.producer("s", "v")
      val l = TestAction.mapper("s", "l")(_ + "l")
      val r = TestAction.mapper("s", "r")(_ + "r")
      val join = new TestAction(List("l", "r"), List("j"))(
        e => Seq(Some(e.get[String]("l") + e.get[String]("r"))))
      val flow = SimpleDataFlow.empty.addAction(src).addAction(l).addAction(r).addAction(join)
      flow.isValidFlowDAG shouldBe a[Success[_]]
    }
  }

  describe("execution pools") {
    it("records pools for actions in executionPool blocks") {
      val a = TestAction.producer("a", "1")
      val b = TestAction.producer("b", "2")
      val flow = SimpleDataFlow.empty
        .executionPool("heavy")(_.addAction(a))
        .addAction(b)
      flow.poolOf(a) shouldBe "heavy"
      flow.poolOf(b) shouldBe SchedulingMeta.DefaultPool
      flow.nextRunnable(Set("heavy")).map(_.guid) shouldBe Seq(a.guid)
    }

    it("schedulingMeta scopes arbitrary context; nesting restores the outer state") {
      val a = TestAction.producer("a", "1")
      val b = TestAction.producer("b", "2")
      val c = TestAction.producer("c", "3")
      val flow = SimpleDataFlow.empty
        .schedulingMeta(_.copy(context = Some("gpu")))(
          _.addAction(a)
            // nested block: overrides context AND pool, both restored after
            .schedulingMeta(s => s.copy(poolName = Some("heavy"), context = Some(42)))(
              _.addAction(b))
            .addAction(c))
      flow.schedulingContextOf(a) shouldBe Some("gpu")
      flow.poolOf(a) shouldBe SchedulingMeta.DefaultPool
      flow.schedulingContextOf(b) shouldBe Some(42)
      flow.poolOf(b) shouldBe "heavy"
      flow.schedulingContextOf(c) shouldBe Some("gpu") // outer scope restored
      // interception re-keys the captured scheduling state to the wrapper
      val wrapped = flow.interceptPostOutput("b") { orig =>
        new TestAction(orig.inputLabels, orig.outputLabels)(_ => Seq(Some("w")))
      }
      val replacement = wrapped.actions.find(_.outputLabels.contains("b")).get
      wrapped.schedulingContextOf(replacement) shouldBe Some(42)
      wrapped.poolOf(replacement) shouldBe "heavy"
    }
  }

  describe("interception") {
    it("replaces the producing action and keeps tag metadata") {
      val p = TestAction.producer("a", "1")
      var flow = SimpleDataFlow.empty.tag("t")(_.addAction(p))
      flow = flow.interceptPostOutput("a") { orig =>
        new TestAction(orig.inputLabels, orig.outputLabels)(
          e => Seq(Some("wrapped")))
      }
      val replacement = flow.actions.head
      replacement.guid should not be p.guid
      flow.state.tagState.forAction(replacement.guid).tags shouldBe Set("t")
    }
  }
}

class ExecutorSpec extends AnyFunSpec with Matchers {

  private def diamond: (SimpleDataFlow, TestAction) = {
    val src = TestAction.producer("s", "v")
    val l = TestAction.mapper("s", "l")(_ + "-l")
    val r = TestAction.mapper("s", "r")(_ + "-r")
    val join = new TestAction(List("l", "r"), List("j"))(
      e => Seq(Some(e.get[String]("l") + "|" + e.get[String]("r"))))
    (SimpleDataFlow.empty.addAction(src).addAction(l).addAction(r).addAction(join), join)
  }

  it("sequential executor runs a diamond to completion") {
    val (flow, _) = diamond
    val (executed, finalFlow) = new ParallelExecutor[FlowContext](1, priority = PriorityStrategies.asInFlow).execute(flow)
    executed.size shouldBe 4
    finalFlow.inputs.get[String]("j") shouldBe "v-l|v-r"
  }

  it("parallel executor runs a diamond to completion") {
    val (flow, _) = diamond
    val (executed, finalFlow) = new ParallelExecutor[FlowContext](4).execute(flow)
    executed.size shouldBe 4
    finalFlow.inputs.get[String]("j") shouldBe "v-l|v-r"
  }

  it("parallel executor actually overlaps independent actions") {
    val gate = new java.util.concurrent.CountDownLatch(2)
    def slow(label: String) = new TestAction(List.empty, List(label))({ _ =>
      gate.countDown()
      // both must be in-flight simultaneously or we dead-wait and fail
      if (!gate.await(5, java.util.concurrent.TimeUnit.SECONDS))
        throw new IllegalStateException("actions did not overlap")
      Seq(Some(label))
    })
    val flow = SimpleDataFlow.empty.addAction(slow("a")).addAction(slow("b"))
    val (executed, _) = new ParallelExecutor[FlowContext](4).execute(flow)
    executed.size shouldBe 2
  }

  it("fails fast and reports the failing action") {
    val boom = new TestAction(List.empty, List("x"))(_ => throw new RuntimeException("boom"))
    val flow = SimpleDataFlow.empty.addAction(boom)
      .addAction(TestAction.mapper("x", "y")(identity))
    val e = intercept[FlowException](new ParallelExecutor[FlowContext](4).execute(flow))
    e.getMessage should include("failed")
  }

  it("errors on unexecutable leftovers (empty input with requiresAllInputs)") {
    val emptyProducer = new TestAction(List.empty, List("e"))(_ => Seq(None))
    val consumer = TestAction.mapper("e", "out")(identity)
    val flow = SimpleDataFlow.empty.addAction(emptyProducer).addAction(consumer)
    val e = intercept[FlowException](new ParallelExecutor[FlowContext](1, priority = PriorityStrategies.asInFlow).execute(flow))
    e.getMessage should include("unexecuted")
  }

  it("pool limits throttle concurrency per pool") {
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val peak = new java.util.concurrent.atomic.AtomicInteger(0)
    def tracked(label: String) = new TestAction(List.empty, List(label))({ _ =>
      val now = counter.incrementAndGet()
      peak.updateAndGet(p => math.max(p, now))
      Thread.sleep(50)
      counter.decrementAndGet()
      Seq(Some(label))
    })
    val flow = (1 to 6).foldLeft(SimpleDataFlow.empty) { (f, i) =>
      f.executionPool("narrow")(_.addAction(tracked(s"l$i")))
    }
    new ParallelExecutor[FlowContext](10, Map("narrow" -> 2)).execute(flow)
    peak.get() should be <= 2
  }
}
