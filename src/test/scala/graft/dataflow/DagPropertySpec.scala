package graft.dataflow

import org.scalatest.funspec.AnyFunSpec
import org.scalatest.matchers.should.Matchers

import scala.util.Random

/** Property-style tests for the DAG validator over random flows — the
  * memoised label+tag graph walk is the subtlest code in the framework
  * (SURVEY §7.3 risk register), so it is checked against ground truth on
  * generated structures rather than a handful of hand-picked examples.
  * 200 deterministic seeds per property. */
class DagPropertySpec extends AnyFunSpec with Matchers {

  private def producer(out: String, ins: Seq[String] = Seq.empty) =
    new TestAction(ins.toList, List(out))(_ => Seq(Some("v")))

  private val Trials = 200

  describe("random forward DAGs") {
    it("always validate and always execute to completion") {
      (1 to Trials).foreach { seed =>
        val rnd = new Random(seed)
        val n = 1 + rnd.nextInt(25)
        // labels l0..l(n-1); each consumes a random subset of EARLIER labels
        // -> acyclic by construction
        val flow = (0 until n).foldLeft(SimpleDataFlow.empty) { (fl, i) =>
          val ins = (0 until i).filter(_ => rnd.nextDouble() < 0.3).map(j => s"l$j")
          fl.addAction(producer(s"l$i", ins))
        }
        withClue(s"seed=$seed n=$n: ") {
          flow.isValidFlowDAG.isSuccess shouldBe true
          val (executed, done) = new ParallelExecutor[FlowContext](1, priority = PriorityStrategies.asInFlow).execute(flow)
          executed.size shouldBe n
          done.actions shouldBe empty
        }
      }
    }
  }

  describe("random cyclic label graphs") {
    it("are always rejected") {
      (1 to Trials).foreach { seed =>
        val rnd = new Random(seed)
        val n = 2 + rnd.nextInt(11)
        // forward DAG plus a guaranteed 2-cycle: l_i's producer consumes l_k
        // AND l_k's producer consumes l_i (random earlier edges on top)
        val i = rnd.nextInt(n - 1)
        val k = i + 1 + rnd.nextInt(n - 1 - i)
        val flow = (0 until n).foldLeft(SimpleDataFlow.empty) { (fl, x) =>
          val ins = (0 until x).filter(_ => rnd.nextDouble() < 0.3).map(j => s"l$j") ++
            (if (x == i) Seq(s"l$k") else if (x == k) Seq(s"l$i") else Seq.empty)
          fl.addAction(producer(s"l$x", ins))
        }
        withClue(s"seed=$seed n=$n backedge=l$k->l$i: ") {
          flow.isValidFlowDAG.isFailure shouldBe true
        }
      }
    }
  }

  describe("random tag fences") {
    it("never change WHAT executes, only the order") {
      (1 to Trials).foreach { seed =>
        val rnd = new Random(seed)
        val n = 2 + rnd.nextInt(14)
        // the tag-depending sink is added FIRST: flow-order scheduling alone
        // would run it before the producers, so the ordering assertion below
        // actually exercises the tag fence (a sink added last would pass
        // trivially)
        val tagged = (0 until n).filter(_ => rnd.nextBoolean()).toSet
        val start =
          if (tagged.isEmpty) SimpleDataFlow.empty
          else SimpleDataFlow.empty.tagDependency("grp")(_.addAction(producer("sink")))
        val flow = (0 until n).foldLeft(start) { (fl, x) =>
          if (tagged.contains(x)) fl.tag("grp")(_.addAction(producer(s"l$x")))
          else fl.addAction(producer(s"l$x"))
        }
        withClue(s"seed=$seed n=$n tagged=${tagged.size}: ") {
          val (executed, done) = new ParallelExecutor[FlowContext](1, priority = PriorityStrategies.asInFlow).execute(flow)
          executed.size shouldBe (if (tagged.isEmpty) n else n + 1)
          done.actions shouldBe empty
          if (tagged.nonEmpty) {
            val order = executed.map(_.outputLabels.head).zipWithIndex.toMap
            tagged.foreach(x => order(s"l$x") should be < order("sink"))
          }
        }
      }
    }
  }
}
