package graft.sql

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import org.apache.spark.sql.{DataFrame, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy
import org.scalatest.matchers.should.Matchers

import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future}

import graft.SparkTestBase
import graft.plans._

/** `functions.ensureRegistered` is the one per-session installer of the
  * native set — the function table, both join strategies and both join
  * rules — and installs exactly what `GraftExtensions` injects. */
class EnsureRegisteredSpec extends SparkTestBase with Matchers {

  private def asOf(s: SparkSession): () => DataFrame = {
    val trades = s.createDataFrame(Seq(("A", 5L), ("A", 20L), ("B", 16L))).toDF("sym", "t")
    val quotes = s.createDataFrame(Seq(("A", 10L, 1.0), ("B", 15L, 2.0))).toDF("r_sym", "r_t", "px")
    () => AsOf.asOfJoin(trades, quotes, Seq("sym"), Seq("r_sym"), "t", "r_t")
  }

  private def interval(s: SparkSession): () => DataFrame = {
    val points = s.createDataFrame(Seq(("A", 5L), ("A", 20L))).toDF("k", "t")
    val spans = s.createDataFrame(Seq(("A", 0L, 10L), ("A", 15L, 30L))).toDF("i_key", "i_start", "i_end")
    () => IntervalJoin.intervalJoin(points, spans, Seq("k"), Seq("i_key"), "t", "i_start", "i_end")
  }

  private def graftFunctions(s: SparkSession): Seq[String] =
    s.sessionState.functionRegistry.listFunction().map(_.funcName)
      .filter(_.startsWith("graft_")).sorted

  private def plansNatively(df: DataFrame): Boolean =
    PlanWalk.unwrap(df.queryExecution.executedPlan).exists {
      case _: AsOfJoinExec | _: BroadcastAsOfJoinExec => true
      case _: IntervalJoinExec | _: BroadcastIntervalJoinExec => true
      case _ => false
    }

  it("installs each strategy and rule exactly once when sessions race on it") {
    val sessions = 8
    // per session: the installer, an as-of build and an interval build,
    // all released at once. One round loses an update only rarely when the
    // lists are not guarded, so the race runs for many rounds.
    val pool = Executors.newFixedThreadPool(sessions * 3)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      (1 to 25).foreach { round =>
        val start = new CountDownLatch(1)
        def race[T](body: () => T): Future[T] = Future { start.await(); body() }
        val built = Seq.fill(sessions)(spark.newSession()).map { s =>
          (s, race(() => functions.ensureRegistered(s)), race(asOf(s)), race(interval(s)))
        }
        start.countDown()
        built.foreach { case (s, installed, asOfDf, intervalDf) =>
          Await.result(installed, 2.minutes)
          withClue(s"round $round: ") {
            s.experimental.extraStrategies shouldBe functions.strategies
            s.experimental.extraOptimizations shouldBe functions.rules
            plansNatively(Await.result(asOfDf, 2.minutes)) shouldBe true
            plansNatively(Await.result(intervalDf, 2.minutes)) shouldBe true
          }
        }
        if (round == 1) {
          asOf(built.head._1)().count() shouldBe 3
          interval(built.head._1)().count() shouldBe 2
        }
      }
    } finally {
      pool.shutdownNow()
      pool.awaitTermination(1, TimeUnit.MINUTES)
    }
  }

  it("installs the same functions, strategies and rules that GraftExtensions injects") {
    class Recorder extends SparkSessionExtensions {
      var names = Seq.empty[String]
      var strategies = Seq.empty[SparkStrategy]
      var rules = Seq.empty[Rule[LogicalPlan]]
      override def injectFunction(fn: FunctionDescription): Unit = names :+= fn._1.funcName
      override def injectPlannerStrategy(builder: StrategyBuilder): Unit =
        strategies :+= builder(spark)
      override def injectOptimizerRule(builder: RuleBuilder): Unit = rules :+= builder(spark)
    }
    val injected = new Recorder
    new GraftExtensions()(injected)
    val s = spark.newSession()
    functions.ensureRegistered(s)
    functions.ensureRegistered(s) // idempotent
    (graftFunctions(s), s.experimental.extraStrategies, s.experimental.extraOptimizations) shouldBe
      ((injected.names.sorted, injected.strategies, injected.rules))
    injected.names should have size functions.table.size
  }
}
