package graft

import scala.util.{Failure, Success, Try}

import org.scalatest.funspec.AnyFunSpec
import org.scalatest.matchers.should.Matchers

/** The per-run summary Bench's `main` reduces its samples to: medians, the
  * failure rows, the canary gates and `over_ref_2x`. Pure: no session. */
class BenchSpec extends AnyFunSpec with Matchers {

  private def ok(secs: Double*): Seq[Try[Double]] = secs.map(Success(_))
  private val steady = Seq("q01_pricing_summary" -> ok(1.0, 1.0, 1.0, 1.0, 1.0))

  private def canary(first: Double, last: Double, refs: Map[String, Double] = Map.empty) =
    Bench.summarize(steady, Success(first), Success(last), refs)

  describe("Bench.summarize") {
    it("reports the median of each query's 5 samples") {
      Bench.Passes shouldBe 5
      val s = Bench.summarize(Seq(
        "q02_x" -> ok(3.0, 1.0, 5.0, 2.0, 4.0),
        "q03_y" -> ok(30.0, 1.1, 1.0, 1.2, 0.9)),
        Success(1.0), Success(1.0), Map.empty)
      s.times shouldBe Seq("q02_x" -> 3.0, "q03_y" -> 1.1)
      s.failedCause shouldBe empty
    }

    it("reads -1 with the exception class for a query that failed in any pass") {
      val s = Bench.summarize(Seq(
        "q02_x" -> ok(1.0, 1.0, 1.0, 1.0, 1.0),
        "q03_y" -> (ok(1.0, 1.2) :+ Failure(new OutOfMemoryError("heap")))),
        Success(1.0), Success(1.0), Map.empty)
      s.times shouldBe Seq("q02_x" -> 1.0, "q03_y" -> -1.0)
      s.failedCause shouldBe Seq("q03_y" -> "java.lang.OutOfMemoryError")
      val rec = s.record("abc1234", "sf")
      rec should include("\"value\":1.000,")
      rec should include("\"failed\":[\"q03\"]")
      rec should include("\"failed_cause\":{\"q03\":\"java.lang.OutOfMemoryError\"}")
    }

    it("flags a run whose canary never succeeded as contended, with -1 ratios") {
      val dead = Failure(new IllegalStateException("canary"))
      val s = Bench.summarize(steady, dead, dead, Map("q01" -> 1.0))
      s.contended shouldBe true
      s.canaryRatio shouldBe -1.0
      s.canaryVsRef shouldBe -1.0
    }

    it("keeps the canary ratio bounds at exactly 1.5 and 1/1.5") {
      canary(1.0, 1.5).contended shouldBe false
      canary(1.0, 1.501).contended shouldBe true
      canary(1.5, 1.0).contended shouldBe false
      canary(1.5, 0.999).contended shouldBe true
    }

    it("flags a canary over 2x its reference, taking its best run") {
      val ref = Map("q01" -> 1.0)
      canary(2.0, 2.0, ref).contended shouldBe false
      canary(2.01, 2.01, ref).contended shouldBe true
      canary(2.0, 2.5, ref).canaryVsRef shouldBe 2.0
    }

    it("names medians over 2x their reference, only above the 0.75 s floor") {
      val s = Bench.summarize(Seq(
        "q02_fast" -> ok(0.7, 0.7, 0.7, 0.7, 0.7),
        "q03_slow" -> ok(0.8, 0.8, 0.8, 0.8, 0.8),
        "q04_even" -> ok(2.0, 2.0, 2.0, 2.0, 2.0),
        "q05_over" -> ok(9.0, 2.1, 2.1, 2.1, 0.1)),
        Success(1.0), Success(1.0),
        Map("q02" -> 0.3, "q03" -> 0.3, "q04" -> 1.0, "q05" -> 1.0))
      s.overRef shouldBe Seq("q03", "q05")
    }

    it("writes one record with the sample count and no retime fields") {
      val rec = canary(1.0, 1.0).record("abc1234", "/data/sf0.01")
      rec should startWith("{\"metric\":\"total\",")
      rec should include("\"n\":5,")
      rec should include("\"queries\":{\"q01\":1.000}")
      rec should include("\"contended\":false")
      rec should not include "retime"
      rec should endWith("\"commit\":\"abc1234\",\"sf\":\"/data/sf0.01\"}")
    }
  }
}
