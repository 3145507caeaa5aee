package graft

import org.scalatest.funspec.AnyFunSpec
import org.scalatest.matchers.should.Matchers

/** The one query selector Bench (SPARK_GRAFT_ONLY / SPARK_GRAFT_SKIP),
  * Verify (3rd/4th args) and PlanSnap (prefix args) share. Pure: no session. */
class HarnessSpec extends AnyFunSpec with Matchers {

  private val names = Seq("q70_fuzzy_dups", "q01_pricing_summary",
    "q147_fuzzy_dups_bounded", "q102_bpe_learn", "q10_top_k")

  describe("Harness.select") {
    it("keeps every name, sorted, when no filter is given") {
      Harness.select(names, None, None) shouldBe names.sorted
    }

    it("keeps only names starting with one of the comma-separated prefixes") {
      Harness.select(names, Some("q01_,q10"), None) shouldBe
        Seq("q01_pricing_summary", "q102_bpe_learn", "q10_top_k")
    }

    it("drops names starting with a skip prefix") {
      Harness.select(names, None, Some("q70_,q1")) shouldBe Seq("q01_pricing_summary")
    }

    it("applies only and skip together, skip winning") {
      Harness.select(names, Some("q1"), Some("q10_")) shouldBe
        Seq("q102_bpe_learn", "q147_fuzzy_dups_bounded")
    }

    it("reads Verify's \"-\" as no filter") {
      Harness.select(names, Some("-"), Some("q70_")) shouldBe
        names.sorted.filterNot(_ == "q70_fuzzy_dups")
      Harness.select(names, Some("-"), Some("-")) shouldBe names.sorted
    }

    it("returns nothing when no name matches") {
      Harness.select(names, Some("q999_"), None) shouldBe empty
      Harness.select(Seq.empty, None, None) shouldBe empty
    }
  }
}
