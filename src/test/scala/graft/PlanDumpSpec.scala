package graft

import org.scalatest.funspec.AnyFunSpec
import org.scalatest.matchers.should.Matchers

/** PlanDump's control-character escaping, which keeps plan files text
  * (hash expressions carry NUL-sentinel literals). Pure: no session. */
class PlanDumpSpec extends AnyFunSpec with Matchers {

  describe("PlanDump.escapeControl") {
    it("writes NUL as \\u0000") {
      PlanDump.escapeControl("a\u0000b") shouldBe "a\\u0000b"
    }

    it("keeps newlines and tabs") {
      PlanDump.escapeControl("a\n\tb") shouldBe "a\n\tb"
    }

    it("leaves no character below 0x20 other than newline and tab") {
      val all = (0 until 0x80).map(_.toChar).mkString
      val out = PlanDump.escapeControl(all)
      out.filter(c => c < ' ' && c != '\n' && c != '\t') shouldBe empty
      out should include("\\u001f")
      out should endWith((' ' until 0x80.toChar).mkString)
    }
  }
}
