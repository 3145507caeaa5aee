package graft

import org.scalatest.funspec.AnyFunSpec
import org.scalatest.matchers.should.Matchers

/** Guards on the driver contract itself — failures here would otherwise
  * surface only as silent driver-round losses. */
class EntryContractSpec extends AnyFunSpec with Matchers {

  it("every query has an oracle and every oracle has a query") {
    // the driver hash-compares each queries entry against oracleSql; a key
    // present on one side only silently downgrades or orphans that check
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    (q -- o) shouldBe empty
    (o -- q) shouldBe empty
  }

  it("the oracle_sql.json payload round-trips through a strict JSON parser") {
    // exactly what Verify writes and the driver json.load()s
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Verify.escapeJson(k)}: ${Verify.escapeJson(v)}" }
      .mkString("{", ",", "}")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val parsed = mapper.readTree(json)
    parsed.size() shouldBe SparkEntry.oracleSql.size
    SparkEntry.oracleSql.foreach { case (k, v) =>
      withClue(s"oracle [$k] corrupted by escaping: ") {
        parsed.get(k).asText() shouldBe v
      }
    }
  }

  it("the registry rejects a query name declared twice") {
    val q = SparkEntry.registry.head
    val e = intercept[IllegalArgumentException](
      graft.gate.GateQuery.registry(Seq(q), Seq(q.copy(oracleSql = "SELECT 1"))))
    e.getMessage should include(q.name)
  }

  it("query names are driver-safe (filesystem + JSON key friendly)") {
    SparkEntry.queries.keys.foreach { k =>
      k should fullyMatch regex "[A-Za-z0-9_]+"
    }
  }
}
