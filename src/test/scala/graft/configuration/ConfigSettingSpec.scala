package graft.configuration

import org.scalatest.funspec.AnyFunSpec
import org.scalatest.matchers.should.Matchers

/** The checked parse of the conf values the configuration layer reads from
  * outside the program: the provider guard's timeout and retry count and
  * the Databricks key-sanitising switch. Pure: no session. */
class ConfigSettingSpec extends AnyFunSpec with Matchers {

  private val B = DatabricksSecretsPropertyProviderBuilder

  private def rejects(key: String, bad: String)(parse: Option[String] => Any): Unit = {
    val e = the[IllegalArgumentException] thrownBy parse(Some(bad))
    e.getMessage should include(key)
    e.getMessage should include(s"'$bad'")
  }

  it("reads the defaults when unset, else the value given") {
    ConfigParser.retries(None) shouldBe 3
    ConfigParser.retries(Some("0")) shouldBe 0
    ConfigParser.retries(Some("5")) shouldBe 5
    ConfigParser.timeoutMs(None) shouldBe 10000L
    ConfigParser.timeoutMs(Some("1")) shouldBe 1L
    B.replaceSpecialCharacters(None) shouldBe true
    B.replaceSpecialCharacters(Some("false")) shouldBe false
    B.replaceSpecialCharacters(Some("true")) shouldBe true
  }

  it("rejects a retry count that is not an integer >= 0") {
    for (bad <- Seq("-1", "abc", "", "1.5", " 3", "2147483648"))
      rejects(ConfigParser.RetriesKey, bad)(ConfigParser.retries)
  }

  it("rejects a timeout that is not an integer >= 1") {
    for (bad <- Seq("0", "-5", "ten", "", "1e3"))
      rejects(ConfigParser.TimeoutKey, bad)(ConfigParser.timeoutMs)
  }

  it("rejects a key-sanitising switch that is not true or false") {
    for (bad <- Seq("yes", "1", "", "on"))
      rejects(B.ReplaceSpecialCharactersKey, bad)(B.replaceSpecialCharacters)
  }

  it("a provider guard cannot be built with a negative retry count") {
    an[IllegalArgumentException] should be thrownBy new ConfigParser.RetryingPropertyProvider(
      ConfigParser.MapPropertyProvider(Map.empty), retries = -1)
  }
}
