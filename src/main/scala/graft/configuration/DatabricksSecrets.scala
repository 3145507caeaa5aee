package graft.configuration

import scala.util.{Success, Try}

import org.apache.spark.sql.SparkSession

/** Secret-scope client seam for
  * [[DatabricksSecretsPropertyProviderBuilder]]: the production binding
  * resolves `com.databricks.dbutils_v1.DBUtilsHolder.dbutils.secrets`
  * REFLECTIVELY (present on any Databricks cluster's driver classpath,
  * absent everywhere else — this module carries NO vendor dependency and
  * compiles/tests offline); specs and alternative runtimes inject an
  * implementation via
  * [[DatabricksSecretsPropertyProviderBuilder.clientOverride]]. Mirrors the
  * vendor surface: `get` THROWS on a missing scope/key (the provider turns
  * that into try-next-scope), `listScopes` enumerates scope names. */
trait SecretScopeClient {
  def listScopes(): Seq[String]
  def get(scope: String, key: String): String
}

/** Property provider over Databricks secret scopes — the last
  * reference-parity configuration source (reference
  * waimak-configuration-databricks/.../DatabricksSecretsPropertyProviderBuilder.scala:20-63).
  *
  * Keys are looked up across a comma-separated scope list
  * (`spark.graft.config.databricksSecretScopes`; unset = every scope the
  * runtime lists), first hit wins. Secret-store backends that reject
  * special characters get sanitised keys: every char outside
  * `[a-zA-Z0-9-]` becomes `-`
  * (`spark.graft.config.databricksReplaceSpecialCharactersInKey`,
  * default true — same contract as the reference).
  *
  * Use directly via `ConfigParser(..., extraProviders = Seq(
  * DatabricksSecretsPropertyProviderBuilder.getPropertyProvider(spark)))`,
  * or declaratively by listing
  * `graft.configuration.DatabricksSecretsPropertyProviderBuilder` in
  * `spark.graft.config.propertyProviderBuilderModules` — every provider
  * built that way is wrapped in the parser's timeout/retry guard, so a
  * hung secret store cannot hang app start. */
object DatabricksSecretsPropertyProviderBuilder extends PropertyProviderBuilder {

  val ScopesKey = "spark.graft.config.databricksSecretScopes"
  val ReplaceSpecialCharactersKey =
    "spark.graft.config.databricksReplaceSpecialCharactersInKey"

  def replaceSpecialCharacters(value: Option[String]): Boolean =
    ConfigParser.setting(ReplaceSpecialCharactersKey, value, true, "true or false")(
      _.toBooleanOption)

  /** Injection point for tests / non-Databricks runtimes. */
  @volatile var clientOverride: Option[SecretScopeClient] = None

  private def client(): SecretScopeClient =
    clientOverride.getOrElse(reflectiveClient)

  /** One-time reflective binding to the vendor holder. Fails with a clear
    * message when invoked OFF a Databricks runtime (only then — building
    * the provider is safe anywhere; the binding is per-lookup lazy). */
  private lazy val reflectiveClient: SecretScopeClient = {
    val secrets =
      try {
        val holderCls = Class.forName("com.databricks.dbutils_v1.DBUtilsHolder$")
        val holder = holderCls.getField("MODULE$").get(null)
        val dbutils = holderCls.getMethod("dbutils").invoke(holder)
        dbutils.getClass.getMethod("secrets").invoke(dbutils)
      } catch {
        case e: ClassNotFoundException => throw new ConfigException(
          "Databricks secret scopes requested but com.databricks.dbutils_v1 " +
            "is not on the classpath — this provider only works on a " +
            s"Databricks runtime (or with clientOverride injected): $e")
      }
    def call(name: String, args: AnyRef*): AnyRef =
      try secrets.getClass.getMethods.find(m => m.getName == name &&
          m.getParameterCount == args.length)
        .getOrElse(throw new ConfigException(
          s"dbutils.secrets has no $name/${args.length} — vendor API drift"))
        .invoke(secrets, args: _*)
      catch {
        case e: java.lang.reflect.InvocationTargetException => throw e.getCause
      }
    new SecretScopeClient {
      override def listScopes(): Seq[String] =
        call("listScopes").asInstanceOf[Seq[AnyRef]]
          .map(s => s.getClass.getMethod("getName").invoke(s).asInstanceOf[String])
      override def get(scope: String, key: String): String =
        call("get", scope, key).asInstanceOf[String]
    }
  }

  override def getPropertyProvider(spark: SparkSession): ConfigParser.PropertyProvider = {
    val sanitize = replaceSpecialCharacters(spark.conf.getOption(ReplaceSpecialCharactersKey))
    val confScopes = spark.conf.getOption(ScopesKey)
      .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
    new ConfigParser.PropertyProvider {
      override def get(key: String): Option[String] = {
        val k = if (sanitize) key.replaceAll("[^a-zA-Z0-9-]", "-") else key
        val c = client()
        // scope list re-evaluated per lookup (scopes can appear at runtime;
        // same behavior as the reference's per-get stream)
        val scopes = confScopes.getOrElse(c.listScopes())
        scopes.iterator
          .map(s => Try(c.get(s, k)))
          .collectFirst { case Success(v) => v }
      }
    }
  }
}
