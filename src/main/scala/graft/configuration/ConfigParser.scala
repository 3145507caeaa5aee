package graft.configuration

import org.apache.spark.sql.SparkSession

import scala.reflect.runtime.{universe => ru}

/** Typed case-class configuration parsing from Spark conf / properties.
  *
  * Reference semantics (waimak-core/.../configuration/CaseClassConfigParser.scala:70-235):
  * for case class `C(field1: T1 = d1, ...)` and prefix `p`, each field is
  * resolved as key `p + fieldName` in order: SparkConf, then additional
  * properties, then the constructor default. Supported types: String, Int,
  * Long, Double, Boolean, Option[T] (missing -> None) and Seq[T]
  * (comma-separated, custom separator per call).
  */
object ConfigParser {

  /** Provider abstraction so secret stores can plug in (reference
    * PropertyProvider). */
  trait PropertyProvider { def get(key: String): Option[String] }

  final case class MapPropertyProvider(props: Map[String, String]) extends PropertyProvider {
    def get(key: String): Option[String] = props.get(key)
  }

  /** Timeout + retry around an external (network-backed secret store)
    * provider — reference CaseClassConfigParser.scala:47-53; defaults match
    * its `spark.waimak.config.propertyProviderGetTimeoutMs/-GetRetries`
    * (10 s / 3 retries). A hung store must not hang the whole app start. */
  // dedicated daemon pool for provider calls: a hung store must not occupy
  // the global ExecutionContext (its CPU-sized pool would starve and make
  // unrelated lookups time out spuriously)
  private lazy val providerEc = scala.concurrent.ExecutionContext.fromExecutor(
    java.util.concurrent.Executors.newCachedThreadPool { r =>
      val t = new Thread(r, "graft-config-provider"); t.setDaemon(true); t
    })

  final class RetryingPropertyProvider(inner: PropertyProvider,
      timeoutMs: Long = 10000L, retries: Int = 3) extends PropertyProvider {
    require(timeoutMs >= 1 && retries >= 0,
      s"need timeoutMs >= 1 and retries >= 0, got $timeoutMs and $retries")
    def get(key: String): Option[String] = {
      var attempt = 0
      var last: Throwable = null
      while (attempt <= retries) {
        try {
          val f = scala.concurrent.Future(inner.get(key))(providerEc)
          return scala.concurrent.Await.result(
            f, scala.concurrent.duration.Duration(timeoutMs, "ms"))
        } catch {
          case e: InterruptedException => throw e // cancellation is not a retry
          case scala.util.control.NonFatal(e) => last = e; attempt += 1
        }
      }
      throw new ConfigException(
        s"Property provider failed for [$key] after ${retries + 1} attempts: $last")
    }
  }

  val TimeoutKey = "spark.graft.config.propertyProviderGetTimeoutMs"
  val RetriesKey = "spark.graft.config.propertyProviderGetRetries"
  /** Comma-separated object names of [[PropertyProviderBuilder]]s to load
    * reflectively — the declarative provider wiring of the reference
    * (`CONFIG_PROPERTY_PROVIDER_BUILDER_MODULES`,
    * waimak-core/.../configuration/CaseClassConfigParser.scala:33-40). */
  val BuilderModulesKey = "spark.graft.config.propertyProviderBuilderModules"

  /** The value of conf `key` through `parse`: absent means `default`; a
    * value `parse` rejects throws, naming the key and the value (a negative
    * retry count would otherwise fail every lookup without calling the
    * provider). */
  def setting[A](key: String, value: Option[String], default: A,
      expected: String)(parse: String => Option[A]): A =
    value.fold(default)(v => parse(v).getOrElse(throw new IllegalArgumentException(
      s"$key must be $expected, got '$v'")))

  def timeoutMs(value: Option[String]): Long =
    setting(TimeoutKey, value, 10000L, "an integer >= 1")(_.toLongOption.filter(_ >= 1))

  def retries(value: Option[String]): Int =
    setting(RetriesKey, value, 3, "an integer >= 0")(_.toIntOption.filter(_ >= 0))

  /** Reflectively load the builder OBJECTS named in [[BuilderModulesKey]]
    * (e.g. `graft.configuration.DatabricksSecretsPropertyProviderBuilder`). */
  def buildersFromConf(spark: SparkSession): Seq[PropertyProviderBuilder] =
    spark.conf.getOption(BuilderModulesKey).toSeq
      .flatMap(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
      .map { name =>
        try Class.forName(name + "$").getField("MODULE$").get(null)
          .asInstanceOf[PropertyProviderBuilder]
        catch {
          // ReflectiveOperationException covers ClassNotFound AND the
          // NoSuchField a plain class (no MODULE$) raises; a failing object
          // initializer surfaces as ExceptionInInitializerError — all should
          // read as the same friendly misconfiguration, not a bare throw
          case e: ReflectiveOperationException => throw new ConfigException(
            s"Property provider builder object [$name] not found: $e")
          case e: ExceptionInInitializerError => throw new ConfigException(
            s"Property provider builder object [$name] failed to initialise: $e")
          case e: ClassCastException => throw new ConfigException(
            s"[$name] is not a PropertyProviderBuilder: $e")
        }
      }

  def apply[A: ru.TypeTag](spark: SparkSession, prefix: String,
      additional: Map[String, String] = Map.empty,
      separator: String = ",",
      extraProviders: Seq[PropertyProvider] = Seq.empty): A = {
    val timeout = timeoutMs(spark.conf.getOption(TimeoutKey))
    val tries = retries(spark.conf.getOption(RetriesKey))
    val configured = buildersFromConf(spark).map(_.getPropertyProvider(spark))
    val providers: Seq[PropertyProvider] = Seq(
      new PropertyProvider {
        def get(key: String): Option[String] = spark.conf.getOption(key)
      },
      MapPropertyProvider(additional)) ++
      (extraProviders ++ configured).map(new RetryingPropertyProvider(_, timeout, tries))
    parse[A](k => providers.view.flatMap(_.get(k)).headOption, prefix, separator)
  }

  def fromMap[A: ru.TypeTag](props: Map[String, String], prefix: String = "",
      separator: String = ","): A =
    parse[A](props.get, prefix, separator)

  def parse[A: ru.TypeTag](lookup: String => Option[String], prefix: String,
      separator: String): A = {
    val tpe = ru.typeOf[A]
    val mirror = ru.runtimeMirror(getClass.getClassLoader)
    val classSym = tpe.typeSymbol.asClass
    require(classSym.isCaseClass, s"${tpe} is not a case class")
    val classMirror = mirror.reflectClass(classSym)
    val ctor = tpe.decl(ru.termNames.CONSTRUCTOR).asMethod
    val ctorMirror = classMirror.reflectConstructor(ctor)
    val companion = mirror.reflectModule(classSym.companion.asModule).instance
    val companionMirror = mirror.reflect(companion)

    val args = ctor.paramLists.flatten.zipWithIndex.map { case (param, i) =>
      val name = param.name.decodedName.toString
      val key = prefix + name
      val paramType = param.typeSignature
      lookup(key) match {
        case Some(raw) => convert(raw, paramType, separator)
        case None if paramType.typeConstructor =:= ru.typeOf[Option[_]].typeConstructor =>
          // a declared default (e.g. `x: Option[String] = Some("a")`) wins
          // over the implicit None — matching the documented resolution order
          defaultFor(companionMirror, i + 1).getOrElse(None)
        case None =>
          defaultFor(companionMirror, i + 1).getOrElse(
            throw new ConfigException(s"No value for required configuration key [$key]"))
      }
    }
    ctorMirror(args: _*).asInstanceOf[A]
  }

  private def defaultFor(companionMirror: ru.InstanceMirror, idx: Int): Option[Any] = {
    val name = s"apply$$default$$$idx"
    val sym = companionMirror.symbol.typeSignature.member(ru.TermName(name))
    if (sym == ru.NoSymbol) None
    else Some(companionMirror.reflectMethod(sym.asMethod).apply())
  }

  private def convert(raw: String, tpe: ru.Type, separator: String): Any = {
    val optionCtor = ru.typeOf[Option[_]].typeConstructor
    val seqCtor = ru.typeOf[Seq[_]].typeConstructor
    val listCtor = ru.typeOf[List[_]].typeConstructor
    if (tpe.typeConstructor =:= optionCtor)
      Some(convert(raw, tpe.typeArgs.head, separator))
    else if (tpe.typeConstructor =:= seqCtor || tpe.typeConstructor =:= listCtor) {
      val inner = tpe.typeArgs.head
      // literal separator, not a regex — "|" or "." must not explode the value
      val parts =
        if (raw.isEmpty) Seq.empty[String]
        else raw.split(java.util.regex.Pattern.quote(separator)).toSeq
      val converted = parts.map(p => convert(p.trim, inner, separator))
      if (tpe.typeConstructor =:= listCtor) converted.toList else converted
    }
    else if (tpe =:= ru.typeOf[String]) raw
    else if (tpe =:= ru.typeOf[Int]) raw.toInt
    else if (tpe =:= ru.typeOf[Long]) raw.toLong
    else if (tpe =:= ru.typeOf[Double]) raw.toDouble
    else if (tpe =:= ru.typeOf[Boolean]) raw.toBoolean
    else throw new ConfigException(s"Unsupported configuration field type: $tpe")
  }
}

class ConfigException(message: String) extends RuntimeException(message)

/** Contract for declaratively-wired property providers (reference
  * PropertyProviderBuilder): an OBJECT constructing a provider from the
  * session, loaded by name via [[ConfigParser.BuilderModulesKey]] and
  * wrapped in the parser's timeout/retry guard. */
trait PropertyProviderBuilder {
  def getPropertyProvider(spark: SparkSession): ConfigParser.PropertyProvider
}
