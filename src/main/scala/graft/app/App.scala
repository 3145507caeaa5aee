package graft.app

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import scala.reflect.runtime.{universe => ru}

import graft.configuration.ConfigParser
import graft.dataflow.FlowException
import graft.dataflow.spark.{Graft, SparkDataFlow}

/** Sandboxed environment conventions: data under
  * `{uri}/data/{environment}/{project}/{branch}` and a database named
  * `{environment}_{project}_{branch}` (reference waimak-app/.../Env.scala:12-204). */
trait Env {
  def environment: String
  def project: String
  def branch: String
  def uri: String

  def normalised(s: String): String = s.toLowerCase.replaceAll("[^a-z0-9_]", "_")

  def basePath: String =
    s"$uri/data/${normalised(environment)}/${normalised(project)}/${normalised(branch)}"

  def create(spark: SparkSession): Unit = {
    val fs = new Path(basePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(basePath))
  }

  def cleanup(spark: SparkSession): Unit = {
    val fs = new Path(basePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(basePath), true)
  }
}

final case class BaseEnv(environment: String, project: String, branch: String,
    uri: String) extends Env

/** Environment with a per-sandbox database. */
final case class HiveEnv(environment: String, project: String, branch: String,
    uri: String) extends Env {
  def baseDatabaseName: String =
    s"${normalised(environment)}_${normalised(project)}_${normalised(branch)}"

  override def create(spark: SparkSession): Unit = {
    super.create(spark)
    spark.sql(s"create database if not exists $baseDatabaseName")
  }

  override def cleanup(spark: SparkSession): Unit = {
    spark.sql(s"drop database if exists $baseDatabaseName cascade")
    super.cleanup(spark)
  }
}

/** An application: parse env from conf under `spark.graft.environment.`,
  * ensure it exists, run. Reference: SparkApp.scala:23-90, WaimakApp.scala:14-23. */
abstract class SparkApp[E <: Env: ru.TypeTag] {

  def confPrefix: String = "spark.graft.environment."

  def parseEnv(spark: SparkSession): E = parseEnv(spark, confPrefix)

  def parseEnv(spark: SparkSession, prefix: String): E = ConfigParser[E](spark, prefix)

  /** Create/destroy the app's environment, parsed from an explicit conf
    * prefix — the [[EnvironmentManager]] entry points (reference
    * SparkApp.scala:45-60). */
  def createEnv(spark: SparkSession, prefix: String): Unit =
    parseEnv(spark, prefix).create(spark)

  def cleanupEnv(spark: SparkSession, prefix: String): Unit =
    parseEnv(spark, prefix).cleanup(spark)

  def run(spark: SparkSession): Unit = {
    val env = parseEnv(spark)
    env.create(spark)
    runWithEnv(spark, env)
  }

  protected def runWithEnv(spark: SparkSession, env: E): Unit
}

/** Conf-driven environment create/cleanup across N sandboxes — run once per
  * deploy (create) or branch teardown (cleanup), no code per environment.
  * Configuration (reference EnvironmentManager.scala:18-44):
  * {{{
  * spark.graft.environment.ids=dev1,dev2
  * spark.graft.environment.action=create | cleanup
  * spark.graft.environment.<id>.appClassName=<SparkApp subclass with a no-arg ctor>
  * spark.graft.environment.<id>.<env fields...>
  * }}} */
object EnvironmentManager {

  val DefaultConfRoot = "spark.graft.environment."

  def performEnvironmentAction(spark: SparkSession,
      confRoot: String = DefaultConfRoot): Unit = {
    val ids = spark.conf.getOption(s"${confRoot}ids")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(throw new FlowException(s"${confRoot}ids is not set"))
    val action = spark.conf.getOption(s"${confRoot}action")
      .getOrElse(throw new FlowException(s"${confRoot}action is not set"))
    ids.foreach(performEnvironmentActionForID(spark, _, action, confRoot))
  }

  def performEnvironmentActionForID(spark: SparkSession, id: String,
      action: String, confRoot: String = DefaultConfRoot): Unit = {
    val prefix = s"$confRoot$id."
    val className = spark.conf.getOption(s"${prefix}appClassName")
      .getOrElse(throw new FlowException(s"${prefix}appClassName is not set"))
    val app = instantiateApp(className)
    action.toLowerCase match {
      case "create" => app.createEnv(spark, prefix)
      case "cleanup" => app.cleanupEnv(spark, prefix)
      case other =>
        throw new UnsupportedOperationException(s"Unsupported environment action: $other")
    }
  }

  def instantiateApp(className: String): SparkApp[_] =
    Class.forName(className).getDeclaredConstructor().newInstance()
      .asInstanceOf[SparkApp[_]]
}

/** Flow-based application template: implement `flow`, the template executes. */
abstract class GraftApp[E <: Env: ru.TypeTag](maxParallelActions: Int = 20)
  extends SparkApp[E] {

  def flow(emptyFlow: SparkDataFlow, env: E): SparkDataFlow

  protected def runWithEnv(spark: SparkSession, env: E): Unit = {
    val built = flow(Graft.sparkFlow(spark, s"${env.basePath}/.tmp"), env)
    Graft.sparkExecutor(maxParallelActions).execute(built)
  }
}

/** Run several flow-producing apps as ONE flow with declared dependencies:
  * each app's actions are tagged with its name and tag-depend on its
  * dependencies, so independent apps parallelise and dependents wait.
  * Configuration (reference MultiAppRunner.scala:29-74):
  * `spark.graft.apprunner.apps=a,b`, `spark.graft.apprunner.<app>.dependencies=...`.
  */
object MultiAppRunner {

  trait FlowApp { def flow(base: SparkDataFlow): SparkDataFlow }

  def runAll(spark: SparkSession, apps: Map[String, FlowApp],
      dependencies: Map[String, Seq[String]],
      maxParallelActions: Int = 20): Unit = {
    dependencies.foreach { case (app, deps) =>
      if (!apps.contains(app)) throw new FlowException(s"Unknown app in dependencies: $app")
      deps.foreach(d => if (!apps.contains(d))
        throw new FlowException(s"App [$app] depends on unknown app [$d]"))
    }
    // topological build order (deps first, name-sorted within a level) so a
    // dependency on an app that contributed ZERO actions (feature-flagged
    // off) can be rewritten — a tag dependency on a tag nobody carries fails
    // DAG validation
    val order = scala.collection.mutable.ArrayBuffer[String]()
    val remaining = scala.collection.mutable.Set(apps.keys.toSeq: _*)
    while (remaining.nonEmpty) {
      val ready = remaining.filter(a =>
        dependencies.getOrElse(a, Seq.empty).forall(d => !remaining.contains(d)))
        .toSeq.sorted
      if (ready.isEmpty)
        throw new FlowException(
          s"Cyclic app dependencies among: ${remaining.toSeq.sorted.mkString(", ")}")
      ready.foreach { r => order += r; remaining -= r }
    }
    // substitutes(d) = the contributing apps a dependent of d must wait on:
    // d itself when it produced actions, otherwise d's own substitutes — so
    // A->B->C with B flagged off still orders A after C instead of dropping
    // the transitive edge
    val substitutes = scala.collection.mutable.Map[String, Seq[String]]()
    val combined = order.foldLeft(Graft.sparkFlow(spark)) { (fl, name) =>
      val depApps = dependencies.getOrElse(name, Seq.empty)
        .flatMap(substitutes).distinct
      val deps = depApps.map(d => s"app-$d")
      val before = fl.actions.size
      val withDeps =
        if (deps.isEmpty) fl.tag(s"app-$name")(apps(name).flow)
        else fl.tagDependency(deps: _*)(_.tag(s"app-$name")(apps(name).flow))
      substitutes(name) = if (withDeps.actions.size > before) Seq(name) else depApps
      withDeps
    }
    Graft.sparkExecutor(maxParallelActions).execute(combined)
  }
}
