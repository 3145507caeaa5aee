package graft.dataflow.spark

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Dataset, SparkSession}

import graft.dataflow._

import scala.util.{Success, Try}

/** Spark-side execution context: session, optional temp folder for
  * checkpoint-style caching, Hadoop FS handle, fair-scheduler pool routing.
  * Reference surface: SparkFlowContext.scala:22. */
final case class SparkFlowContext(spark: SparkSession, tempFolder: Option[Path] = None)
  extends FlowContext {

  lazy val fileSystem: FileSystem =
    FileSystem.get(spark.sparkContext.hadoopConfiguration)

  override def setPoolIntoContext(poolName: String): Unit =
    spark.sparkContext.setLocalProperty("spark.scheduler.pool",
      if (poolName == SchedulingMeta.DefaultPool) null else poolName)

  /** Thread-local: every Spark job the action triggers shows its flow-action
    * description in the UI / event logs — on a shared cluster this is how an
    * operator maps a slow stage back to the flow step that issued it. */
  override def reportActionStarted(action: graft.dataflow.FlowAction[_]): Unit =
    spark.sparkContext.setJobDescription(s"graft: ${action.description}")
}

/** Concrete Spark flow. Adds to the generic DAG:
  *   - two rewrites at prepare time, commit expansion ([[CommitPlan]]) then
  *     cache planning ([[CachePlan]]),
  *   - temp-folder lifecycle (delete+mkdirs on prepare, delete on finalise
  *     unless `removeTempAfterExecution` is off, reference
  *     SparkDataFlow.scala:88-122),
  *   - temp-view registration for labels consumed by `sql` actions, done in
  *     the scheduler thread inside `executed` (reference
  *     SparkDataFlow.scala:76-86),
  *   - flow merge `++` (reference SparkDataFlow.scala:133-150).
  */
final case class SparkDataFlow(
    state: FlowState[SparkFlowContext],
    context: SparkFlowContext,
    sqlTables: Set[String] = Set.empty,
    commitPlan: CommitPlan = CommitPlan(),
    cachePlan: CachePlan = CachePlan(),
    removeTempAfterExecution: Boolean = true)
  extends DataFlow[SparkDataFlow, SparkFlowContext] {

  def spark: SparkSession = context.spark

  protected def withState(s: FlowState[SparkFlowContext]): SparkDataFlow = copy(state = s)

  /** Mark labels as needed by SQL actions (registered as temp views when
    * produced). Label must parse as a table identifier. */
  def registerSqlTables(labels: Seq[String]): SparkDataFlow = {
    labels.foreach { l =>
      Try(spark.sessionState.sqlParser.parseTableIdentifier(l)).getOrElse(
        throw new FlowException(
          s"Label [$l] is not a valid Spark SQL table name; rename it to use sql actions"))
    }
    copy(sqlTables = sqlTables ++ labels)
  }

  override protected def onExecuted(
      action: FlowAction[SparkFlowContext],
      outputs: core.ActionResult): SparkDataFlow = {
    action.outputLabels.zip(outputs).foreach {
      case (label, Some(ds: Dataset[_])) if sqlTables.contains(label) =>
        ds.createOrReplaceTempView(label)
      case _ => ()
    }
    this
  }

  /** Expands commits first, so that cache elision counts the readers the
    * staging actions add; then applies caches; then validates the DAG and
    * prepares the temp folder. Both plans are spent by the rewrite, so
    * preparing a prepared flow again adds no action. */
  override def prepareForExecution(): Try[SparkDataFlow] = Try {
    val (expanded, committed) = commitPlan.expand(this)
    cachePlan.applyTo(expanded, committed)
  }.flatMap(_.isValidFlowDAG).map { flow =>
    flow.context.tempFolder.foreach { tmp =>
      val fs = flow.context.fileSystem
      if (fs.exists(tmp)) fs.delete(tmp, true)
      fs.mkdirs(tmp)
    }
    // inputs present at build time may also feed sql actions
    flow.inputs.entities.foreach {
      case (label, Some(ds: Dataset[_])) if flow.sqlTables.contains(label) =>
        ds.createOrReplaceTempView(label)
      case _ => ()
    }
    flow
  }

  override def finaliseExecution(): Try[SparkDataFlow] = {
    if (removeTempAfterExecution)
      context.tempFolder.foreach(tmp => context.fileSystem.delete(tmp, true))
    Success(this)
  }

  /** Merge two flows built on the same session: union of inputs, actions,
    * tags, pools, sql tables, commits and caches. */
  def ++(other: SparkDataFlow): SparkDataFlow = {
    val dupLabels = state.actions.flatMap(_.outputLabels)
      .intersect(other.state.actions.flatMap(_.outputLabels))
    if (dupLabels.nonEmpty)
      throw new FlowException(s"Cannot merge flows producing the same labels: ${dupLabels.mkString(", ")}")
    copy(
      state = FlowState(
        inputs = state.inputs ++ other.state.inputs,
        actions = state.actions ++ other.state.actions,
        tagState = TagState(
          activeTags = Set.empty,
          activeDependsOnTags = Set.empty,
          perAction = state.tagState.perAction ++ other.state.tagState.perAction),
        schedulingMeta = SchedulingMeta(SchedulingMetaState.empty,
          state.schedulingMeta.actionStates ++ other.state.schedulingMeta.actionStates),
        executedActions = state.executedActions ++ other.state.executedActions),
      sqlTables = sqlTables ++ other.sqlTables,
      commitPlan = commitPlan.merge(other.commitPlan),
      cachePlan = cachePlan.merge(other.cachePlan))
  }
}

/** Entry points, mirroring the reference builder (Waimak.scala:37-55). */
object Graft {

  def sparkFlow(spark: SparkSession): SparkDataFlow =
    sparkFlow(spark, None)

  def sparkFlow(spark: SparkSession, tempFolder: String): SparkDataFlow =
    sparkFlow(spark, Some(new Path(tempFolder)))

  def sparkFlow(spark: SparkSession, tempFolder: Option[Path]): SparkDataFlow =
    SparkDataFlow(FlowState.empty[SparkFlowContext], SparkFlowContext(spark, tempFolder))

  def sparkExecutor(maxParallelActions: Int = 20): ParallelExecutor[SparkFlowContext] =
    new ParallelExecutor[SparkFlowContext](maxParallelActions)

  /** One ready action at a time, in flow order. */
  def sequentialExecutor: FlowExecutor[SparkFlowContext] =
    new ParallelExecutor[SparkFlowContext](1, priority = PriorityStrategies.asInFlow)
}
