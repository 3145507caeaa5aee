package graft.dataflow

import scala.reflect.ClassTag
import scala.util.Try

/** Core vocabulary of the dataflow DAG.
  *
  * Mirrors the reference's framework semantics (labels, entities with
  * "produced but empty", action readiness, tags, execution pools — see
  * /root/reference/waimak-core/src/main/scala/com/coxautodata/waimak/dataflow/DataFlowAction.scala:14-153
  * and DataFlow.scala:537-618) with a fresh, simpler encoding.
  */
object core {
  /** Outputs of one action, positionally matching `outputLabels`; `None`
    * means "produced but empty". */
  type ActionResult = Seq[Option[Any]]
}

/** Execution context handed to every action. Concrete flows extend it (the
  * Spark flow carries the SparkSession and temp folder). */
trait FlowContext {
  def setPoolIntoContext(poolName: String): Unit = ()
  def reportActionStarted(action: FlowAction[_]): Unit = ()
}

object EmptyFlowContext extends FlowContext

/** Readiness of an action w.r.t. currently available entities. */
sealed trait ActionState
object ActionState {
  /** At least one input label has not been produced yet. */
  case object RequiresInput extends ActionState
  /** All inputs produced, but some are empty and the action demands all. */
  case object ExpectedInputIsEmpty extends ActionState
  case object ReadyToRun extends ActionState
}

/** Immutable map of labelled entities. `Some(v)` = produced value,
  * `None` = produced-but-empty. */
final case class FlowEntities(entities: Map[String, Option[Any]]) {

  def labels: Set[String] = entities.keySet

  def contains(label: String): Boolean = entities.contains(label)

  def get[T](label: String)(implicit ct: ClassTag[T]): T =
    getOption[T](label).getOrElse(
      throw new FlowException(s"Entity [$label] is empty, expected a value of type ${ct.runtimeClass.getName}"))

  def getOption[T](label: String)(implicit ct: ClassTag[T]): Option[T] =
    entities.get(label) match {
      case None => throw new FlowException(s"Entity [$label] does not exist")
      case Some(None) => None
      case Some(Some(v)) =>
        if (ct.runtimeClass.isInstance(v) || ct == ClassTag.Any) Some(v.asInstanceOf[T])
        else throw new FlowException(
          s"Entity [$label] of type ${v.getClass.getName} cannot be cast to ${ct.runtimeClass.getName}")
    }

  def filterLabels(labels: Seq[String]): FlowEntities =
    FlowEntities(entities.view.filterKeys(labels.contains).toMap)

  def add(label: String, value: Option[Any]): FlowEntities =
    FlowEntities(entities + (label -> value))

  def ++(other: FlowEntities): FlowEntities = FlowEntities(entities ++ other.entities)

  def size: Int = entities.size

  def isEmptyLabel(label: String): Boolean = entities.get(label).exists(_.isEmpty)
}

object FlowEntities {
  val empty: FlowEntities = FlowEntities(Map.empty)
}

class FlowException(message: String, cause: Throwable = null)
  extends RuntimeException(message, cause)

/** A node of the DAG: consumes `inputLabels`, produces `outputLabels`.
  *
  * @tparam C context type the action needs at run time
  */
trait FlowAction[C <: FlowContext] {

  /** Stable unique id; survives interception (interceptors reuse it for
    * scheduling metadata lookups). */
  val guid: String = java.util.UUID.randomUUID().toString

  def inputLabels: List[String]
  def outputLabels: List[String]

  /** When false, the action may run with empty (`None`) inputs. */
  val requiresAllInputs: Boolean = true

  def performAction(inputs: FlowEntities, context: C): Try[core.ActionResult]

  def actionName: String = getClass.getSimpleName

  def description: String =
    s"Action: $actionName Inputs: ${inputLabels.mkString("[", ",", "]")} Outputs: ${outputLabels.mkString("[", ",", "]")}"

  /** Readiness given currently produced entities. */
  def readiness(produced: FlowEntities): ActionState = {
    val missing = inputLabels.exists(l => !produced.contains(l))
    if (missing) ActionState.RequiresInput
    else if (requiresAllInputs && inputLabels.exists(produced.isEmptyLabel)) ActionState.ExpectedInputIsEmpty
    else ActionState.ReadyToRun
  }
}

/** Tag bookkeeping: `tags` carried by an action, `dependsOnTags` it must wait
  * for. Control-dependencies without data edges. */
final case class ActionTagMeta(tags: Set[String], dependsOnTags: Set[String])

final case class TagState(
    activeTags: Set[String],
    activeDependsOnTags: Set[String],
    perAction: Map[String, ActionTagMeta]) {

  def register(guid: String): TagState =
    copy(perAction = perAction + (guid -> ActionTagMeta(activeTags, activeDependsOnTags)))

  def forAction(guid: String): ActionTagMeta =
    perAction.getOrElse(guid, ActionTagMeta(Set.empty, Set.empty))
}

object TagState {
  val empty: TagState = TagState(Set.empty, Set.empty, Map.empty)
}

/** Per-action scheduling state: the execution pool plus an arbitrary
  * caller-owned context value — the generic scoped-mutation surface
  * (reference DataFlow.scala:563-620's SchedulingMeta/SchedulingMetaState).
  * Executors route pools; the context rides along for custom executors
  * and extensions to interpret. */
final case class SchedulingMetaState(poolName: Option[String] = None,
    context: Option[Any] = None)

object SchedulingMetaState {
  val empty: SchedulingMetaState = SchedulingMetaState()
}

/** Scheduling bookkeeping: the state ACTIVE while actions are being added
  * (scoped by `schedulingMeta`/`executionPool` blocks) and the captured
  * state per action guid. */
final case class SchedulingMeta(active: SchedulingMetaState,
    actionStates: Map[String, SchedulingMetaState]) {
  def register(guid: String): SchedulingMeta =
    if (active == SchedulingMetaState.empty) this
    else copy(actionStates = actionStates + (guid -> active))

  def poolOf(guid: String): String =
    actionStates.get(guid).flatMap(_.poolName).getOrElse(SchedulingMeta.DefaultPool)

  def contextOf(guid: String): Option[Any] =
    actionStates.get(guid).flatMap(_.context)
}

object SchedulingMeta {
  val DefaultPool = "DEFAULT"
  val empty: SchedulingMeta = SchedulingMeta(SchedulingMetaState.empty, Map.empty)
}
