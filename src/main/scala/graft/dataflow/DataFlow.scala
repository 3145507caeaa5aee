package graft.dataflow

import scala.util.{Success, Try}

/** Immutable DAG of named actions over labelled entities.
  *
  * Semantics follow the reference flow state machine
  * (/root/reference/waimak-core/src/main/scala/com/coxautodata/waimak/dataflow/DataFlow.scala:25-513):
  * executed actions leave `actions` and their outputs join `inputs`; tags add
  * control-edges; validation rejects duplicate outputs, unresolvable inputs
  * and label/tag cycles. Encoding is fresh: a single generic state record +
  * an F-bounded trait so concrete flows (Spark) can hook `onExecuted`.
  */
final case class FlowState[C <: FlowContext](
    inputs: FlowEntities,
    actions: Seq[FlowAction[C]],
    tagState: TagState,
    schedulingMeta: SchedulingMeta,
    executedActions: Seq[FlowAction[C]])

object FlowState {
  def empty[C <: FlowContext]: FlowState[C] =
    FlowState(FlowEntities.empty, Seq.empty, TagState.empty, SchedulingMeta.empty, Seq.empty)
}

trait DataFlow[Self <: DataFlow[Self, C], C <: FlowContext] { self: Self =>

  def state: FlowState[C]
  def context: C
  protected def withState(s: FlowState[C]): Self

  def inputs: FlowEntities = state.inputs
  def actions: Seq[FlowAction[C]] = state.actions

  // ------------------------------------------------------------- building ---

  def addAction[A <: FlowAction[C]](action: A): Self = {
    // an action without labels is ordered by tags alone: it needs a tag
    // dependency, or nothing would place it in the DAG
    require(action.outputLabels.nonEmpty || action.inputLabels.nonEmpty ||
      state.tagState.activeDependsOnTags.nonEmpty,
      s"Action [${action.actionName}] must have at least one input or output label, " +
        "or be added under a tag dependency")
    val known = state.actions.flatMap(_.outputLabels).toSet ++ state.inputs.labels
    action.outputLabels.foreach { l =>
      if (l.isEmpty) throw new FlowException(s"Action [${action.actionName}] has an empty output label")
      if (known.contains(l))
        throw new FlowException(s"Output label [$l] is already defined in the flow")
    }
    withState(state.copy(
      actions = state.actions :+ action,
      tagState = state.tagState.register(action.guid),
      schedulingMeta = state.schedulingMeta.register(action.guid)))
  }

  def addInput(label: String, value: Option[Any]): Self = {
    if (state.inputs.contains(label))
      throw new FlowException(s"Input label [$label] already exists in the flow")
    withState(state.copy(inputs = state.inputs.add(label, value)))
  }

  def map[R](f: Self => R): R = f(self)

  def mapOption[R >: Self](f: Self => Option[R]): R = f(self).getOrElse(self)

  def foldLeftOver[A, S >: Self <: DataFlow[Self, C]](over: Iterable[A])(f: (S, A) => S): S =
    over.foldLeft[S](self)(f)

  // ----------------------------------------------------- tags & scheduling ---

  /** All actions added inside `block` carry `tags`. */
  def tag(tags: String*)(block: Self => Self): Self = {
    val ts = state.tagState
    val tagged = withState(state.copy(tagState = ts.copy(activeTags = ts.activeTags ++ tags)))
    val after = block(tagged)
    after.withState(after.state.copy(
      tagState = after.state.tagState.copy(activeTags = ts.activeTags)))
  }

  /** All actions added inside `block` wait for every action tagged with any
    * of `depTags`. */
  def tagDependency(depTags: String*)(block: Self => Self): Self = {
    val ts = state.tagState
    val dep = withState(state.copy(
      tagState = ts.copy(activeDependsOnTags = ts.activeDependsOnTags ++ depTags)))
    val after = block(dep)
    after.withState(after.state.copy(
      tagState = after.state.tagState.copy(activeDependsOnTags = ts.activeDependsOnTags)))
  }

  /** Generic scoped scheduling-state mutation: every action added inside
    * `block` captures `mutate(currentState)`; the previous state is
    * restored afterwards (reference DataFlow.scala:263-268). Pools are one
    * instance of this; `context` carries anything a custom executor or
    * extension wants per action. */
  def schedulingMeta(mutate: SchedulingMetaState => SchedulingMetaState)(
      block: Self => Self): Self = {
    val prev = state.schedulingMeta.active
    val scoped = withState(state.copy(
      schedulingMeta = state.schedulingMeta.copy(active = mutate(prev))))
    val after = block(scoped)
    after.withState(after.state.copy(
      schedulingMeta = after.state.schedulingMeta.copy(active = prev)))
  }

  /** All actions added inside `block` run on execution pool `poolName`. */
  def executionPool(poolName: String)(block: Self => Self): Self =
    schedulingMeta(_.copy(poolName = Some(poolName)))(block)

  def poolOf(action: FlowAction[C]): String = state.schedulingMeta.poolOf(action.guid)

  def schedulingContextOf(action: FlowAction[C]): Option[Any] =
    state.schedulingMeta.contextOf(action.guid)

  // --------------------------------------------------------- interception ---

  /** Replace the action producing `outputLabel` with `wrap(original)`.
    * The wrapper inherits the original's tag metadata via its guid. */
  def interceptPostOutput(outputLabel: String)(wrap: FlowAction[C] => FlowAction[C]): Self = {
    val target = state.actions.find(_.outputLabels.contains(outputLabel)).getOrElse(
      throw new FlowException(s"No action produces label [$outputLabel]; cannot intercept"))
    replaceAction(target, wrap(target))
  }

  def replaceAction(original: FlowAction[C], replacement: FlowAction[C]): Self = {
    val idx = state.actions.indexWhere(_.guid == original.guid)
    if (idx < 0) throw new FlowException(
      s"Action [${original.actionName}/${original.guid}] not found in the flow")
    val meta = state.tagState.forAction(original.guid)
    val sched = state.schedulingMeta.actionStates.get(original.guid)
    withState(state.copy(
      actions = state.actions.updated(idx, replacement),
      tagState = state.tagState.copy(
        perAction = state.tagState.perAction - original.guid + (replacement.guid -> meta)),
      schedulingMeta = state.schedulingMeta.copy(
        actionStates = sched.fold(state.schedulingMeta.actionStates - original.guid)(s =>
          state.schedulingMeta.actionStates - original.guid + (replacement.guid -> s)))))
  }

  // ------------------------------------------------------------ execution ---

  /** State transition after `action` ran producing `outputs` (positional).
    * Concrete flows can observe via [[onExecuted]]. */
  def executed(action: FlowAction[C], outputs: core.ActionResult): Self = {
    if (outputs.size != action.outputLabels.size)
      throw new FlowException(
        s"Action [${action.actionName}] returned ${outputs.size} outputs, " +
          s"expected ${action.outputLabels.size}")
    val newInputs = action.outputLabels.zip(outputs)
      .foldLeft(state.inputs) { case (acc, (l, v)) => acc.add(l, v) }
    val next = withState(state.copy(
      actions = state.actions.filterNot(_.guid == action.guid),
      inputs = newInputs,
      executedActions = state.executedActions :+ action))
    next.onExecuted(action, outputs)
  }

  /** Hook for concrete flows (e.g. temp-view registration). */
  protected def onExecuted(action: FlowAction[C], outputs: core.ActionResult): Self = self

  /** Guids of actions whose tag dependencies are fully satisfied: no pending
    * action carries a tag this action depends on. */
  private def tagDepsSatisfied(action: FlowAction[C]): Boolean = {
    val deps = state.tagState.forAction(action.guid).dependsOnTags
    deps.isEmpty || !state.actions.exists { other =>
      other.guid != action.guid &&
        state.tagState.forAction(other.guid).tags.intersect(deps).nonEmpty
    }
  }

  /** Actions ready to run now, restricted to `availablePools` (all pools when
    * empty). */
  def nextRunnable(availablePools: Set[String] = Set.empty): Seq[FlowAction[C]] =
    state.actions.filter { a =>
      (availablePools.isEmpty || availablePools.contains(poolOf(a))) &&
        a.readiness(state.inputs) == ActionState.ReadyToRun &&
        tagDepsSatisfied(a)
    }

  // ----------------------------------------------------------- validation ---

  /** Validates the DAG. Concrete flows rewrite the flow first (commits,
    * caches) and add environment prep (temp folders) on top. */
  def prepareForExecution(): Try[Self] = isValidFlowDAG

  /** Post-run cleanup hook. */
  def finaliseExecution(): Try[Self] = Success(self)

  /** Validity: (1) non-empty, (2) every input label resolvable, (3) no label
    * appearing both as flow input and action output, (4) tag dependencies on
    * tags nobody carries are rejected, (5) no action depends on its own tag,
    * (6) no cycles through label or tag edges. */
  def isValidFlowDAG: Try[Self] = Try {
    if (state.actions.isEmpty && state.inputs.size == 0)
      throw new FlowException("Cannot execute an empty flow")

    val produced = state.actions.flatMap(_.outputLabels).toSet
    val available = produced ++ state.inputs.labels
    state.actions.foreach { a =>
      a.inputLabels.foreach { l =>
        if (!available.contains(l))
          throw new FlowException(
            s"Action [${a.actionName}] requires input label [$l] that no input or action provides")
      }
    }

    val inputClash = produced.intersect(state.inputs.labels)
    if (inputClash.nonEmpty)
      throw new FlowException(
        s"Labels defined both as flow inputs and action outputs: ${inputClash.toSeq.sorted.mkString(", ")}")

    val allTags = state.actions.flatMap(a => state.tagState.forAction(a.guid).tags).toSet
    state.actions.foreach { a =>
      val meta = state.tagState.forAction(a.guid)
      val dangling = meta.dependsOnTags.diff(allTags)
      if (dangling.nonEmpty)
        throw new FlowException(
          s"Action [${a.actionName}] depends on tags carried by no action: ${dangling.toSeq.sorted.mkString(", ")}")
      val selfDep = meta.tags.intersect(meta.dependsOnTags)
      if (selfDep.nonEmpty)
        throw new FlowException(
          s"Action [${a.actionName}] both carries and depends on tags: ${selfDep.toSeq.sorted.mkString(", ")}")
    }

    detectCycle()
    self
  }

  /** DFS cycle detection over the union of label edges (producer → consumer)
    * and tag edges (tagged → dependent). */
  private def detectCycle(): Unit = {
    val producerOf: Map[String, String] =
      state.actions.flatMap(a => a.outputLabels.map(_ -> a.guid)).toMap
    val byGuid = state.actions.map(a => a.guid -> a).toMap

    def edgesOf(guid: String): Seq[String] = {
      val a = byGuid(guid)
      val labelEdges = a.inputLabels.flatMap(producerOf.get)
      val meta = state.tagState.forAction(guid)
      val tagEdges =
        if (meta.dependsOnTags.isEmpty) Seq.empty
        else state.actions.collect {
          case other if other.guid != guid &&
            state.tagState.forAction(other.guid).tags.intersect(meta.dependsOnTags).nonEmpty =>
            other.guid
        }
      (labelEdges ++ tagEdges).distinct
    }

    val WHITE = 0; val GREY = 1; val BLACK = 2
    val color = scala.collection.mutable.Map(byGuid.keys.map(_ -> WHITE).toSeq: _*)

    def visit(guid: String, path: List[String]): Unit = {
      color(guid) = GREY
      edgesOf(guid).foreach { dep =>
        color(dep) match {
          case WHITE => visit(dep, guid :: path)
          case GREY =>
            val names = (dep :: guid :: path).reverse.map(g => byGuid(g).actionName)
            throw new FlowException(s"Cycle detected in flow DAG: ${names.mkString(" -> ")}")
          case _ => ()
        }
      }
      color(guid) = BLACK
    }

    byGuid.keys.foreach(g => if (color(g) == WHITE) visit(g, Nil))
  }
}
