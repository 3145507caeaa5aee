package graft.dataflow.spark

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Dataset, SaveMode}

import graft.dataflow._
import graft.metastore.HadoopDBConnector

/** Transactional multi-label publish.
  *
  * `commit(name)(labels*)` registers labels under a commit name;
  * `push(name)(committer)` binds the committer. At prepare time the
  * [[CommitPlan]] expands each commit into three tag-fenced phases —
  * stage (write every label to the flow temp folder), move (atomic renames
  * into the destination), finish (cleanup + metastore DDLs) — so the
  * scheduler cannot start moving before all staging succeeded.
  * Reference: dataflow/CommitMetadataExtension.scala:27-43,
  * spark/ParquetDataCommitter.scala:31-218, spark/SparkDataFlow.scala:154-204.
  */
final case class CommitEntry(label: String, partitions: Option[Either[Seq[String], Int]])

trait DataCommitter {
  /** Add staging actions for the commit's labels. */
  def stage(commitName: String, entries: Seq[CommitEntry], flow: SparkDataFlow): SparkDataFlow
  /** Add the move action (runs after all staging, via tags). */
  def move(commitName: String, entries: Seq[CommitEntry], flow: SparkDataFlow): SparkDataFlow
  /** Add the finish action (cleanup etc.), runs after move. */
  def finish(commitName: String, entries: Seq[CommitEntry], flow: SparkDataFlow): SparkDataFlow
  /** Validate the committer can run on this flow (throw otherwise). */
  def validate(flow: SparkDataFlow, commitName: String, entries: Seq[CommitEntry]): Unit
}

final case class CommitPlan(
    commits: Map[String, Seq[CommitEntry]] = Map.empty,
    pushes: Map[String, DataCommitter] = Map.empty) {

  def merge(that: CommitPlan): CommitPlan = {
    val dupLabels = for {
      name <- commits.keySet.intersect(that.commits.keySet).toSeq
      label <- commits(name).map(_.label).intersect(that.commits(name).map(_.label))
    } yield s"$name/$label"
    if (dupLabels.nonEmpty)
      throw new FlowException(
        s"Cannot merge flows: labels committed on both sides: ${dupLabels.sorted.mkString(", ")}")
    val dupPushes = pushes.keySet.intersect(that.pushes.keySet)
    if (dupPushes.nonEmpty)
      throw new FlowException(
        s"Cannot merge flows: both bind a committer for: ${dupPushes.toSeq.sorted.mkString(", ")}")
    CommitPlan(
      commits = that.commits.foldLeft(commits) { case (acc, (name, entries)) =>
        acc + (name -> (acc.getOrElse(name, Seq.empty) ++ entries))
      },
      pushes = pushes ++ that.pushes)
  }

  /** Adds every commit's phases to `flow` and empties its commit plan, so a
    * second preparation adds nothing. Also returns the committed labels
    * that another action of `flow` reads: staging computes such a label a
    * second time, so the cache step caches it as parquet and the upstream
    * lineage runs once (reference CommitMetadataExtension.scala:56-58). A
    * flow without a temp folder (custom committers that stage elsewhere)
    * returns none. */
  def expand(flow: SparkDataFlow): (SparkDataFlow, Seq[String]) = {
    val committedNotPushed = commits.keySet.diff(pushes.keySet)
    if (committedNotPushed.nonEmpty)
      throw new FlowException(
        s"Commits without a push committer: ${committedNotPushed.toSeq.sorted.mkString(", ")}")
    val pushedNotCommitted = pushes.keySet.diff(commits.keySet)
    if (pushedNotCommitted.nonEmpty)
      throw new FlowException(
        s"Pushes without commits: ${pushedNotCommitted.toSeq.sorted.mkString(", ")}")

    val produced = flow.actions.flatMap(_.outputLabels).toSet
    val consumed = flow.actions.flatMap(_.inputLabels).toSet
    val reused =
      if (flow.context.tempFolder.isEmpty) Seq.empty
      else commits.values.flatten.map(_.label).toSeq.distinct.sorted
        .filter(l => produced(l) && consumed(l))

    val cleared = flow.copy(commitPlan = CommitPlan())
    val expanded = commits.keys.toSeq.sorted.foldLeft(cleared) { (fl, name) =>
      val entries = commits(name)
      val committer = pushes(name)
      committer.validate(fl, name, entries)
      // fence each phase on the previous one ONLY when that phase actually
      // contributed actions — a tag dependency on a tag nobody carries fails
      // DAG validation (committers may legitimately skip staging or finish)
      def phase(flow0: SparkDataFlow, tag: String, dependsOn: Option[String])(
          add: SparkDataFlow => SparkDataFlow): (SparkDataFlow, Option[String]) = {
        val before = flow0.actions.size
        val after = dependsOn match {
          case Some(dep) => flow0.tagDependency(dep)(_.tag(tag)(add))
          case None => flow0.tag(tag)(add)
        }
        (after, if (after.actions.size > before) Some(tag) else dependsOn)
      }
      val (staged, stageTag) =
        phase(fl, s"commit-stage-$name", None)(committer.stage(name, entries, _))
      val (moved, moveTag) =
        phase(staged, s"commit-move-$name", stageTag)(committer.move(name, entries, _))
      phase(moved, s"commit-finish-$name", moveTag)(committer.finish(name, entries, _))._1
    }
    (expanded, reused)
  }
}

object commit {

  implicit class CommitOps(val flow: SparkDataFlow) extends AnyVal {

    /** Register labels for transactional publish under `commitName`. */
    def commit(commitName: String,
        partitions: Option[Either[Seq[String], Int]] = None)(labels: String*): SparkDataFlow = {
      val plan = flow.commitPlan
      val existing = plan.commits.getOrElse(commitName, Seq.empty)
      val dup = existing.map(_.label).intersect(labels)
      if (dup.nonEmpty)
        throw new FlowException(s"Labels already committed under [$commitName]: ${dup.mkString(", ")}")
      flow.copy(commitPlan = plan.copy(commits = plan.commits +
        (commitName -> (existing ++ labels.map(CommitEntry(_, partitions))))))
    }

    /** Bind the committer that will publish `commitName`. */
    def push(commitName: String)(committer: DataCommitter): SparkDataFlow = {
      val plan = flow.commitPlan
      if (plan.pushes.contains(commitName))
        throw new FlowException(s"Commit [$commitName] already has a committer")
      flow.copy(commitPlan = plan.copy(pushes = plan.pushes + (commitName -> committer)))
    }
  }
}

/** Publishes labels as parquet folders `<base>/<label>[/<snapshotFolder>]`
  * with stage → atomic rename → cleanup, and optional metastore DDL sync. */
final case class ParquetDataCommitter(
    outputBaseFolder: String,
    snapshotFolder: Option[String] = None,
    cleanupNumberOfFoldersToKeep: Option[Int] = None,
    connector: Option[HadoopDBConnector] = None)
  extends DataCommitter {

  def snapshotFolder(folder: String): ParquetDataCommitter = copy(snapshotFolder = Some(folder))
  def dateBasedSnapshotCleanup(keep: Int): ParquetDataCommitter =
    copy(cleanupNumberOfFoldersToKeep = Some(keep))
  def withConnector(c: HadoopDBConnector): ParquetDataCommitter = copy(connector = Some(c))

  private def stagingDir(flow: SparkDataFlow, name: String): Path =
    new Path(flow.context.tempFolder.getOrElse(
      throw new FlowException("ParquetDataCommitter needs a flow temp folder")),
      s"commit-$name")

  def validate(flow: SparkDataFlow, commitName: String, entries: Seq[CommitEntry]): Unit = {
    if (flow.context.tempFolder.isEmpty)
      throw new FlowException(s"Commit [$commitName]: flow has no temp folder for staging")
    if (cleanupNumberOfFoldersToKeep.isDefined && snapshotFolder.isEmpty)
      throw new FlowException(s"Commit [$commitName]: cleanup requires a snapshot folder")
    snapshotFolder.foreach { snap =>
      val fs = flow.context.fileSystem
      entries.foreach { e =>
        val dest = new Path(s"$outputBaseFolder/${e.label}/$snap")
        if (fs.exists(dest))
          throw new FlowException(s"Commit [$commitName]: destination already exists: $dest")
      }
    }
  }

  def stage(commitName: String, entries: Seq[CommitEntry], flow: SparkDataFlow): SparkDataFlow =
    entries.foldLeft(flow) { (fl, entry) =>
      fl.addAction(new SparkAction(List(entry.label), List.empty,
        s"commitStage:$commitName/${entry.label}")({ (entities, ctx) =>
        val df = entities.get[Dataset[_]](entry.label).toDF()
        val target = new Path(stagingDir(fl, commitName), entry.label).toString
        val writer = entry.partitions match {
          case Some(Left(cols)) =>
            df.repartition(cols.map(df.col): _*).write.partitionBy(cols: _*)
          case Some(Right(n)) => df.repartition(n).write
          case None => df.write
        }
        writer.mode(SaveMode.Overwrite).parquet(target)
        Seq.empty
      }))
    }

  // move and cleanup read the staged paths, not the labels: they declare no
  // input labels and wait for the previous phase through its tag alone, so
  // staging is the only reader a commit adds to a label
  def move(commitName: String, entries: Seq[CommitEntry], flow: SparkDataFlow): SparkDataFlow =
    flow.addAction(new SparkAction(List.empty, List.empty, s"commitMove:$commitName")({ (_, ctx) =>
      val fs = ctx.fileSystem
      // all renames first; DDLs only after every label landed
      val moved = entries.map { entry =>
        val src = new Path(stagingDir(flow, commitName), entry.label)
        val destBase = new Path(s"$outputBaseFolder/${entry.label}")
        val dest = snapshotFolder.fold(destBase)(s => new Path(destBase, s))
        if (fs.exists(dest))
          throw new FlowException(s"Commit [$commitName]: destination exists: $dest")
        fs.mkdirs(dest.getParent)
        if (!fs.rename(src, dest))
          throw new FlowException(s"Commit [$commitName]: failed to move $src to $dest")
        entry -> dest
      }
      connector.foreach { c =>
        val ddls = moved.flatMap { case (entry, dest) =>
          c.updateTableParquetLocationDDLs(ctx.spark, entry.label, dest.toUri.toString,
            entry.partitions.toSeq.flatMap(_.left.toSeq).flatten)
        }
        c.submitAtomicResultlessQueries(ddls)
      }
      Seq.empty
    }))

  def finish(commitName: String, entries: Seq[CommitEntry], flow: SparkDataFlow): SparkDataFlow =
    (snapshotFolder, cleanupNumberOfFoldersToKeep) match {
      case (Some(_), Some(keep)) =>
        flow.addAction(new SparkAction(List.empty, List.empty,
          s"commitCleanup:$commitName")({ (_, ctx) =>
          val fs = ctx.fileSystem
          entries.foreach { entry =>
            val base = new Path(s"$outputBaseFolder/${entry.label}")
            if (fs.exists(base)) {
              val snaps = fs.listStatus(base).filter(_.isDirectory).map(_.getPath)
                .sortBy(_.getName)
              snaps.dropRight(keep).foreach(p => fs.delete(p, true))
            }
          }
          Seq.empty
        }))
      case _ => flow
    }
}
