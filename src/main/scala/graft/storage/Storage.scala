package graft.storage

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import java.sql.Timestamp

import graft.dataflow.spark.{SparkAction, SparkDataFlow, SparkFlowContext}

/** Open/create audit tables and the flow-level storage actions.
  * Reference: waimak-storage/.../Storage.scala:77-193, StorageActions.scala:91-259. */
object Storage {

  /** Create a new audit table (writes `.table_info`) or open the existing
    * one. When the table exists, `primaryKeys` and `retainHistory` must
    * match the persisted `.table_info` (both change storage SEMANTICS —
    * silently ignoring a mismatch would e.g. let a caller expecting
    * PK-dedup compaction keep reading full history); `meta` follows the
    * persisted file (operational knobs like pkBloom evolve by editing the
    * table, not by whichever job opened it last). */
  def getOrCreateTable(spark: SparkSession, basePath: String, info: AuditTableInfo,
      includeHot: Boolean = true): AuditTable = {
    val base = new Path(basePath)
    val ops = new FileStorageOps(spark, Some(base))
    val tablePath = new Path(base, info.tableName)
    ops.readTableInfo(tablePath) match {
      case Some(existing) =>
        if (existing.primaryKeys != info.primaryKeys)
          throw new StorageException(
            s"Table [${info.tableName}] exists with different primary keys " +
              s"[${existing.primaryKeys.mkString(",")}] vs requested [${info.primaryKeys.mkString(",")}]")
        if (existing.retainHistory != info.retainHistory)
          throw new StorageException(
            s"Table [${info.tableName}] exists with retainHistory=" +
              s"${existing.retainHistory} vs requested ${info.retainHistory}")
        openTable(spark, basePath, info.tableName, includeHot).get
      case None =>
        // the handle checks `meta` before anything is written
        val table = new AuditTable(info, Seq.empty, base, ops, spark, includeHot)
        ops.fs.mkdirs(tablePath)
        ops.writeTableInfo(tablePath, info)
        table
    }
  }

  /** Open an existing table: metadata from `.table_info`, regions inferred
    * from the partition folder layout with stats from a grouped parquet
    * scan. Opening also sweeps day-old staging orphans under `.tmp` (a
    * writer KILLED between staging and publish leaks its staged copy —
    * see the crash contract on [[AuditTable.compact]]); the age guard
    * keeps any live writer's in-flight staging safe, and the sweep is
    * best-effort so a read-only filesystem still opens. */
  def openTable(spark: SparkSession, basePath: String, tableName: String,
      includeHot: Boolean = true,
      stagingMaxAgeMs: Long = 86400000L): Option[AuditTable] = {
    val base = new Path(basePath)
    val ops = new FileStorageOps(spark, Some(base))
    scala.util.Try(
      ops.sweepStaleStaging(base, System.currentTimeMillis(), stagingMaxAgeMs)): Unit
    val tablePath = new Path(base, tableName)
    ops.readTableInfo(tablePath).map { info =>
      val (regions, schema) = inferRegions(ops, tablePath, tableName)
      new AuditTable(info, regions, base, ops, spark, includeHot, schema)
    }
  }

  /** Region and schema inference: the `.regioninfo` cache is used when it
    * matches the actual partition folder layout (every mutation refreshes
    * it, so the usual open touches NO region data at all and starts no
    * Spark job); a missing/stale/corrupt/schema-less cache falls back to
    * folder globs + one grouped `mergeSchema` parquet scan for counts, max
    * audit timestamps and the schema, then rewrites the cache. The schema
    * is None only for a table without regions. Batched per table — at
    * fleet scale callers page tables ~20 at a time (reference
    * AuditTableFile.scala:295-421). */
  private def inferRegions(ops: FileStorageOps, tablePath: Path, tableName: String)
      : (Seq[AuditTableRegionInfo], Option[StructType]) = {
    import AuditTable._
    val typeDirs = ops.listDirs(tablePath).filter(_.getName.startsWith(s"$TypeColumn="))
    val regionDirs = typeDirs.flatMap(td => ops.listDirs(td).map(rd =>
      (td.getName.stripPrefix(s"$TypeColumn="), rd.getName.stripPrefix(s"$RegionColumn="))))
    val cached = ops.readRegionInfoCache(tablePath.getParent, tableName)
      .filter(_._1.map(r => (r.storeType, r.storeRegion)).toSet == regionDirs.toSet)
    cached.map { case (regions, schema) => (regions, Some(schema)) }.getOrElse {
      if (regionDirs.isEmpty) (Seq.empty, None)
      else {
        val raw = ops.openParquetMerged(tablePath).get // it holds the region dirs
        val schema = dataSchemaOf(raw)
        val stats = raw
          .groupBy(col(TypeColumn), col(RegionColumn))
          .agg(count(lit(1)).as("cnt"), max(col(AuditColumn)).as("maxts"))
          .collect()
          .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getTimestamp(3)))
          .toMap
        val rebuilt = regionDirs.map { case (storeType, region) =>
          val (cnt, maxTs) = stats.getOrElse((storeType, region), (0L, LowTimestamp))
          AuditTableRegionInfo(tableName, storeType, region, LowTimestamp,
            isDeprecated = false, cnt, Option(maxTs).getOrElse(LowTimestamp))
        }.sortBy(_.storeRegion)
        // best-effort: a pure read must not fail because the cache could not
        // be refreshed (read-only FS, concurrent writers racing the rename)
        scala.util.Try(ops.writeRegionInfoCache(tablePath.getParent, tableName, rebuilt, schema))
        (rebuilt, Some(schema))
      }
    }
  }

  /** Hour-window compaction trigger: hot regions exist and local time within
    * [startHour, endHour) (reference StorageActions.scala:91-121). */
  def inCompactionWindow(table: AuditTable, ts: Timestamp, startHour: Int, endHour: Int): Boolean = {
    val hour = ts.toLocalDateTime.getHour
    val inWindow =
      if (startHour <= endHour) hour >= startHour && hour < endHour
      else hour >= startHour || hour < endHour
    table.hotRegions.nonEmpty && inWindow
  }
}

/** Flow-level storage actions, chained on a [[SparkDataFlow]].
  * Reference: StorageActions.scala:145-259. */
object StorageActions {

  implicit class StorageFlowOps(val flow: SparkDataFlow) extends AnyVal {

    /** Open or create audit tables; each becomes a `<prefix>_<table>` entity
      * holding the [[AuditTable]] handle. */
    def getOrCreateAuditTable(basePath: String,
        metadata: String => AuditTableInfo,
        labelPrefix: String = "audittable",
        includeHot: Boolean = true)(tables: String*): SparkDataFlow =
      tables.foldLeft(flow) { (fl, table) =>
        fl.addAction(new SparkAction(List.empty, List(s"${labelPrefix}_$table"),
          s"getOrCreateAuditTable:$table")((_, ctx) =>
          Seq(Some(Storage.getOrCreateTable(ctx.spark, basePath, metadata(table), includeHot)))))
      }

    def getAuditTable(basePath: String, labelPrefix: String = "audittable",
        includeHot: Boolean = true)(tables: String*): SparkDataFlow =
      tables.foldLeft(flow) { (fl, table) =>
        fl.addAction(new SparkAction(List.empty, List(s"${labelPrefix}_$table"),
          s"getAuditTable:$table")((_, ctx) =>
          Seq(Some(Storage.openTable(ctx.spark, basePath, table, includeHot).getOrElse(
            throw new StorageException(s"Audit table [$table] does not exist under $basePath"))))))
      }

    /** Append the dataset under `label` into its audit table; optionally
      * compact when inside the window. Emits `<label>_appended` with the
      * refreshed handle. */
    def writeToStorage(label: String, lastUpdatedCol: Option[String],
        appendTimestamp: Timestamp,
        compactDuring: Option[(Int, Int)] = None,
        labelPrefix: String = "audittable"): SparkDataFlow =
      flow.addAction(new SparkAction(List(label, s"${labelPrefix}_$label"),
        List(s"${label}_appended"), s"writeToStorage:$label")({ (entities, _) =>
        val ds = entities.get[Dataset[_]](label)
        val table = entities.get[AuditTable](s"${labelPrefix}_$label")
        val appended = table.append(ds, lastUpdatedCol, appendTimestamp)
        val result = compactDuring match {
          case Some((from, to)) if Storage.inCompactionWindow(appended, appendTimestamp, from, to) =>
            appended.compact(appendTimestamp)
          case _ => appended
        }
        Seq(Some(result))
      }))

    /** Open + snapshot(ts) N tables into plain dataset labels. */
    def snapshotFromStorage(basePath: String, ts: Timestamp,
        outputPrefix: Option[String] = None,
        includeHot: Boolean = true)(tables: String*): SparkDataFlow =
      tables.foldLeft(flow) { (fl, table) =>
        val out = outputPrefix.fold(table)(p => s"${p}_$table")
        fl.addAction(new SparkAction(List.empty, List(out), s"snapshotFromStorage:$table")(
          (_, ctx) => Seq(Storage.openTable(ctx.spark, basePath, table, includeHot)
            .flatMap(_.snapshot(ts)))))
      }

    /** Open + allBetween(from, to) N tables into plain dataset labels.
      * `includeHot = false` reads only compacted (cold) published state —
      * same contract as [[Storage.openTable]]. */
    def loadFromStorage(basePath: String, from: Option[Timestamp] = None,
        to: Option[Timestamp] = None, outputPrefix: Option[String] = None,
        includeHot: Boolean = true)(
        tables: String*): SparkDataFlow =
      tables.foldLeft(flow) { (fl, table) =>
        val out = outputPrefix.fold(table)(p => s"${p}_$table")
        fl.addAction(new SparkAction(List.empty, List(out), s"loadFromStorage:$table")(
          (_, ctx) => Seq(Storage.openTable(ctx.spark, basePath, table, includeHot)
            .flatMap(_.allBetween(from, to)))))
      }
  }
}
