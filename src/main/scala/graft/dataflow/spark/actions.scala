package graft.dataflow.spark

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, DataFrameReader, Dataset, SaveMode}
import org.apache.spark.storage.StorageLevel

import graft.dataflow._

import scala.util.Try

/** Generic Spark action: run a function over resolved input entities.
  * All library actions below are instances of this. */
class SparkAction(
    val inputLabels: List[String],
    val outputLabels: List[String],
    name: String,
    override val requiresAllInputs: Boolean = true)(
    run: (FlowEntities, SparkFlowContext) => core.ActionResult)
  extends FlowAction[SparkFlowContext] {

  override def actionName: String = name

  def performAction(inputs: FlowEntities, context: SparkFlowContext): Try[core.ActionResult] =
    Try(run(inputs, context))
}

/** The action library: open / transform / sql / write / cache / debug.
  * Reference surface: waimak-core/.../dataflow/spark/package.scala:24-756.
  * Import `graft.dataflow.spark.actions._` and chain on a [[SparkDataFlow]].
  */
object actions {

  private def saveMode(overwrite: Boolean): SaveMode =
    if (overwrite) SaveMode.Overwrite else SaveMode.ErrorIfExists

  implicit class SparkFlowOps(val flow: SparkDataFlow) extends AnyVal {

    // ------------------------------------------------------------- opens ---

    /** Generic source: any function of the context. */
    def open(label: String)(f: SparkFlowContext => Dataset[_]): SparkDataFlow =
      flow.addAction(new SparkAction(List.empty, List(label), s"open:$label")(
        (_, ctx) => Seq(Some(f(ctx)))))

    /** Generic reader source with options pre-applied. */
    def open(label: String, options: Map[String, String])(
        f: DataFrameReader => Dataset[_]): SparkDataFlow =
      open(label)(ctx => f(ctx.spark.read.options(options)))

    /** One folder per label under `basePath`, optional snapshot subfolder and
      * label prefix on the output labels. */
    def openParquet(basePath: String, snapshotFolder: Option[String] = None,
        outputPrefix: Option[String] = None)(labels: String*): SparkDataFlow =
      labels.foldLeft(flow) { (fl, label) =>
        val out = outputPrefix.fold(label)(p => s"${p}_$label")
        val path = snapshotFolder.fold(s"$basePath/$label")(s => s"$basePath/$label/$s")
        new SparkFlowOps(fl).open(out)(ctx => ctx.spark.read.parquet(path))
      }

    /** Single parquet path (glob ok) as one label. */
    def openFileParquet(path: String, label: String): SparkDataFlow =
      open(label)(ctx => ctx.spark.read.parquet(path))

    /** CSV folders per label; header+inferSchema default like the reference
      * (spark/package.scala:470,510). */
    def openCSV(basePath: String, options: Map[String, String] = Map.empty,
        snapshotFolder: Option[String] = None)(labels: String*): SparkDataFlow = {
      val opts = Map("header" -> "true", "inferSchema" -> "true") ++ options
      labels.foldLeft(flow) { (fl, label) =>
        val path = snapshotFolder.fold(s"$basePath/$label")(s => s"$basePath/$label/$s")
        new SparkFlowOps(fl).open(label)(ctx => ctx.spark.read.options(opts).csv(path))
      }
    }

    def openFileCSV(path: String, label: String,
        options: Map[String, String] = Map.empty): SparkDataFlow = {
      val opts = Map("header" -> "true", "inferSchema" -> "true") ++ options
      open(label)(ctx => ctx.spark.read.options(opts).csv(path))
    }

    /** ORC folders per label (columnar alternative where the lake standard
      * is ORC rather than parquet; same layout conventions as openParquet,
      * including the snapshot subfolder and output-label prefix). */
    def openORC(basePath: String, snapshotFolder: Option[String] = None,
        outputPrefix: Option[String] = None)(labels: String*): SparkDataFlow =
      labels.foldLeft(flow) { (fl, label) =>
        val out = outputPrefix.fold(label)(p => s"${p}_$label")
        val path = snapshotFolder.fold(s"$basePath/$label")(s => s"$basePath/$label/$s")
        new SparkFlowOps(fl).open(out)(ctx => ctx.spark.read.orc(path))
      }

    def openFileORC(path: String, label: String): SparkDataFlow =
      open(label)(ctx => ctx.spark.read.orc(path))

    /** JSON-lines folders per label, same layout conventions as openCSV.
      * Schema inference scans the data once — pass an explicit `schema` DDL
      * for production pipelines (inference at 100 TB is a full extra read,
      * and drifting input silently widens inferred types between runs). */
    def openJSON(basePath: String, schema: Option[String] = None,
        options: Map[String, String] = Map.empty,
        snapshotFolder: Option[String] = None)(labels: String*): SparkDataFlow =
      labels.foldLeft(flow) { (fl, label) =>
        val path = snapshotFolder.fold(s"$basePath/$label")(s => s"$basePath/$label/$s")
        new SparkFlowOps(fl).open(label) { ctx =>
          val r = ctx.spark.read.options(options)
          schema.fold(r)(s => r.schema(s)).json(path)
        }
      }

    /** Open metastore tables as labels (label = table name). */
    def openTable(database: String)(tables: String*): SparkDataFlow =
      tables.foldLeft(flow) { (fl, table) =>
        new SparkFlowOps(fl).open(table)(ctx => ctx.spark.table(s"$database.$table"))
      }

    // -------------------------------------------------------- transforms ---

    private def transformAction(ins: List[String], out: String)(
        f: Seq[DataFrame] => Dataset[_]): SparkDataFlow =
      flow.addAction(new SparkAction(ins, List(out), s"transform:$out")(
        (entities, _) => Seq(Some(f(ins.map(l => entities.get[Dataset[_]](l).toDF()))))))

    def transform(a: String)(out: String)(f: DataFrame => Dataset[_]): SparkDataFlow =
      transformAction(List(a), out) { case Seq(da) => f(da) }

    def transform(a: String, b: String)(out: String)(
        f: (DataFrame, DataFrame) => Dataset[_]): SparkDataFlow =
      transformAction(List(a, b), out) { case Seq(da, db) => f(da, db) }

    def transform(a: String, b: String, c: String)(out: String)(
        f: (DataFrame, DataFrame, DataFrame) => Dataset[_]): SparkDataFlow =
      transformAction(List(a, b, c), out) { case Seq(da, db, dc) => f(da, db, dc) }

    def transform(a: String, b: String, c: String, d: String)(out: String)(
        f: (DataFrame, DataFrame, DataFrame, DataFrame) => Dataset[_]): SparkDataFlow =
      transformAction(List(a, b, c, d), out) { case Seq(da, db, dc, dd) => f(da, db, dc, dd) }

    def transform(a: String, b: String, c: String, d: String, e: String)(out: String)(
        f: (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) => Dataset[_]): SparkDataFlow =
      transformAction(List(a, b, c, d, e), out) {
        case Seq(da, db, dc, dd, de) => f(da, db, dc, dd, de)
      }

    def transform(a: String, b: String, c: String, d: String, e: String, f6: String)(
        out: String)(
        f: (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) => Dataset[_]): SparkDataFlow =
      transformAction(List(a, b, c, d, e, f6), out) {
        case Seq(d1, d2, d3, d4, d5, d6) => f(d1, d2, d3, d4, d5, d6)
      }

    def transform(a: String, b: String, c: String, d: String, e: String, f6: String,
        g: String)(out: String)(
        f: (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) => Dataset[_]): SparkDataFlow =
      transformAction(List(a, b, c, d, e, f6, g), out) {
        case Seq(d1, d2, d3, d4, d5, d6, d7) => f(d1, d2, d3, d4, d5, d6, d7)
      }

    def transform(a: String, b: String, c: String, d: String, e: String, f6: String,
        g: String, h: String)(out: String)(
        f: (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) => Dataset[_]): SparkDataFlow =
      transformAction(List(a, b, c, d, e, f6, g, h), out) {
        case Seq(d1, d2, d3, d4, d5, d6, d7, d8) => f(d1, d2, d3, d4, d5, d6, d7, d8)
      }

    def transform(a: String, b: String, c: String, d: String, e: String, f6: String,
        g: String, h: String, i: String)(out: String)(
        f: (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) => Dataset[_]): SparkDataFlow =
      transformAction(List(a, b, c, d, e, f6, g, h, i), out) {
        case Seq(d1, d2, d3, d4, d5, d6, d7, d8, d9) => f(d1, d2, d3, d4, d5, d6, d7, d8, d9)
      }

    def transform(a: String, b: String, c: String, d: String, e: String, f6: String,
        g: String, h: String, i: String, j: String)(out: String)(
        f: (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame, DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) => Dataset[_]): SparkDataFlow =
      transformAction(List(a, b, c, d, e, f6, g, h, i, j), out) {
        case Seq(d1, d2, d3, d4, d5, d6, d7, d8, d9, d10) =>
          f(d1, d2, d3, d4, d5, d6, d7, d8, d9, d10)
      }

    def transform(a: String, b: String, c: String, d: String, e: String, f6: String,
        g: String, h: String, i: String, j: String, k: String)(out: String)(
        f: (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame, DataFrame, DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) => Dataset[_]): SparkDataFlow =
      transformAction(List(a, b, c, d, e, f6, g, h, i, j, k), out) {
        case Seq(d1, d2, d3, d4, d5, d6, d7, d8, d9, d10, d11) =>
          f(d1, d2, d3, d4, d5, d6, d7, d8, d9, d10, d11)
      }

    def transform(a: String, b: String, c: String, d: String, e: String, f6: String,
        g: String, h: String, i: String, j: String, k: String, l: String)(out: String)(
        f: (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame, DataFrame, DataFrame, DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) => Dataset[_]): SparkDataFlow =
      transformAction(List(a, b, c, d, e, f6, g, h, i, j, k, l), out) {
        case Seq(d1, d2, d3, d4, d5, d6, d7, d8, d9, d10, d11, d12) =>
          f(d1, d2, d3, d4, d5, d6, d7, d8, d9, d10, d11, d12)
      }

    /** N-ary transform for arbitrary arity (reference caps at 12; this is
      * unbounded). Inputs arrive positionally. */
    def transformMany(ins: String*)(out: String)(f: Seq[DataFrame] => Dataset[_]): SparkDataFlow =
      transformAction(ins.toList, out)(f)

    /** Dataset in, arbitrary entity out. */
    def typedTransform[T](a: String)(out: String)(f: DataFrame => T): SparkDataFlow =
      flow.addAction(new SparkAction(List(a), List(out), s"typedTransform:$out")(
        (entities, _) => Seq(Some(f(entities.get[Dataset[_]](a).toDF())))))

    /** Side-effecting consumer, no output. */
    def unitTransform(ins: String*)(name: String)(f: Seq[DataFrame] => Unit): SparkDataFlow =
      flow.addAction(new SparkAction(ins.toList, List.empty, s"unitTransform:$name")(
        (entities, _) => { f(ins.map(l => entities.get[Dataset[_]](l).toDF())); Seq.empty }))

    // --------------------------------------------------------------- sql ---

    /** Spark SQL over labels registered as temp views; optional column drop
      * after. Reference: spark/package.scala:524-538. */
    def sql(input: String, inputs: String*)(out: String, query: String,
        dropColumns: String*): SparkDataFlow = {
      val all = input +: inputs.toList
      flow.registerSqlTables(all)
        .addAction(new SparkAction(all, List(out), s"sql:$out")(
          (_, ctx) => Seq(Some(ctx.spark.sql(query).drop(dropColumns: _*)))))
    }

    // ------------------------------------------------------------- debug ---

    def alias(from: String, to: String): SparkDataFlow =
      flow.addAction(new SparkAction(List(from), List(to), s"alias:$from->$to")(
        (entities, _) => Seq(entities.entities(from))))

    /** Repartition by columns then sort within partitions (secondary-sort
      * prep; reference spark/package.scala:340-343). */
    def partitionSort(input: String, output: String)(
        partitionCols: String*)(sortCols: String*): SparkDataFlow =
      transform(input)(output) { df =>
        df.repartition(partitionCols.map(df.col): _*)
          .sortWithinPartitions(sortCols.map(df.col): _*)
      }

    def show(label: String, numRows: Int = 20): SparkDataFlow =
      flow.addAction(new SparkAction(List(label), List.empty, s"show:$label")(
        (entities, _) => { entities.get[Dataset[_]](label).show(numRows, truncate = false); Seq.empty }))

    def printSchema(label: String): SparkDataFlow =
      flow.addAction(new SparkAction(List(label), List.empty, s"printSchema:$label")(
        (entities, _) => { entities.get[Dataset[_]](label).printSchema(); Seq.empty }))

    /** Register labels as temp views without other effects. */
    def debugAsTable(labels: String*): SparkDataFlow =
      flow.registerSqlTables(labels.toList)
        .map(f => labels.foldLeft(f) { (fl, l) =>
          fl.addAction(new SparkAction(List(l), List.empty, s"debugAsTable:$l")(
            (_, _) => Seq.empty))
        })

    // ------------------------------------------------------------ writes ---

    private def writeAction(label: String, name: String)(
        w: (DataFrame, SparkFlowContext) => Unit): SparkDataFlow =
      flow.addAction(new SparkAction(List(label), List.empty, s"$name:$label")(
        (entities, ctx) => { w(entities.get[Dataset[_]](label).toDF(), ctx); Seq.empty }))

    /** Generic write: full control of the writer. */
    def write(label: String)(w: (DataFrame, SparkFlowContext) => Unit): SparkDataFlow =
      writeAction(label, "write")(w)

    def writeParquet(basePath: String, overwrite: Boolean = false)(labels: String*): SparkDataFlow =
      labels.foldLeft(flow) { (fl, label) =>
        new SparkFlowOps(fl).writeAction(label, "writeParquet") { (df, _) =>
          df.write.mode(saveMode(overwrite))
            .parquet(s"$basePath/$label")
        }
      }

    /** Hive-partitioned parquet; repartition by the partition columns first
      * to control small files (reference SparkActionHelpers.scala:14-34). */
    def writePartitionedParquet(basePath: String, overwrite: Boolean = false)(
        label: String, partitionCols: String*): SparkDataFlow =
      writeAction(label, "writePartitionedParquet") { (df, _) =>
        df.repartition(partitionCols.map(df.col): _*)
          .write.partitionBy(partitionCols: _*)
          .mode(saveMode(overwrite))
          .parquet(s"$basePath/$label")
      }

    /** Fixed output file count variant. */
    def writeRepartitionedParquet(basePath: String, numFiles: Int,
        overwrite: Boolean = false)(label: String): SparkDataFlow =
      writeAction(label, "writeRepartitionedParquet") { (df, _) =>
        df.repartition(numFiles)
          .write.mode(saveMode(overwrite))
          .parquet(s"$basePath/$label")
      }

    /** Z-order clustered variant: `numFiles` parquet files range-
      * partitioned + locally sorted on the Morton key of `zCols`
      * (integer-valued columns, exact stats-based quantization —
      * [[graft.operators.Layout.clusterByZOrder]]), so footer min/max
      * stats prune row groups on EVERY clustered column, not just a
      * leading sort key. */
    def writeZOrderedParquet(basePath: String, numFiles: Int, bits: Int = 18,
        overwrite: Boolean = false)(label: String, zCols: String*): SparkDataFlow =
      writeAction(label, "writeZOrderedParquet") { (df, _) =>
        graft.operators.Layout.clusterByZOrder(df, zCols, bits, numFiles)
          .write.mode(saveMode(overwrite))
          .parquet(s"$basePath/$label")
      }

    def writeCSV(basePath: String, options: Map[String, String] = Map.empty,
        overwrite: Boolean = false, numFiles: Option[Int] = Some(1))(
        labels: String*): SparkDataFlow =
      labels.foldLeft(flow) { (fl, label) =>
        new SparkFlowOps(fl).writeAction(label, "writeCSV") { (df, _) =>
          val repart = numFiles.fold(df)(df.repartition)
          repart.write.options(options)
            .mode(saveMode(overwrite))
            .csv(s"$basePath/$label")
        }
      }

    def writePartitionedCSV(basePath: String, overwrite: Boolean = false,
        options: Map[String, String] = Map.empty)(
        label: String, partitionCols: String*): SparkDataFlow =
      writeAction(label, "writePartitionedCSV") { (df, _) =>
        df.repartition(partitionCols.map(df.col): _*)
          .write.options(options).partitionBy(partitionCols: _*)
          .mode(saveMode(overwrite))
          .csv(s"$basePath/$label")
      }

    def writeORC(basePath: String, overwrite: Boolean = false)(
        labels: String*): SparkDataFlow =
      labels.foldLeft(flow) { (fl, label) =>
        new SparkFlowOps(fl).writeAction(label, "writeORC") { (df, _) =>
          df.write.mode(saveMode(overwrite))
            .orc(s"$basePath/$label")
        }
      }

    def writeJSON(basePath: String, options: Map[String, String] = Map.empty,
        overwrite: Boolean = false, numFiles: Option[Int] = Some(1))(
        labels: String*): SparkDataFlow =
      labels.foldLeft(flow) { (fl, label) =>
        new SparkFlowOps(fl).writeAction(label, "writeJSON") { (df, _) =>
          val repart = numFiles.fold(df)(df.repartition)
          repart.write.options(options)
            .mode(saveMode(overwrite))
            .json(s"$basePath/$label")
        }
      }

    def writeHiveManagedTable(database: String, overwrite: Boolean = false)(
        labels: String*): SparkDataFlow =
      labels.foldLeft(flow) { (fl, label) =>
        new SparkFlowOps(fl).writeAction(label, "writeHiveManagedTable") { (df, _) =>
          df.write.mode(saveMode(overwrite))
            .saveAsTable(s"$database.$label")
        }
      }

    /** Bucketed (and optionally sorted) managed table: rows hash-partition
      * into `numBuckets` files per bucket column value set at WRITE time, so
      * later equi-joins and aggregations on the bucket columns read
      * co-located data and skip the shuffle entirely — the classic
      * pre-shuffle trade for fact tables that are joined repeatedly on the
      * same key at 100 TB. Repartition by the bucket columns first so each
      * task writes one file per bucket instead of numBuckets small files. */
    def writeBucketedTable(database: String, numBuckets: Int,
        bucketCols: Seq[String], sortCols: Seq[String] = Seq.empty,
        overwrite: Boolean = false)(labels: String*): SparkDataFlow =
      labels.foldLeft(flow) { (fl, label) =>
        new SparkFlowOps(fl).writeAction(label, "writeBucketedTable") { (df, _) =>
          // numBuckets partitions on the bucket columns: the shuffle uses the
          // IDENTICAL HashPartitioning as the bucket-id derivation, so each
          // task holds exactly one bucket -> one file per bucket
          val writer = df.repartition(numBuckets, bucketCols.map(df.col): _*)
            .write.mode(saveMode(overwrite))
            .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
          (if (sortCols.nonEmpty) writer.sortBy(sortCols.head, sortCols.tail: _*)
           else writer).saveAsTable(s"$database.$label")
        }
      }

    /** Write `numFiles` files named `$prefix.N.$format` (no part-UUIDs):
      * write to the flow temp folder, then rename the part files with
      * zero-padded indexes. Stale `$prefix.*` files from a previous run are
      * removed first, so indexes never mix across runs. When the dataset has
      * fewer rows than `numFiles`, Spark writes no part file for the empty
      * partitions and fewer files appear.
      * Reference: WriteAsNamedFilesAction.scala:27-68. */
    def writeAsNamedFiles(label: String, basePath: String, numFiles: Int,
        filenamePrefix: String, format: String = "parquet",
        options: Map[String, String] = Map.empty): SparkDataFlow = {
      // text sources write a single column to a single stream — the
      // reference rejects multi-file text here too (WriteAsNamedFilesAction.scala:56-60)
      if (format.equalsIgnoreCase("text") && numFiles > 1) // Spark formats are case-insensitive
        throw new FlowException("writeAsNamedFiles with format=text supports only 1 file")
      writeAction(label, "writeAsNamedFiles") { (df, ctx) =>
        val tmpRoot = ctx.tempFolder.getOrElse(
          throw new FlowException("writeAsNamedFiles needs a flow temp folder"))
        val tmp = new Path(tmpRoot, s"namedfiles_$label")
        val fs = ctx.fileSystem
        df.repartition(numFiles).write.options(options).format(format)
          .mode(SaveMode.Overwrite).save(tmp.toString)
        val dest = new Path(basePath)
        fs.mkdirs(dest)
        // drop leftovers of a previous (possibly larger) run up front — a
        // rename-over would leave a mix of old and new indexes behind
        fs.globStatus(new Path(dest, s"$filenamePrefix.*"))
          .foreach(st => fs.delete(st.getPath, false))
        val parts = fs.globStatus(new Path(tmp, "part-*")).map(_.getPath).sortBy(_.getName)
        val ext = parts.headOption.map(_.getName.dropWhile(_ != '.')).getOrElse(s".$format")
        parts.zipWithIndex.foreach { case (p, i) =>
          val target = new Path(dest, f"$filenamePrefix.$i%05d$ext")
          if (fs.exists(target)) fs.delete(target, false)
          if (!fs.rename(p, target))
            throw new FlowException(s"Failed to rename $p to $target")
        }
      }
    }

    // ------------------------------------------------------------ caches ---

    /** Interceptor skeleton: wrap the action that produces `label`, run it,
      * and pass only that label's dataset through `rewrite`; every other
      * output of the action is returned unchanged. */
    private def interceptLabel(label: String, kind: String)(
        rewrite: (Dataset[_], SparkFlowContext) => Dataset[_]): SparkDataFlow =
      flow.interceptPostOutput(label) { original =>
        new SparkAction(original.inputLabels, original.outputLabels,
          s"$kind:${original.actionName}", original.requiresAllInputs) ({ (entities, ctx) =>
          val results = original.performAction(entities, ctx).get
          original.outputLabels.zip(results).map {
            case (l, Some(ds: Dataset[_])) if l == label => Some(rewrite(ds, ctx))
            case (_, other) => other
          }
        })
      }

    /** Cache interceptor: [[interceptLabel]] once per label. A label whose
      * producer already carries a cache wrapper is left as it is, and the
      * wrapped label is recorded in the flow's [[CachePlan]]. */
    private def cacheLabel(label: String, kind: String)(
        rewrite: (Dataset[_], SparkFlowContext) => Dataset[_]): SparkDataFlow =
      if (flow.cachePlan.wrapped(label)) flow
      else {
        val cached = interceptLabel(label, kind)(rewrite)
        cached.copy(cachePlan = cached.cachePlan.copy(wrapped = cached.cachePlan.wrapped + label))
      }

    /** Checkpoint the label to the flow temp folder as parquet and replace
      * the in-flight dataset with the re-opened copy: cuts lineage, safe for
      * cross-thread reuse. Reference: SparkInterceptors.scala:48-65. */
    def cacheAsParquet(labels: String*): SparkDataFlow =
      labels.foldLeft(flow) { (fl, label) =>
        new SparkFlowOps(fl).cacheLabel(label, "cacheAsParquet") { (ds, ctx) =>
          val tmpRoot = ctx.tempFolder.getOrElse(
            throw new FlowException("cacheAsParquet needs a flow temp folder"))
          val path = new Path(tmpRoot, label).toString
          ds.write.mode(SaveMode.Overwrite).parquet(path)
          // the producer's schema: no footer-reading inference job
          ctx.spark.read.schema(ds.schema).parquet(path)
        }
      }

    /** [[cacheAsParquet]] with a Hive partition layout: the checkpoint is
      * written `partitionBy(partitions)` and re-opened, so every downstream
      * consumer that filters on a partition column PRUNES directories
      * instead of re-scanning the whole intermediate — the point of caching
      * a large intermediate at 100 TB. `repartition=true` (default) hash-
      * clusters rows by the partition columns first so each Hive partition
      * is written by one task; without it every task writes a file into
      * every partition (tasks x partitions small files).
      * Reference: spark/package.scala:728-732. */
    def cacheAsPartitionedParquet(partitions: Seq[String],
        repartition: Boolean = true)(labels: String*): SparkDataFlow = {
      if (labels.isEmpty)
        throw new FlowException("At least one label must be specified for cacheAsPartitionedParquet")
      if (partitions.isEmpty)
        throw new FlowException("cacheAsPartitionedParquet needs at least one partition column")
      labels.foldLeft(flow) { (fl, label) =>
        new SparkFlowOps(fl).cacheLabel(label, "cacheAsPartitionedParquet") { (ds, ctx) =>
          val tmpRoot = ctx.tempFolder.getOrElse(
            throw new FlowException("cacheAsPartitionedParquet needs a flow temp folder"))
          val path = new Path(tmpRoot, label)
          val laidOut =
            if (repartition) ds.repartition(partitions.map(ds.col): _*)
            else ds.toDF()
          laidOut.write.mode(SaveMode.Overwrite)
            .partitionBy(partitions: _*).parquet(path.toString)
          // a partitioned write of 0 rows emits no footers at all, so
          // the empty case passes through uncached (the reference's
          // documented behaviour). Detected from the WRITTEN tree —
          // a driver-side listing — not from a pre-write isEmpty,
          // which would execute the whole upstream plan a second
          // time (limit(1) still runs every upstream map stage)
          val fs = path.getFileSystem(ctx.spark.sparkContext.hadoopConfiguration)
          val files = fs.listFiles(path, true)
          var hasData = false
          while (!hasData && files.hasNext)
            hasData = files.next().getPath.getName.endsWith(".parquet")
          if (!hasData) ds
          else {
            // re-open with the ORIGINAL schema and column order:
            // without it the partition columns come back type-INFERRED
            // from directory names ('01' -> int 1, date-like strings ->
            // DATE) and move to the end of the schema — silent drift
            // every downstream consumer of the cached label would eat
            ctx.spark.read.schema(ds.schema).parquet(path.toString)
              .select(ds.schema.fieldNames.toIndexedSeq.map(
                org.apache.spark.sql.functions.col): _*)
          }
        }
      }
    }

    /** Spark persist with eager materialisation (cheap isEmpty action), so
      * parallel consumers hit the cache instead of racing the computation.
      * Reference: SparkInterceptors.scala:31-46. */
    def sparkCache(label: String,
        storageLevel: StorageLevel = StorageLevel.MEMORY_AND_DISK): SparkDataFlow =
      cacheLabel(label, "sparkCache") { (ds, _) =>
        val cached = ds.persist(storageLevel)
        // count(), not isEmpty: isEmpty evaluates only the first
        // partition, leaving the rest uncached — parallel consumers
        // would still race the computation
        cached.count()
        cached
      }

    /** Post-transform a produced label in place (interceptor).
      * Reference: spark/package.scala:743. */
    def inPlaceTransform(label: String)(f: DataFrame => DataFrame): SparkDataFlow =
      interceptLabel(label, "inPlaceTransform")((ds, _) => f(ds.toDF()))
  }
}
