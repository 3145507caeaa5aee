package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one harness every `main` runs on: one session conf, one query-name
  * selector, one way to execute a plan, one way to clear blocks between
  * queries. Verify oracle-checks exactly the configuration Bench times. */
object Harness {

  /** Local cores: `SPARK_GRAFT_CPUS`, default 32. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** `local[cpus]` session with the timed conf. */
  def session(cpus: Int = Harness.cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.scheduler.mode", "FAIR") // concurrent branches share cores fairly
      // respect the advisory partition size when coalescing instead of
      // maximising partition count: small post-shuffle stages collapse to a
      // handful of tasks (less scheduling overhead here, right-sized
      // partitions on a real cluster)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      // Spark's default parquet timestamp output (INT96) surfaces as
      // timestamp[ns] in the oracle's reader. Do NOT pin
      // outputTimestampType: a TIMESTAMP_MICROS pin flipped every
      // timestamp-emitting query to schema_match=false. Far-future sentinels
      // use 2200-01-01 (< the 2262 ns ceiling) instead — see SparkEntry q48.
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `names` sorted, kept when they start with one of the comma-separated
    * `only` prefixes and none of the `skip` prefixes. An absent list or
    * `"-"` means no filter. */
  def select(names: Iterable[String], only: Option[String],
      skip: Option[String]): Seq[String] = {
    def prefixes(arg: Option[String]) = arg.filter(_ != "-").map(_.split(",").toSeq)
    val (keep, drop) = (prefixes(only), prefixes(skip).getOrElse(Seq.empty))
    names.toSeq.sorted
      .filter(n => keep.forall(_.exists(n.startsWith)))
      .filterNot(n => drop.exists(n.startsWith))
  }

  /** Execute the FULL physical plan, not `count()`: Catalyst prunes unused
    * projections (and drops sorts) under a count, so a map-only query would
    * be timed as a bare scan. `toRdd` runs the plan as a sink consumes it. */
  def runFully(df: DataFrame): Long = df.queryExecution.toRdd.count()

  /** Drop persistent blocks a finished query left behind (localCheckpoint
    * materializations only free on GC and pile up into executor-memory
    * pressure across a suite), so each query starts from a clean block
    * manager, like a fresh job submission on a shared cluster. */
  def dropStrayBlocks(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(r =>
      scala.util.Try(r.unpersist(blocking = false)))
    spark.sharedState.cacheManager.clearCache()
  }
}
