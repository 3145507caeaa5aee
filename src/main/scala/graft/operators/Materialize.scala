package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.storage.StorageLevel

/** Eager materialization point for operators that reuse an intermediate
  * across branches or iterations.
  *
  * Two modes, chosen by `spark.graft.materialize.mode`:
  *
  *  - `localCheckpoint` (default): cuts lineage and stores blocks on the
  *    executors; blocks are reclaimed when the frame is garbage collected,
  *    so nothing leaks in long sessions. Trade-off: blocks are NOT
  *    recomputable — an executor loss mid-pipeline fails the job. Right for
  *    local mode, static allocation, and short pipelines.
  *  - `persist`: replicated MEMORY_AND_DISK_2 persist, forced eagerly.
  *    Survives single-executor loss (replica) and anything worse (lineage
  *    recompute). Right for long-running clusters with dynamic allocation.
  *    Trade-off: lineage is retained (plans grow across iterations) and the
  *    cache entry lives until evicted or the session ends.
  */
private[graft] object Materialize {

  /** True in persist mode; unset means `localCheckpoint`, any other value
    * throws. */
  private def persistMode(df: DataFrame): Boolean =
    df.sparkSession.conf.getOption("spark.graft.materialize.mode") match {
      case None | Some("localCheckpoint") => false
      case Some("persist") => true
      case Some(other) => throw new IllegalArgumentException(
        s"spark.graft.materialize.mode=$other; allowed: localCheckpoint, persist")
    }

  def apply(df: DataFrame): DataFrame =
    if (persistMode(df)) {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK_2)
      p.count() // force now: reused branches must not race the first fill
      p
    } else df.localCheckpoint(true)

  /** Drop a materialization produced by [[apply]] once superseded.
    * Iterative operators MUST call this on each round's predecessor in
    * persist mode or replicated cache entries accumulate per iteration;
    * no-op in localCheckpoint mode (blocks free on GC). */
  def release(df: DataFrame): Unit =
    if (persistMode(df)) df.unpersist()

  /** The small-state switch of the iterative operators: count `df`, a frame
    * from [[apply]], and collect it only when it holds at most `limit` rows,
    * so the caller can run its loop on the driver with no per-round Spark
    * job. Both actions read the stored blocks; the count is one job over
    * them, with no aggregation shuffle. None above the cap: the caller keeps
    * the distributed path, on the same `df`. */
  def collectIfAtMost(df: DataFrame, limit: Long): Option[Array[Row]] =
    if (df.queryExecution.toRdd.count() <= limit) Some(df.collect()) else None
}
