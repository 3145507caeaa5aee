package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSparkSession}
import org.apache.spark.sql.types.StructType

/** Minimal bridge into two `private[sql]` members that a library needs and
  * Spark does not expose publicly: the Dataset constructor (for a custom
  * [[LogicalPlan]] node planned by an injected strategy, like
  * [[graft.plans.AsOfJoinPlan]]) and the schema merge behind parquet's
  * `mergeSchema`. Lives in `org.apache.spark.sql` for the access scope
  * only; contains no Spark-internal logic. */
object GraftSqlBridge {

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    ClassicDataset.ofRows(spark.asInstanceOf[ClassicSparkSession], plan)

  /** `a` merged with `b` as a `mergeSchema` read of files written with
    * both would see it: `a`'s fields first, then `b`'s new ones, nested
    * structs merged, every field nullable. Throws on an incompatible type. */
  def mergeSchemas(a: StructType, b: StructType, caseSensitive: Boolean): StructType =
    a.merge(b, caseSensitive).asNullable
}
