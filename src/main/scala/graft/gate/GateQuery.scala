package graft.gate

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One gate query: its Spark build over an sf directory beside the DuckDB
  * SQL its result is hash-compared against. Column names and result types
  * are aligned between both sides. */
final case class GateQuery(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracleSql: String)

object GateQuery {

  /** The families concatenated into one registry. A name declared twice is
    * an error here; a `Map` literal would keep the last one silently. */
  def registry(families: Seq[GateQuery]*): Seq[GateQuery] = {
    val all = families.flatten
    val twice = all.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(twice.isEmpty, s"gate query names declared twice: ${twice.toSeq.sorted.mkString(", ")}")
    all
  }
}
