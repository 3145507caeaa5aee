package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-14 measurement (verdict item 5): q34's as-of join shape — MANY
  * events per user against a large deduped right side — through BOTH
  * as-of implementations, at the same scale factor:
  *
  *  - `union-carry` — [[graft.operators.Temporal.asofJoin]]'s
  *    union-and-carry-forward plan (one keyed exchange + window with
  *    WindowGroupLimit pushdown), q34's shape since round 6;
  *  - `native` — [[graft.plans.AsOfJoinExec]] (sort-merge regime, one
  *    exchange + sort per side, O(1) merge state per key), which serves
  *    q124/q129/q137.
  *
  * Run: SPARK_GRAFT_SF_DIR=<dir> runMain graft.tools.AsofShapeProbe
  * Prints PROBE lines with per-variant wall times (2 runs each) and the
  * row-count + checksum agreement between the variants.
  */
object AsofShapeProbe {

  private def events(s: SparkSession, dir: String): DataFrame = {
    val raw = s.read.parquet(s"$dir/events.parquet")
    raw.schema("ts").dataType.typeName match {
      case "long" => raw.withColumn("ts", (col("ts") / 1000000000L).cast("timestamp"))
      case _ => raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.Harness.session()
    graft.plans.AsOf.ensureStrategy(spark)

    val ev = events(spark, dir).select(col("event_id"), col("user_id"), col("ts"))
    val w = Window.partitionBy(col("o_custkey"), col("o_orderdate"))
      .orderBy(col("o_orderkey").desc)
    def ord: DataFrame = spark.read.parquet(s"$dir/orders.parquet")
      .withColumn("rn", row_number().over(w)).where(col("rn") === 1)

    def unionCarry(): DataFrame = {
      import graft.operators.Temporal
      Temporal.asofJoin(ev,
        ord.select(col("o_custkey").as("user_id"), col("o_orderdate"),
          col("o_orderkey"), col("o_totalprice")),
        Seq("user_id"), "ts", "o_orderdate",
        payloadCols = Seq("o_orderkey", "o_totalprice"))
        .select(col("event_id"), col("user_id"), col("ts"), col("o_orderkey"),
          round(col("o_totalprice"), 2).as("o_totalprice"))
    }

    def native(): DataFrame = {
      import graft.plans.AsOf
      AsOf.asOfJoin(ev,
        ord.select(col("o_custkey").as("r_user"),
          col("o_orderdate").cast("timestamp").as("r_ts"),
          col("o_orderkey"), col("o_totalprice")),
        Seq("user_id"), Seq("r_user"), "ts", "r_ts",
        broadcastRight = Some(false))
        .select(col("event_id"), col("user_id"), col("ts"), col("o_orderkey"),
          round(col("o_totalprice"), 2).as("o_totalprice"))
    }

    def check(df: DataFrame): (Long, Long) = {
      val r = df
        .select(col("event_id"),
          xxhash64(col("event_id"), col("o_orderkey"), col("o_totalprice")).as("h"))
        .agg(count(lit(1)), expr("bit_xor(h)"))
        .collect()(0)
      (r.getLong(0), r.getLong(1))
    }

    for ((name, mk) <- Seq(
        ("union-carry", () => unionCarry()), ("native", () => native()))) {
      for (run <- 1 to 2) {
        val t0 = System.nanoTime()
        val (n, h) = check(mk())
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"PROBE asof shape=$name run=$run rows=$n checksum=$h time=$sec%.2f s")
      }
    }
    spark.stop()
  }
}
