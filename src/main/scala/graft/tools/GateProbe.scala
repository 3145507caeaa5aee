package graft.tools

import graft.Harness
import org.apache.spark.sql.functions._

/** Local-iteration probe for the round-12 collapse duplication gate: where
  * does a gated pair-operator run spend its time on the LOW-duplication
  * bench corpus — signature materialization, the gate aggregate, or the
  * chosen pair path? Prints per-stage seconds for q17's exact shape. */
object GateProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    def timed[A](tag: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"PROBE $tag ${(System.nanoTime() - t0) / 1e9}%.3f s"); r
    }
    def run(tag: String): Unit = timed(tag) {
      Harness.runFully(graft.operators.Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        Seq(col("lang"), floor(col("n_chars") / lit(200)).as("len_bucket")), 3, 0.7))
    }
    // stage split: prepare+materialize, gate agg, then full run per mode
    val prepped = timed("prepare+materialize") {
      graft.operators.Dedup.prepareNgrams(docs, "doc_id", "text",
          Seq(col("lang"), floor(col("n_chars") / lit(200)).as("len_bucket")), 3)
        .withColumn("ck", struct(
          xxhash64(col("block"), col("grams")).as("k1"),
          xxhash64(lit(1L), col("block"), col("grams")).as("k2")))
        .localCheckpoint(true)
    }
    for (r <- 1 to 2) timed(s"gate agg r$r") {
      graft.operators.CollapseGate.collapseWorthIt(
        prepped, col("doc_id"), col("ck"))
    }
    for (r <- 1 to 2) timed(s"agg count only r$r") {
      prepped.agg(count(lit(1))).head()
    }
    for (r <- 1 to 2) timed(s"agg countDistinct(id) r$r") {
      prepped.agg(countDistinct(col("doc_id"))).head()
    }
    for (r <- 1 to 2) timed(s"agg hll(ck) r$r") {
      prepped.agg(approx_count_distinct(col("ck"), 0.01)).head()
    }
    for (r <- 1 to 2) timed(s"agg hll(ck) rsd=0.05 r$r") {
      prepped.agg(approx_count_distinct(col("ck"), 0.05)).head()
    }
    for (r <- 1 to 2) timed(s"agg combined r$r") {
      prepped.agg(count(lit(1)), countDistinct(col("doc_id")),
        approx_count_distinct(col("ck"), 0.01)).head()
    }
    for (r <- 1 to 2) timed(s"agg slim-projected combined r$r") {
      prepped.select(col("doc_id"), col("ck"))
        .agg(count(lit(1)), countDistinct(col("doc_id")),
        approx_count_distinct(col("ck"), 0.01)).head()
    }
    for (mode <- Seq("auto", "never", "always"); r <- 1 to 2) {
      if (mode == "auto") spark.conf.unset("spark.graft.collapse.force")
      else spark.conf.set("spark.graft.collapse.force", mode)
      run(s"q17 shape force=$mode r$r")
    }
    spark.conf.unset("spark.graft.collapse.force")
    spark.stop()
  }
}
