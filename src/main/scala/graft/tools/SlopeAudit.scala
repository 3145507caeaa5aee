package graft.tools

/** Output-cardinality audit for the sf0.1→sf1 bench-slope flags
  * (`tools/bench_slope.py` → BENCH_SF1_r{N}.json): for each named gate
  * query, count result rows at both scale factors. A pair-generating
  * operator flagged "superlinear" on the replicated sf1 corpus is
  * adjudicated by comparing its COST ratio to its OUTPUT ratio — the
  * replication keeps text/vector columns byte-identical across the 10
  * replicas, so every duplicate group grows 10×, candidate pairs inside a
  * group grow ~100×, and an output-bound operator legitimately costs ~100×
  * while staying linear in the work it emits. A cost ratio at or BELOW the
  * output ratio means per-row cost did not grow; a cost ratio far above it
  * would be a real algorithmic superlinearity.
  *
  * `count()` executes the cardinality-defining joins/aggregations while
  * pruning final projections — the cheap way to measure output size
  * without timing-relevant side work.
  *
  * Usage: runMain graft.tools.SlopeAudit q17_ngram_jaccard_pairs,... \
  *        /root/testdata/sf0.1 /tmp/sfdata/sf1
  */
object SlopeAudit {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val dirs = args.drop(1).toSeq
    val spark = graft.Harness.session()
    val counts = for (n <- names; d <- dirs) yield {
      val c = graft.SparkEntry.queries(n)(spark, d).count()
      println(s"[slope-audit] $n $d rows=$c")
      (n, d, c)
    }
    // per-query output ratio across the first two dirs, for the artifact
    if (dirs.size == 2) names.foreach { n =>
      val byDir = counts.filter(_._1 == n).map(r => r._2 -> r._3).toMap
      val (a, b) = (byDir(dirs(0)).toDouble, byDir(dirs(1)).toDouble)
      println(f"[slope-audit] $n output_ratio=${if (a > 0) b / a else -1}%.1f")
    }
    spark.stop()
  }
}
