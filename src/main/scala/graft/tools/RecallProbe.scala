package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Quantization, Similarity}

/** ANN retrieval-quality harness: recall@k of every approximate index family
  * (SRP-LSH, IVF, PQ-ADC, IVF-PQ) against exact ground truth, swept over the
  * parameters one would actually tune on a 1000-executor cluster
  * (probeRadius/nPlanes, nProbe/nLists, m/k codebook size).
  *
  * The correctness gate (q21/q33/q46) proves the indexes are DETERMINISTIC;
  * this harness measures whether they are GOOD — at 100 TB, nProbe and
  * codebook size are chosen from recall-vs-scan-fraction curves like the one
  * this prints, never from defaults.
  *
  * Usage: `sbt "runMain graft.tools.RecallProbe /root/testdata/sf0.1 [repl]"`
  * where `repl` (default 10) also runs the headline configs on a corpus
  * replicated `repl`x with deterministic per-replica jitter — the "does the
  * curve hold when the corpus grows 10x" check.
  *
  * Output: a markdown table on stdout (pasted into COVERAGE.md, labeled
  * local) with one row per (family, params): recall@10 and the scan
  * fraction (share of the corpus scored per query — the cost axis).
  */
object RecallProbe {

  /** Exact squared-L2 top-k — ground truth for the ADC/IVF-PQ families
    * (they approximate L2; cosine truth would grade them on a metric they
    * don't compute). Same shape/tie-break contract as
    * [[Similarity.bruteForceTopK]]: rounded distance, id tie-break. */
  def exactL2TopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      scale: Int = 6): DataFrame = {
    val q = broadcast(queries.select(
      col(idCol).as("query_id"), col(vecCol).cast("array<double>").as("q_vec")))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("c_vec"))
    val sq = aggregate(
      zip_with(col("q_vec"), col("c_vec"), (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, v) => acc + v)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("l2_dist").asc, col("neighbor_id").asc)
    q.crossJoin(c)
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("l2_dist", round(sq, scale))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("l2_dist"),
        col("rank").cast("long").as("rank"))
  }

  /** recall@k: fraction of exact-truth (query, neighbor) pairs the
    * approximate result recovered. Truth rows are k per query, so the
    * micro average equals the per-query macro average. Distributed
    * (semi-join + count); only two scalars reach the driver. */
  def recallAtK(approx: DataFrame, truth: DataFrame): Double = {
    val t = truth.select(col("query_id"), col("neighbor_id"))
    val total = t.count()
    require(total > 0, "recallAtK: empty ground truth")
    val hit = t.join(approx.select(col("query_id"), col("neighbor_id")),
      Seq("query_id", "neighbor_id"), "left_semi").count()
    hit.toDouble / total
  }

  /** Measured SRP scan fraction: expected share of the corpus scored per
    * query = sum over probed buckets of bucket occupancy / N, averaged over
    * queries. Uses the same public plane/bucket API as the index. */
  private def srpScanFraction(corpus: DataFrame, queries: DataFrame,
      nPlanes: Int, dim: Int, probeRadius: Int): Double = {
    val planes = Similarity.hyperplanes(nPlanes, dim)
    val occ = corpus
      .select(Similarity.srpBucket(col("embedding").cast("array<double>"), planes).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n"))
    val masks = (0 to math.min(probeRadius, nPlanes)).flatMap(r =>
      (0 until nPlanes).combinations(r)
        .map(_.foldLeft(0L)((m, b) => m | (1L << b))))
    val exact = Similarity.srpBucket(col("embedding").cast("array<double>"), planes)
    val probed = queries
      .select(col("vec_id").as("query_id"),
        explode(array(masks.map(m => exact.bitwiseXOR(lit(m))): _*)).as("bucket"))
    val nQ = queries.count().toDouble
    val nC = corpus.count().toDouble
    val scanned = probed.join(occ, Seq("bucket"))
      .agg(sum(col("n"))).collect()(0).getLong(0).toDouble
    scanned / (nQ * nC)
  }

  final case class ProbeRow(family: String, params: String,
      corpus: String, recall: Double, scanFrac: Double)

  /** One full sweep over a (corpus, queries) pair. `tag` labels the corpus
    * in the output rows. */
  def sweep(corpus: DataFrame, queries: DataFrame, tag: String, k: Int = 10,
      headlineOnly: Boolean = false): Seq[ProbeRow] = {
    val dim = 64
    val rows = scala.collection.mutable.ArrayBuffer.empty[ProbeRow]

    val truthCos = Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", k)
      .persist()
    val truthL2 = exactL2TopK(corpus, queries, "vec_id", "embedding", k)
      .persist()
    truthCos.count(); truthL2.count()

    // SRP-LSH (cosine family)
    val srpConfigs =
      if (headlineOnly) Seq((8, 1))
      else Seq((6, 0), (6, 1), (8, 0), (8, 1), (8, 2), (10, 1), (10, 2))
    srpConfigs.foreach { case (nPlanes, radius) =>
      val r = recallAtK(Similarity.srpAnnTopK(corpus, queries, "vec_id", "embedding",
        k, nPlanes = nPlanes, dim = dim, probeRadius = radius), truthCos)
      val sf = srpScanFraction(corpus, queries, nPlanes, dim, radius)
      rows += ProbeRow("srp", s"nPlanes=$nPlanes radius=$radius", tag, r, sf)
    }

    // IVF (cosine family)
    val ivfConfigs =
      if (headlineOnly) Seq((16, 4))
      else Seq((8, 1), (8, 2), (8, 4), (8, 8), (16, 1), (16, 2), (16, 4), (16, 8), (32, 2), (32, 4), (32, 8))
    ivfConfigs.foreach { case (nLists, nProbe) =>
      val r = recallAtK(Similarity.ivfTopK(corpus, queries, "vec_id", "embedding",
        k, nLists = nLists, lloydIters = 2, nProbe = nProbe), truthCos)
      rows += ProbeRow("ivf", s"nLists=$nLists nProbe=$nProbe", tag, r,
        nProbe.toDouble / nLists)
    }

    // PQ-ADC (L2 family): full scan, compression is the win — recall is
    // bounded by quantization error alone
    val pqConfigs =
      if (headlineOnly) Seq((8, 16)) else Seq((4, 8), (4, 16), (8, 16), (16, 16), (16, 32))
    pqConfigs.foreach { case (m, kk) =>
      val model = Quantization.train(corpus, "vec_id", "embedding", dim, m, kk,
        lloydIters = 2)
      val r = recallAtK(Quantization.adcTopK(
        Quantization.encode(corpus, "vec_id", "embedding", model),
        queries, "vec_id", "embedding", model, k), truthL2)
      rows += ProbeRow("pq-adc", s"m=$m k=$kk", tag, r, 1.0)
    }

    // IVF-PQ (L2 family): residual codes + cell pruning
    val ivfPqConfigs =
      if (headlineOnly) Seq((16, 4, 8, 16))
      else Seq((16, 1, 8, 16), (16, 2, 8, 16), (16, 4, 8, 16), (16, 8, 8, 16),
        (16, 16, 8, 16), (16, 4, 4, 16), (16, 4, 16, 16), (16, 8, 16, 32))
    ivfPqConfigs.foreach { case (nLists, nProbe, m, kk) =>
      val r = recallAtK(Quantization.ivfPqTopK(corpus, queries, "vec_id", "embedding",
        dim, k, nLists = nLists, coarseIters = 2, nProbe = nProbe,
        m = m, codesPerSubspace = kk, pqIters = 2), truthL2)
      rows += ProbeRow("ivf-pq", s"nLists=$nLists nProbe=$nProbe m=$m k=$kk", tag, r,
        nProbe.toDouble / nLists)
    }

    truthCos.unpersist(); truthL2.unpersist()
    rows.toSeq
  }

  /** The persisted-index path ([[graft.operators.AnnIndex]]): IVF-PQ codes
    * on storage + exact cosine RE-RANK of the ADC shortlist from the raw
    * corpus — the production deployment shape (q136). Graded against
    * cosine truth (the metric the re-rank emits). Each config builds a
    * throwaway index; the scan fraction is the probe share (the re-rank
    * adds one map-side corpus pass over shortlist ids only). */
  def sweepRerank(corpus: DataFrame, queries: DataFrame, tag: String,
      k: Int = 10, headlineOnly: Boolean = false): Seq[ProbeRow] = {
    import graft.operators.AnnIndex
    val spark = corpus.sparkSession
    val truthCos = Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", k)
      .persist()
    truthCos.count()
    val buildTs = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val asOf = java.sql.Timestamp.valueOf("2024-06-01 00:00:00")
    val configs =
      if (headlineOnly) Seq((16, 4, 8, 16))
      else Seq((16, 2, 8, 16), (16, 4, 8, 16), (16, 8, 8, 16), (16, 4, 16, 16))
    val rows = configs.map { case (nLists, nProbe, m, kk) =>
      val baseDir = java.nio.file.Files.createTempDirectory("graft-recall-idx")
      val base = baseDir.toString
      try {
        AnnIndex.buildIvfPq(spark, base, corpus, "vec_id", "embedding",
          nLists = nLists, lloydIters = 2, m = m, codesPerSubspace = kk,
          pqIters = 2, ts = buildTs)
        val r = recallAtK(AnnIndex.queryIvfPqRerank(spark, base, queries, corpus,
          "vec_id", "embedding", k, nProbe, asOf), truthCos)
        ProbeRow("ivfpq-rerank", s"nLists=$nLists nProbe=$nProbe m=$m k=$kk",
          tag, r, nProbe.toDouble / nLists)
      } finally {
        // throwaway indexes must not accumulate in /tmp across probe runs.
        // Files.walk holds open directory handles until closed — consume it
        // fully THEN close before deleting, or each config leaks an fd
        import scala.jdk.CollectionConverters._
        val walk = java.nio.file.Files.walk(baseDir)
        val paths = try walk.iterator().asScala.toSeq finally walk.close()
        paths.sortBy(-_.getNameCount).foreach(p =>
          scala.util.Try(java.nio.file.Files.deleteIfExists(p)))
      }
    }
    truthCos.unpersist()
    rows
  }

  /** Pair recall of [[Similarity.marginMinePairsCelled]] vs the exact miner
    * over the same (X, Y): fraction of exact mined (x_id, y_id) pairs the
    * celled path recovers, swept over probe fraction. Y is a jittered
    * id-offset twin of X (the bitext shape: most xs have one near-true
    * counterpart). Unlike the ANN sweeps this grades PAIRS, not top-k
    * lists — celling changes candidates AND neighbourhood sums, so margins
    * shift slightly and a pair can drop either by missing the candidate or
    * by falling under the threshold. `nProbe = nCells` must be 1.0 by the
    * operator's own contract (spec-pinned bit-equality). */
  def sweepMarginMining(corpus: DataFrame, tag: String, k: Int = 4,
      threshold: Double = 1.0, dim: Int = 64): Seq[ProbeRow] = {
    val dirs = Similarity.hyperplanes(1, dim, seed = 11L)
    val dirLit = array(dirs(0).toIndexedSeq.map(lit): _*)
    val xs = corpus
    val ys = corpus.select((col("vec_id") + lit(5000000L)).as("vec_id"),
      zip_with(col("embedding").cast("array<double>"), dirLit,
        (x, d) => x + d * lit(0.05)).as("embedding"))
    val exact = Similarity.marginMinePairs(xs, ys, "vec_id", "embedding",
      k, threshold).select("x_id", "y_id").persist()
    val total = exact.count().toDouble
    val configs = Seq((32, 2), (32, 4), (32, 8), (32, 16), (32, 32))
    val rows = configs.map { case (nCells, nProbe) =>
      val celled = Similarity.marginMinePairsCelled(xs, ys, "vec_id",
        "embedding", k, threshold, nCells = nCells, nProbe = nProbe)
      val hit = exact.join(celled.select("x_id", "y_id"),
        Seq("x_id", "y_id"), "left_semi").count()
      ProbeRow("margin-celled", s"nCells=$nCells nProbe=$nProbe k=$k",
        tag, hit / total, nProbe.toDouble / nCells)
    }
    exact.unpersist()
    rows
  }

  /** Deterministic replicated corpus: `repl` copies, replica r offset by
    * r*10000 in id and jittered by a fixed md5-derived direction scaled
    * eps*r — grows the corpus without degenerate exact ties (pure copies
    * would tie on cosine; scale-jitter would be cosine-invariant). */
  def replicate(corpus: DataFrame, repl: Int, dim: Int = 64,
      eps: Double = 0.02): DataFrame = {
    val dirs = Similarity.hyperplanes(repl, dim, seed = 7L)
    (0 until repl).map { r =>
      val dirLit = array(dirs(r).toIndexedSeq.map(lit): _*)
      corpus.select(
        (col("vec_id") + lit(r.toLong * 10000L)).as("vec_id"),
        zip_with(col("embedding").cast("array<double>"), dirLit,
          (x, d) => x + d * lit(eps * r)).as("embedding"))
    }.reduce(_ unionByName _)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val repl = if (args.length > 1) args(1).toInt else 10
    val spark = graft.Harness.session()

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      .persist()
    val queries = emb.filter(col("vec_id") < 100).persist()
    println(s"[recall] corpus=${emb.count()} queries=${queries.count()} sf=$sfDir")

    // optional 3rd arg: probe only the named families ("ann", "rerank",
    // "margin") — the margin sweep alone is minutes, the full grid much more
    val fams = args.drop(2).toSet
    def want(f: String) = fams.isEmpty || fams.contains(f)
    val base =
      (if (want("ann")) sweep(emb, queries, tag = f"${emb.count()}") else Nil) ++
      (if (want("rerank")) sweepRerank(emb, queries, tag = f"${emb.count()}") else Nil) ++
      (if (want("margin")) sweepMarginMining(emb, tag = f"${emb.count()}x2") else Nil) // 20k x 20k at sf0.1

    // the 10x check: headline configs only (brute-force truth is repl x
    // bigger; the point is the trend, not the full grid)
    val big = if (repl > 1) {
      val bigCorpus = replicate(emb, repl).persist()
      bigCorpus.count()
      val r = (if (want("ann")) sweep(bigCorpus, queries,
          tag = f"${repl}x=${bigCorpus.count()}", headlineOnly = true) else Nil) ++
        (if (want("rerank")) sweepRerank(bigCorpus, queries,
          tag = f"${repl}x=${bigCorpus.count()}", headlineOnly = true) else Nil) ++
        (if (want("margin")) sweepMarginMining(bigCorpus,
          tag = f"${repl}x=${bigCorpus.count()}x2") else Nil) // 20k x 20k
      bigCorpus.unpersist()
      r
    } else Seq.empty

    println("| family | params | corpus | recall@10 | scan frac |")
    println("|---|---|---|---|---|")
    (base ++ big).foreach { r =>
      println(f"| ${r.family} | ${r.params} | ${r.corpus} | ${r.recall}%.3f | ${r.scanFrac}%.3f |")
    }
    spark.stop()
  }
}
