package graft.tools

import org.apache.spark.sql.functions._

/** Local-iteration probe: where does a warm learnBpe spend its time?
  * Runs the learn twice (cold, warm) and prints per-phase seconds. */
object BpeProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Harness.session()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    def timed[A](tag: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"PROBE $tag ${(System.nanoTime() - t0) / 1e9}%.3f s"); r
    }
    // SPARK_GRAFT_BPE_SCALE=<n>: the >=1k-merge probe (realistic-vocab
    // scale check). The synthetic testdata's natural word vocabulary is
    // only ~47 distinct words (documents' 31 + part names' 16) and BPE
    // saturates once every distinct word is a single symbol — a few
    // hundred merges — so the scale corpus widens it with md5-derived hash
    // words per document (deterministic; the long-tail fragment shape a
    // real crawl vocabulary has). Prints total seconds and s/merge.
    sys.env.get("SPARK_GRAFT_BPE_SCALE").foreach { n =>
      val part = spark.read.parquet(s"$sfDir/part.parquet")
      val corpus = docs
        .select(concat_ws(" ", col("text"),
          md5(concat(col("text"), col("doc_id"))),
          md5(concat(col("doc_id"), col("text")))).as("text"))
        .unionByName(part.select(col("p_name").as("text")))
      // distributed rounds vs the driver-local exact trainer (round 11):
      // same corpus, same merge count — the local path must show the
      // rounds-free cost profile that makes a 32k-vocab train practical
      val t1 = System.nanoTime()
      val (ml, vl) = graft.operators.Bpe.learnBpeLocal(corpus, col("text"), n.toInt)
      val secL = (System.nanoTime() - t1) / 1e9
      vl.unpersist()
      println(f"PROBE scale LOCAL merges=${ml.size} total=$secL%.1f s " +
        f"perMerge=${secL / math.max(ml.size, 1)}%.4f s")
      if (sys.env.get("SPARK_GRAFT_BPE_SKIP_DIST").isEmpty) {
        val t0 = System.nanoTime()
        val (m, v) = graft.operators.Bpe.learnBpe(corpus, col("text"), n.toInt)
        val sec = (System.nanoTime() - t0) / 1e9
        v.unpersist()
        println(f"PROBE scale DISTRIBUTED merges=${m.size} total=$sec%.1f s " +
          f"perMerge=${sec / math.max(m.size, 1)}%.4f s")
        val same = m.map(x => (x.left, x.right, x.count)) ==
          ml.map(x => (x.left, x.right, x.count))
        println(s"PROBE scale merge tables identical: $same")
      }
      spark.stop()
      return
    }
    // SPARK_GRAFT_BPE_FLOOR=<maxMerges>: merge-table agreement of minCount
    // truncation vs full exact training on the gate corpus (round-12
    // verdict item 4 — the documented approximation, measured). Floors 2,
    // 3, 5 against the full table: first divergence index and merge-SET
    // overlap. The corpus is the same widened one the scale probe uses.
    sys.env.get("SPARK_GRAFT_BPE_FLOOR").foreach { n =>
      val part = spark.read.parquet(s"$sfDir/part.parquet")
      val corpus = docs
        .select(concat_ws(" ", col("text"),
          md5(concat(col("text"), col("doc_id"))),
          md5(concat(col("doc_id"), col("text")))).as("text"))
        .unionByName(part.select(col("p_name").as("text")))
      val counts = graft.operators.Bpe.wordCounts(corpus, col("text"))
        .localCheckpoint(true)
      val total = counts.count()
      val (full, vFull) =
        graft.operators.Bpe.learnBpeLocalFromCounts(counts, n.toInt)
      vFull.unpersist()
      val fullKeys = full.map(m => (m.left, m.right))
      // ids for the serving-side OOV-mass measurement below
      val served = corpus.withColumn("doc_id", monotonically_increasing_id())
      // floors 1000/10000 are the round-13 OOV-mass rows: at those floors
      // the md5 tail (cnt ~ 1-2 per hash word) is entirely out-of-vocab,
      // so tokenizeWithVocab's fallback carries real load
      for (floor <- Seq(2L, 3L, 5L, 1000L, 10000L)) {
        val retained = counts.where(col("cnt") >= floor).count()
        val t0 = System.nanoTime()
        val (fl, vF) = graft.operators.Bpe.learnBpeLocalFromCounts(
          counts, n.toInt, minCount = floor)
        val sec = (System.nanoTime() - t0) / 1e9
        val flKeys = fl.map(m => (m.left, m.right))
        val firstDiv = fullKeys.zip(flKeys).indexWhere { case (a, b) => a != b }
        val overlap = flKeys.toSet.intersect(fullKeys.toSet).size.toDouble /
          math.max(fullKeys.size, 1)
        // serving-time OOV token mass under this floor's truncated vocab
        val m = graft.operators.Bpe.tokenizeWithVocab(
            served, col("doc_id"), col("text"), vF, fl)
          .agg(sum(col("n_tok")).as("t"), sum(col("n_oov_tok")).as("o"))
          .collect()(0)
        vF.unpersist()
        val (nTok, nOov) = (m.getLong(0), m.getLong(1))
        println(f"PROBE floor=$floor retained=$retained/$total " +
          f"merges=${fl.size} firstDivergence=$firstDiv " +
          f"setOverlap=$overlap%.4f train=$sec%.1f s " +
          f"oovTok=$nOov/$nTok (${100.0 * nOov / math.max(nTok, 1L)}%.2f%%)")
      }
      spark.stop()
      return
    }
    // SPARK_GRAFT_BPE_HUGE=<numMerges>: the 100 TB tokenizer-train shape —
    // a synthetic zipfian count table at 10^8 DISTINCT WORDS (far past any
    // collect cap), truncated by the standard minCount floor to the
    // vocabulary that carries the mass, then trained exactly. Done-bar:
    // a 32k-vocab-scale train lands in minutes.
    sys.env.get("SPARK_GRAFT_BPE_HUGE").foreach { n =>
      val distinct = sys.env.getOrElse("SPARK_GRAFT_BPE_HUGE_WORDS", "100000000").toLong
      val floor = sys.env.getOrElse("SPARK_GRAFT_BPE_HUGE_FLOOR", "10000").toLong
      // rank r (1-based) gets count floor(1e9/r): rank 10^5 ~ 10^4, rank
      // 10^8 ~ 10 — the zipf shape of a crawl vocabulary. Words are
      // md5-derived, 6-15 chars (real retained vocabularies average ~8-12
      // chars; the first huge-probe cut used full 32-char hex, which is a
      // pair-DENSE worst case no natural vocabulary exhibits — every word
      // maximum-length over a 16-char alphabet spreads merge work
      // uniformly). Truncated prefixes can collide, so counts re-aggregate
      // by word — a real count table is distinct by construction. Timing
      // includes the distributed count scan + filter + collect, i.e. the
      // whole train-from-count-table path.
      val countsHuge = spark.range(distinct)
        .select(expr("substring(md5(cast(id as string)), 1, " +
            "6 + cast(pmod(id, 10) as int))").as("word"),
          greatest(lit(1L), (lit(1000000000L) / (col("id") + 1)).cast("long")).as("cnt"))
        .groupBy(col("word")).agg(sum(col("cnt")).as("cnt"))
      val t0 = System.nanoTime()
      val (m, v) = graft.operators.Bpe.learnBpeLocalFromCounts(
        countsHuge, n.toInt, minCount = floor)
      val sec = (System.nanoTime() - t0) / 1e9
      val vocabRows = v.count()
      println(f"PROBE huge distinct=$distinct floor=$floor " +
        f"retained=$vocabRows merges=${m.size} total=$sec%.1f s " +
        f"perMerge=${sec / math.max(m.size, 1)}%.4f s")
      // SERVING at the trained scale (round-13 verdict 1b's done-bar): a
      // floored corpus slice tokenized with the FULL merge table through
      // the constant-depth graft_bpe_encode kernel — md5-derived words are
      // overwhelmingly sub-floor, so the OOV fallback carries the load;
      // the chained per-merge fold could not even ANALYZE at this size
      val serveDocs = spark.range(20000)
        .select(col("id").as("doc_id"),
          expr("concat_ws(' ', " +
            "substring(md5(cast(id as string)), 1, 6 + cast(pmod(id, 10) as int)), " +
            "substring(md5(cast(id + 7 as string)), 1, 6 + cast(pmod(id + 7, 10) as int)))")
            .as("text"))
      val t1 = System.nanoTime()
      val served = graft.operators.Bpe.tokenizeWithVocab(
          serveDocs, col("doc_id"), col("text"), v, m)
        .agg(sum(col("n_tok")), sum(col("n_oov_tok"))).collect()(0)
      val serveSec = (System.nanoTime() - t1) / 1e9
      v.unpersist()
      println(f"PROBE huge serve docs=20000 merges=${m.size} " +
        f"tok=${served.getLong(0)} oovTok=${served.getLong(1)} " +
        f"time=$serveSec%.1f s")
      spark.stop()
      return
    }
    // SPARK_GRAFT_BPE_MERGES: vocabulary size for the learn probe (the
    // round-8 verdict's done-bar is a 256-merge learn under 30s at sf0.1)
    val merges = sys.env.getOrElse("SPARK_GRAFT_BPE_MERGES", "8").toInt
    for (round <- Seq("cold", "warm")) {
      timed(s"$round total") {
        val (m, v) = graft.operators.Bpe.learnBpe(docs, col("text"), merges)
        timed(s"$round tokenize") {
          graft.operators.Bpe.tokenizeWithVocab(docs, col("doc_id"), col("text"), v).count()
        }
        v.unpersist()
        println(s"PROBE $round merges=${m.size}")
      }
    }
    // inline replication of the learn loop with per-phase timing
    graft.sql.functions.ensureRegistered(spark)
    var vocab = docs
      .select(explode(regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).cast("long").as("cnt"))
      .withColumn("syms", transform(sequence(lit(1), length(col("word"))),
        i => col("word").substr(i, lit(1))))
      .persist()
    println(s"PROBE vocab rows=${timed("vocab count")(vocab.count())}")
    var prev: org.apache.spark.sql.DataFrame = null
    for (it <- 1 to 8) {
      val pc = {
        val n = size(col("syms"))
        vocab.where(n > 1)
          .select(col("cnt"), explode(zip_with(
            slice(col("syms"), lit(1), n - 1), slice(col("syms"), lit(2), n - 1),
            (a, b) => struct(a.as("s1"), b.as("s2")))).as("pr"))
          .groupBy(col("pr.s1").as("s1"), col("pr.s2").as("s2"))
          .agg(sum(col("cnt")).cast("long").as("pcnt"))
      }
      val best = timed(s"it$it argmax")(
        pc.orderBy(desc("pcnt"), asc("s1"), asc("s2")).limit(1).collect())
      if (prev != null) { prev.unpersist(); prev = null }
      val (l, r) = (best(0).getString(0), best(0).getString(1))
      val next = timed(s"it$it plan")(vocab.withColumn("syms",
        call_function("graft_bpe_merge", col("syms"), lit(l), lit(r))).persist())
      prev = vocab; vocab = next
    }
    timed("final count")(vocab.count())
    spark.stop()
  }
}
