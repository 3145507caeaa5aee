package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import graft.SparkTestBase

class OperatorsSpec extends SparkTestBase with Matchers {

  import spark.implicits._

  describe("connected components") {
    it("labels components with the minimum vertex id") {
      val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("src", "dst")
      val cc = Graphs.connectedComponents(edges, "src", "dst")
        .as[(Long, Long)].collect().sortBy(_._1)
      cc shouldBe Array((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
    }

    it("handles chains longer than one hop (propagation, not one-step)") {
      val chain = (1L until 8L).map(i => (i, i + 1)).toDF("src", "dst")
      val cc = Graphs.connectedComponents(chain, "src", "dst")
        .as[(Long, Long)].collect()
      cc.map(_._2).distinct shouldBe Array(1L)
    }

    it("auto (driver union-find) matches the distributed labels exactly") {
      val rnd = new scala.util.Random(7)
      val edges = (1 to 300).map(_ => (rnd.nextInt(100).toLong, rnd.nextInt(100).toLong))
        .toDF("src", "dst")
      val driver = Graphs.connectedComponentsAuto(edges, "src", "dst")
        .as[(Long, Long)].collect().sortBy(_._1).toSeq
      val dist = Graphs.connectedComponentsAuto(edges, "src", "dst", driverEdgeLimit = 0L)
        .as[(Long, Long)].collect().sortBy(_._1).toSeq
      driver shouldBe dist
    }

    it("auto falls back to distributed for non-integral vertex ids") {
      val edges = Seq(("a", "b"), ("b", "c"), ("x", "y")).toDF("src", "dst")
      val cc = Graphs.connectedComponentsAuto(edges, "src", "dst")
        .as[(String, String)].collect().sortBy(_._1)
      cc shouldBe Array(("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x"))
    }

    it("dedupClusters maps singletons to themselves with keep=true") {
      val docs = Seq(1L, 2L, 3L, 4L).toDF("doc_id")
      val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
      val out = Graphs.dedupClusters(docs, "doc_id", pairs, "id_a", "id_b")
        .as[(Long, Long, Boolean)].collect().sortBy(_._1)
      out shouldBe Array((1L, 1L, true), (2L, 1L, false), (3L, 3L, true), (4L, 4L, true))
    }
  }

  describe("pageRank") {
    it("a 2-cycle is the exact fixed point: both vertices hold 0.5") {
      val edges = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
      val pr = Graphs.pageRank(edges, "src", "dst", iterations = 5)
        .as[(String, Double)].collect().toMap
      pr shouldBe Map("a" -> 0.5, "b" -> 0.5)
    }

    it("ranks the vertex with more in-links higher; dangling vertices kept") {
      // b receives from a, c, d; e receives only from b; a,c,d receive nothing
      val edges = Seq(("a", "b"), ("c", "b"), ("d", "b"), ("b", "e"))
        .toDF("src", "dst")
      val pr = Graphs.pageRank(edges, "src", "dst", iterations = 3)
        .as[(String, Double)].collect().toMap
      pr.keySet shouldBe Set("a", "b", "c", "d", "e")
      // at the fixed point e outranks b: b's three sources hold only
      // teleport mass (3 x 0.03 x 0.85 = 0.0765 in), while e receives
      // 0.85 x pr(b) = 0.0905 — more mass from one strong link than from
      // three weak ones
      pr("e") should be > pr("b")
      pr("b") should be > pr("a")
      pr("a") shouldBe pr("c") // symmetric sources
      // exact 3-iteration values, hand-computed
      pr("a") shouldBe 0.03 +- 1e-9
      pr("b") shouldBe 0.1065 +- 1e-9
      pr("e") shouldBe 0.120525 +- 1e-9
    }

    it("multi-edges carry multiplicity and results are partitioning-stable") {
      val edges = Seq(("a", "b"), ("a", "b"), ("a", "c")).toDF("src", "dst")
      val pr = Graphs.pageRank(edges, "src", "dst", iterations = 2)
        .as[(String, Double)].collect().toMap
      // a's mass splits 2/3 to b, 1/3 to c
      pr("b") should be > pr("c")
      val again = Graphs.pageRank(edges.repartition(7), "src", "dst", iterations = 2)
        .as[(String, Double)].collect().toMap
      again shouldBe pr
    }
  }

  describe("personalizedPageRank") {
    it("mass flows only from the seed set; unreachable vertices score zero") {
      // seed a -> b -> c; x -> y is disconnected from the seed
      val edges = Seq(("a", "b"), ("b", "c"), ("x", "y")).toDF("src", "dst")
      val pr = Graphs.personalizedPageRank(edges, "src", "dst",
        seeds = Seq("a"), iterations = 3)
        .as[(String, Double)].collect().toMap
      pr("x") shouldBe 0.0
      pr("y") shouldBe 0.0
      pr("a") should be > 0.0 // restart mass
      pr("b") should be > pr("c") // one hop from seed vs two
      pr("c") should be > 0.0
      an[IllegalArgumentException] should be thrownBy
        Graphs.personalizedPageRank(edges, "src", "dst", seeds = Seq.empty)
    }
  }

  describe("IVF ANN") {
    it("achieves high recall against brute force on the test embeddings") {
      val emb = spark.read.parquet(s"${sf("sf0.01")}/embeddings.parquet")
      val queries = emb.filter(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      val approx = Similarity.ivfTopK(emb, queries, "vec_id", "embedding", 5,
        nLists = 8, lloydIters = 2, nProbe = 4)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      val recall = (exact intersect approx).size.toDouble / exact.size
      recall should be >= 0.5 // nProbe=4 of 8 cells; exact-search fallback is bruteForceTopK
      approx.groupBy(_._1).values.foreach(_.size should be <= 5)
    }
  }

  describe("corpusOverlap") {
    it("estimates 1.0 for identical corpora, near 0 for disjoint ones, and is partitioning-independent") {
      val docs = Seq(
        ("a", "the quick brown fox jumps over the lazy dog again and again"),
        ("a", "pack my box with five dozen liquor jugs right now please"),
        ("b", "the quick brown fox jumps over the lazy dog again and again"),
        ("b", "pack my box with five dozen liquor jugs right now please"),
        ("c", "entirely different content regarding shuffle partitions and parquet row groups")
      ).toDF("src", "text")
      val out = Dedup.corpusOverlap(docs, "src", "text")
        .orderBy("group_a", "group_b")
        .as[(String, String, Double)].collect().toSeq
      out.map(r => (r._1, r._2)) shouldBe Seq(("a", "b"), ("a", "c"), ("b", "c"))
      out.head._3 shouldBe 1.0 // identical shingle sets -> all minima agree
      out(1)._3 should be < 0.2 // disjoint vocabulary -> few collisions
      out(2)._3 shouldBe out(1)._3 // b has a's exact shingle set

      val re = Dedup.corpusOverlap(docs.repartition(7), "src", "text")
        .orderBy("group_a", "group_b")
        .as[(String, String, Double)].collect().toSeq
      re shouldBe out // component-wise min is order-insensitive
    }
  }

  describe("dedupCorpus") {
    it("keeps exactly one doc per near-dup cluster with the original schema") {
      val docs = spark.read.parquet(s"${sf("sf0.01")}/documents.parquet")
      val blockCols = Seq(col("lang"), floor(col("n_chars") / lit(50)).as("len_bucket"))
      val deduped = Dedup.dedupCorpus(docs, "doc_id", "text", blockCols, 3, 0.7)
      deduped.columns shouldBe docs.columns
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", blockCols, 3, 0.7)
        .as[(Long, Long, Double)].collect()
      val dropped = docs.count() - deduped.count()
      dropped should be > 0L // the corpus does contain near-dups
      // no near-dup pair survives intact (chains may drop both ends)
      val kept = deduped.select("doc_id").as[Long].collect().toSet
      pairs.foreach { case (a, b, _) =>
        (kept.contains(a) && kept.contains(b)) shouldBe false
      }
    }
  }

  describe("approx distinct sketch") {
    it("HLL++ estimate stays within the configured relative error of the exact count") {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true") // events ts is ns
      val ev = spark.read.parquet(s"${sf("sf0.01")}/events.parquet")
      val rows = ev.groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id"), 0.01).as("approx"),
          countDistinct(col("user_id")).as("exact"))
        .as[(String, Long, Long)].collect()
      rows should not be empty
      rows.foreach { case (_, approx, exact) =>
        math.abs(approx - exact).toDouble / exact should be <= 0.05 // 5x the 1% rsd
      }
    }
  }

  describe("materialize modes") {
    it("persist mode produces the same components as localCheckpoint mode") {
      val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
      val default = Graphs.connectedComponents(edges, "a", "b")
        .as[(Long, Long)].collect().toSet
      spark.conf.set("spark.graft.materialize.mode", "persist")
      try {
        val persisted = Graphs.connectedComponents(edges, "a", "b")
          .as[(Long, Long)].collect().toSet
        persisted shouldBe default
        persisted shouldBe Set(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L)
      } finally spark.conf.unset("spark.graft.materialize.mode")
      // an unknown mode fails instead of silently meaning localCheckpoint
      spark.conf.set("spark.graft.materialize.mode", "Persist")
      try intercept[IllegalArgumentException](Graphs.connectedComponents(edges, "a", "b"))
        .getMessage should (include("spark.graft.materialize.mode") and
          include("localCheckpoint, persist"))
      finally spark.conf.unset("spark.graft.materialize.mode")
    }
  }

  describe("incremental ngram dedup") {
    it("delta-vs-corpus pairs equal the full run restricted to delta-touching pairs") {
      val docs = spark.read.parquet(s"${sf("sf0.01")}/documents.parquet")
      val blockCols = Seq(col("lang"), floor(col("n_chars") / lit(50)).as("len_bucket"))
      val corpus = docs.filter(col("doc_id") < 400)
      val delta = docs.filter(col("doc_id") >= 400)

      val full = Dedup.ngramJaccardPairs(docs, "doc_id", "text", blockCols, 3, 0.7)
        .as[(Long, Long, Double)].collect()
        .filter { case (a, b, _) => a >= 400 || b >= 400 } // pairs touching the delta
        .map { case (a, b, j) => if (a >= 400) (a, b, j) else (b, a, j) } // delta id first
        .toSet

      val corpusPrepped = Dedup.prepareNgrams(corpus, "doc_id", "text", blockCols, 3)
      val incr = Dedup.incrementalNgramJaccardPairs(
        corpusPrepped, delta, "doc_id", "text", blockCols, 3, 0.7)
        .as[(Long, Long, Double)].collect().toSet

      incr shouldBe full
      // sanity: the delta actually has near-dup partners in this corpus
      incr should not be empty
    }

    it("does not double-emit pairs for docs present in both corpus and delta") {
      val docs = Seq(
        (1L, "the quick brown fox jumps over the lazy dog"),
        (2L, "the quick brown fox jumps over the lazy cat")).toDF("doc_id", "text")
      val corpusPrepped = Dedup.prepareNgrams(docs, "doc_id", "text", Seq(lit(1).as("b")), 3)
      // the whole corpus is re-ingested as the delta: every pair must appear once
      val incr = Dedup.incrementalNgramJaccardPairs(
        corpusPrepped, docs, "doc_id", "text", Seq(lit(1).as("b")), 3, 0.5)
        .as[(Long, Long, Double)].collect().toSeq
      incr.length shouldBe 1
      (incr.head._1, incr.head._2) shouldBe ((1L, 2L))
    }
  }

  describe("batched media decode") {
    it("kernel path matches the column-expression stub and inits once per partition") {
      val docs = spark.read.parquet(s"${sf()}/documents.parquet").limit(50)
      val media = Multimodal.withContent(docs, "text")

      val inits = spark.sparkContext.longAccumulator("kernel_inits")
      val counting: Multimodal.MediaKernel[Multimodal.DecodedImage] = () => {
        inits.add(1)
        Multimodal.imageKernelStub()
      }
      val repartitioned = Multimodal.repartitionForDecode(media, "content",
        targetBytesPerPartition = 4096)
      val batched = Multimodal.decodePartitioned(repartitioned, "doc_id", "content", counting)
        .collect().map(d => d.id -> ((d.width, d.height))).toMap

      val columnar = media.select(col("doc_id"),
        Multimodal.decodeImageStub(col("content")).as("img"))
        .select(col("doc_id"), col("img.width"), col("img.height"))
        .as[(Long, Long, Long)].collect().map(t => (t._1, (t._2, t._3))).toMap

      batched shouldBe columnar
      // one init per partition, not per row
      inits.value.longValue should be < 50L
      inits.value.longValue should be >= 1L
    }
  }

  describe("SRP ANN") {
    it("bucketed search reaches reasonable recall against brute force") {
      val emb = spark.read.parquet(s"${sf("sf0.01")}/embeddings.parquet")
      val queries = emb.filter(col("vec_id") < 20)
      val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      // this corpus's true "neighbours" are near-orthogonal (max cos ~0.47),
      // the hard case for SRP: per-plane collision ~0.6, so recall is tuned
      // with the planes/probes dial — 4 planes + radius-1 probing here
      val approx = Similarity.srpAnnTopK(emb, queries, "vec_id", "embedding", 5,
        nPlanes = 4, dim = 64)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      val recall = (exact intersect approx).size.toDouble / exact.size
      recall should be >= 0.2
      // multi-probe must beat single-bucket search on the same plane count
      val singleBucket = Similarity.srpAnnTopK(emb, queries, "vec_id", "embedding", 5,
        nPlanes = 4, dim = 64, probeRadius = 0)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      val singleRecall = (exact intersect singleBucket).size.toDouble / exact.size
      recall should be > singleRecall
      // result sizes never exceed k per query
      approx.groupBy(_._1).values.foreach(_.size should be <= 5)
    }

    it("annRecallMrr degrades to perfect MRR at full probe radius") {
      val emb = spark.read.parquet(s"${sf("sf0.01")}/embeddings.parquet")
      val queries = emb.filter(col("vec_id") < 10)
      // probeRadius == nPlanes probes every bucket -> approx == exact, so
      // every true NN is found at rank 1 (one row per query, rr = 1.0)
      val full = Similarity.annRecallMrr(emb, queries, "vec_id", "embedding",
        k = 3, nPlanes = 4, dim = 64, probeRadius = 4)
        .select(col("query_id"), col("found"), col("rr"))
        .as[(Long, Boolean, Double)].collect().toSeq
      full should have size 10
      all(full.map(_._2)) shouldBe true
      all(full.map(_._3)) shouldBe 1.0
      // a constrained index scores somewhere in [0, 1], one row per query
      val tight = Similarity.annRecallMrr(emb, queries, "vec_id", "embedding",
        k = 3, nPlanes = 8, dim = 64, probeRadius = 0)
        .select(col("rr")).as[Double].collect().toSeq
      tight should have size 10
      all(tight) should (be >= 0.0 and be <= 1.0)
    }
  }

  describe("simhash") {
    it("native graft_simhash60 equals the HOF md5-fold bit-for-bit") {
      // the reference formulation the oracle replays; the operator now
      // routes through the native expression — they must never diverge
      val hof = expr(
        """aggregate(
          |  transform(
          |    aggregate(
          |      transform(regexp_extract_all(text, '\\S+', 0),
          |                t -> CAST(conv(substr(md5(t), 1, 15), 16, 10) AS BIGINT)),
          |      array_repeat(CAST(0 AS BIGINT), 60),
          |      (acc, h) -> zip_with(acc, sequence(0, 59),
          |                           (cnt, b) -> cnt + CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END)
          |    ),
          |    v -> CASE WHEN v >= 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END
          |  ),
          |  CAST(0 AS BIGINT),
          |  (acc, bit) -> (acc << 1) | bit
          |)""".stripMargin)
      val docs = Seq(
        "the quick brown fox", "", "   ", "one", "tab\tand\nnewline  runs",
        "unicode café naïve 中文 token",
        "a b c d e f g h i j k l m n o p q r s t u v w x y z").toDF("text")
      val rows = docs.select(Dedup.simHash("text").as("native"), hof.as("ref"))
        .as[(Long, Long)].collect()
      rows.foreach { case (n, r) => n shouldBe r }
    }

    it("identical docs collide, different docs usually do not") {
      val docs = Seq(
        (1L, "the quick brown fox jumps over the lazy dog"),
        (2L, "the quick brown fox jumps over the lazy dog"),
        (3L, "completely different content about spark engines and shuffles"))
        .toDF("doc_id", "text")
      val pairs = Dedup.simHashPairs(docs, "doc_id", "text", maxHamming = 3)
        .as[(Long, Long, Long)].collect()
      pairs.map(p => (p._1, p._2)) should contain((1L, 2L))
      pairs.find(p => p._1 == 1L && p._2 == 2L).get._3 shouldBe 0L
    }
  }

  describe("distinct-content collapse (round 11) is output-identical under heavy duplication") {
    // the replicated-corpus regime the sf1 slope run flagged: every doc
    // appears in several byte-identical copies. The collapsed operators must
    // emit EXACTLY the pairs a naive all-rows formulation would — including
    // within-group pairs at exactly 1.0 — while verifying only one
    // representative per content class.
    it("ngramJaccardPairs equals a local brute-force over a 5x-duplicated corpus") {
      val base = spark.read.parquet(s"${sf("sf0.01")}/documents.parquet")
        .filter(col("doc_id") < 120)
        .select($"doc_id", $"text", $"lang", $"n_chars")
      val dup = (0 until 5).map(r =>
        base.withColumn("doc_id", col("doc_id") + lit(r * 10000L)))
        .reduce(_ unionByName _)
      val blockCols = Seq(col("lang"), floor(col("n_chars") / lit(50)).as("len_bucket"))
      val got = Dedup.ngramJaccardPairs(dup, "doc_id", "text", blockCols, 3, 0.7)
        .as[(Long, Long, Double)].collect().toSet

      // local naive replay: FNV-1a-64 over codepoint 3-grams, same rounding
      val rows = dup.select($"doc_id", $"text", $"lang",
          floor(col("n_chars") / lit(50)).as("lb"))
        .as[(Long, String, String, Long)].collect()
      def grams(txt: String): Set[Long] = {
        val cps = if (txt == null) Array.empty[Int] else txt.codePoints().toArray
        val nG = math.max(cps.length - 3 + 1, 1)
        (0 until nG).map { i =>
          val end = math.min(i + 3, cps.length)
          var h = 0xcbf29ce484222325L
          var j = i
          while (j < end) { h ^= cps(j); h *= 0x100000001b3L; j += 1 }
          h
        }.toSet
      }
      val sigs = rows.map(r => (r._1, (r._3, r._4), grams(r._2)))
      val want = (for {
        (ia, ba, ga) <- sigs; (ib, bb, gb) <- sigs
        if ia < ib && ba == bb
        ix = (ga intersect gb).size
        j = BigDecimal(ix.toDouble / (ga.size + gb.size - ix))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        if j >= 0.7
      } yield (ia, ib, j)).toSet
      got shouldBe want
      // the duplication regime is actually exercised: within-group 1.0
      // pairs dominate (each original doc contributes C(5,2) = 10 of them)
      got.count(_._3 == 1.0) should be >= (120 * 10)
    }

    it("cosineNearDupPairs equals a local brute-force over a 3x-duplicated embedding corpus") {
      val base = spark.read.parquet(s"${sf("sf0.01")}/embeddings.parquet")
        .filter(col("vec_id") < 100).select($"vec_id", $"embedding", $"label")
      val dup = (0 until 3).map(r =>
        base.withColumn("vec_id", col("vec_id") + lit(r * 10000L)))
        .reduce(_ unionByName _)
      val got = Similarity.cosineNearDupPairs(dup, "vec_id", "embedding",
          blockCol = col("label"), threshold = 0.3)
        .as[(Long, Long, Double)].collect().toSet
      val rows = dup.select($"vec_id", $"label",
          $"embedding".cast("array<double>"))
        .as[(Long, String, Array[Double])].collect()
      def cos(a: Array[Double], b: Array[Double]): Double = {
        var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
        BigDecimal(d / (math.sqrt(na) * math.sqrt(nb)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
      val want = (for {
        (ia, la, va) <- rows; (ib, lb, vb) <- rows
        if ia < ib && la == lb
        c = cos(va, vb) if c >= 0.3
      } yield (ia, ib, c)).toSet
      got shouldBe want
      // the within-class 1.0 regime is exercised: each vector has 3 copies
      got.count(_._3 == 1.0) should be >= 100
    }

    it("duplicate input ids carrying different content never self-pair") {
      // id 1 appears twice with DIFFERENT texts: the naive self-join's
      // id_a < id_b never pairs an id with itself, so the class expansion
      // must not either (least/greatest alone would emit (1,1))
      val docs = Seq(
        (1L, "the quick brown fox jumps over the lazy dog"),
        (1L, "the quick brown fox jumps over the lazy dog today"),
        (2L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
          Seq(lit(1).as("b")), 3, 0.1)
        .as[(Long, Long, Double)].collect().toSeq
      pairs.filter(p => p._1 == p._2) shouldBe empty
      // both (1,2) relations survive — the exact-dup one at 1.0 and the
      // near-dup one through id 1's second text (what the naive form emits)
      pairs.filter(p => (p._1, p._2) == (1L, 2L)).map(_._3).sorted.toSeq should
        have size 2
      pairs.exists(p => (p._1, p._2) == (1L, 2L) && p._3 == 1.0) shouldBe true

      val fps = Dedup.fingerprintPairs(Seq(
          (1L, 0x0fL), (1L, 0xf0L), (2L, 0x0fL)).toDF("doc_id", "sh"),
          maxHamming = 8)
        .as[(Long, Long, Long)].collect().toSeq
      fps.filter(p => p._1 == p._2) shouldBe empty
      fps.map(p => (p._1, p._2, p._3)).sorted shouldBe Seq((1L, 2L, 0L), (1L, 2L, 8L))

      Dedup.minHashLshPairs(docs, "doc_id", "text", threshold = 0.1)
        .as[(Long, Long, Double)].collect().filter(p => p._1 == p._2) shouldBe empty
      Similarity.cosineNearDupPairs(Seq(
          (1L, Seq(1.0, 0.0), "x"), (1L, Seq(1.0, 0.1), "x"), (2L, Seq(1.0, 0.0), "x"))
          .toDF("id", "v", "label"), "id", "v", col("label"), threshold = 0.5)
        .as[(Long, Long, Double)].collect().filter(p => p._1 == p._2) shouldBe empty
      Fuzzy.fuzzyDupPairs(Seq((1L, "acme corp"), (1L, "acme corq"), (2L, "acme corp"))
          .toDF("id", "name"), "id", "name", maxDist = 2)
        .as[(Long, Long, Long)].collect().filter(p => p._1 == p._2) shouldBe empty
    }

    it("fingerprintPairs equals a local brute-force over a 4x-duplicated fingerprint frame") {
      // fingerprints with planted near-pairs (hamming 1-3), far pairs, an
      // exact-dup class and a null class, each id replicated 4x
      val base = Seq(
        (1L, java.lang.Long.valueOf(0x0123456789abcdefL)),
        (2L, java.lang.Long.valueOf(0x0123456789abcdeeL)), // hamming 1 vs id 1
        (3L, java.lang.Long.valueOf(0x0123456789abcdefL)), // exact dup of id 1
        (4L, java.lang.Long.valueOf(0x7fffffffffffffffL)),
        (5L, java.lang.Long.valueOf(0x0123456789abc0efL)), // hamming 3 vs id 1
        (6L, null.asInstanceOf[java.lang.Long]))           // null never pairs
      val dup = (0 until 4).flatMap(r =>
        base.map { case (id, sh) => (id + r * 100L, sh) })
      val hashed = dup.toDF("doc_id", "sh")
      val got = Dedup.fingerprintPairs(hashed, maxHamming = 3)
        .as[(Long, Long, Long)].collect().toSet
      val want = (for {
        (ia, sa) <- dup; (ib, sb) <- dup
        if ia < ib && sa != null && sb != null
        h = java.lang.Long.bitCount(sa ^ sb).toLong if h <= 3L
      } yield (ia, ib, h)).toSet
      got shouldBe want
      // duplication regime exercised: ids 1+3 share a fingerprint (8 copies
      // = C(8,2) = 28 hamming-0 pairs) and ids 2/4/5 each form a 4-copy
      // class (3 x C(4,2) = 18) — 46 exact-dup pairs total
      got.count(_._3 == 0) shouldBe 46
    }

    it("minHashLshPairs on a duplicated corpus emits every within-group pair at exactly 1.0") {
      val base = spark.read.parquet(s"${sf("sf0.01")}/documents.parquet")
        .filter(col("doc_id") < 200).select($"doc_id", $"text")
      val dup = (0 until 3).map(r =>
        base.withColumn("doc_id", col("doc_id") + lit(r * 10000L)))
        .reduce(_ unionByName _)
      val pairs = Dedup.minHashLshPairs(dup, "doc_id", "text", threshold = 0.5)
        .as[(Long, Long, Double)].collect()
      // every (orig, replica) combination present at est exactly 1.0:
      // signatures of byte-identical texts are identical
      val within = pairs.filter { case (a, b, _) => a % 10000L == b % 10000L }
      within.length should be >= (200 * 3) // 200 docs x C(3,2), minus sig-collided groups counted cross
      within.foreach(_._3 shouldBe 1.0)
      // and no duplicate (id_a, id_b) rows from the union of the two legs
      pairs.map(p => (p._1, p._2)).distinct.length shouldBe pairs.length
    }

    it("both gate branches are bit-identical on every pair operator (round-12 duplication gate)") {
      // forced collapse vs forced direct on a corpus with unique ids,
      // SOME byte-identical duplicates, near-dups and a null — the regime
      // where the gate's decision could go either way and must never
      // change the output
      def forced[A](mode: String)(f: => A): A =
        CollapseGate.forced.withValue(Some(mode == "always"))(f)
      val docs = spark.read.parquet(s"${sf("sf0.01")}/documents.parquet")
        .filter(col("doc_id") < 150).select($"doc_id", $"text")
        .unionByName( // planted exact dups under FRESH unique ids
          spark.read.parquet(s"${sf("sf0.01")}/documents.parquet")
            .filter(col("doc_id") < 30)
            .select(($"doc_id" + 50000L).as("doc_id"), $"text"))
      def ngram(m: String) = forced(m)(
        Dedup.ngramJaccardPairs(docs, "doc_id", "text",
          Seq(lit(1).as("b")), 3, 0.6).as[(Long, Long, Double)].collect().toSet)
      ngram("never") shouldBe ngram("always")
      def mh(m: String) = forced(m)(
        Dedup.minHashLshPairs(docs, "doc_id", "text", threshold = 0.5)
          .as[(Long, Long, Double)].collect().toSet)
      mh("never") shouldBe mh("always")
      val fpFrame = Seq(
        (1L, java.lang.Long.valueOf(0x0123456789abcdefL)),
        (2L, java.lang.Long.valueOf(0x0123456789abcdeeL)),
        (3L, java.lang.Long.valueOf(0x0123456789abcdefL)),
        (4L, java.lang.Long.valueOf(0x7fffffffffffffffL)),
        (5L, null.asInstanceOf[java.lang.Long])).toDF("doc_id", "sh")
      def fp(m: String) = forced(m)(
        Dedup.fingerprintPairs(fpFrame, maxHamming = 3)
          .as[(Long, Long, Long)].collect().toSet)
      fp("never") shouldBe fp("always")
      val emb = spark.read.parquet(s"${sf("sf0.01")}/embeddings.parquet")
        .filter(col("vec_id") < 80).select($"vec_id", $"embedding", $"label")
        .unionByName(
          spark.read.parquet(s"${sf("sf0.01")}/embeddings.parquet")
            .filter(col("vec_id") < 20)
            .select(($"vec_id" + 50000L).as("vec_id"), $"embedding", $"label"))
      def cosP(m: String) = forced(m)(
        Similarity.cosineNearDupPairs(emb, "vec_id", "embedding",
            blockCol = col("label"), threshold = 0.3)
          .as[(Long, Long, Double)].collect().toSet)
      cosP("never") shouldBe cosP("always")
    }

    it("the duplication gate requires unique ids and prices the dup fraction") {
      import graft.operators.CollapseGate.collapseWorthIt
      // unique ids, unique content: direct path (collapse not worth it)
      val unique = (1L to 200L).map(i => (i, s"content_$i")).toDF("id", "c")
        .withColumn("ck", xxhash64(col("c")))
      collapseWorthIt(unique, col("id"), col("ck")) shouldBe false
      // unique ids, 50% duplicated content: collapse
      val dup = (1L to 200L).map(i => (i, s"content_${i % 100}")).toDF("id", "c")
        .withColumn("ck", xxhash64(col("c")))
      collapseWorthIt(dup, col("id"), col("ck")) shouldBe true
      // DUPLICATE ids force the collapse even with unique content: the
      // direct path's bit-identity only holds for unique ids
      val dupIds = ((1L to 199L) :+ 199L).zipWithIndex
        .map { case (id, i) => (id, s"content_$i") }.toDF("id", "c")
        .withColumn("ck", xxhash64(col("c")))
      collapseWorthIt(dupIds, col("id"), col("ck")) shouldBe true
      // the test seam wins in both directions
      CollapseGate.forced.withValue(Some(false)) {
        collapseWorthIt(dup, col("id"), col("ck")) shouldBe false
      }
      CollapseGate.forced.withValue(Some(true)) {
        collapseWorthIt(unique, col("id"), col("ck")) shouldBe true
      }
    }

    it("both gate branches agree on generated frames: planted duplicates, nulls, " +
        "thresholds at and above 1.0") {
      val vocab = Seq("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
      def both[A](f: => A): (A, A) = (CollapseGate.forced.withValue(Some(false))(f),
        CollapseGate.forced.withValue(Some(true))(f))
      var nonEmpty = 0
      for (seed <- 1 to 3) {
        val rnd = new scala.util.Random(seed)
        val threshold = seed match { case 1 => 1.0; case 2 => 1.5; case _ => 0.3 }
        // unique ids 1..n; about a third of the rows repeat an earlier
        // row's content (planted exact duplicates); id 1000 holds a null
        def planted[A](base: Seq[A]): Seq[(Long, A)] =
          (base ++ Seq.fill(base.size / 3)(base(rnd.nextInt(base.size))))
            .zipWithIndex.map { case (c, i) => (i + 1L, c) }
        def agree[A](what: String, r: (Set[A], Set[A]),
            vacuous: Boolean = threshold > 1.0): Unit =
          withClue(s"seed=$seed threshold=$threshold $what: ") {
            r._1 shouldBe r._2
            if (vacuous) r._1 shouldBe empty
            nonEmpty += r._1.size
          }
        val docs = (planted(Seq.fill(24)(Seq.fill(4 + rnd.nextInt(6))(
            vocab(rnd.nextInt(vocab.size))).mkString(" "))) :+ (1000L, null: String))
          .toDF("doc_id", "text")
        agree("ngramJaccardPairs", both(Dedup.ngramJaccardPairs(docs, "doc_id", "text",
          Seq((col("doc_id") % 2).as("b")), 3, threshold).as[(Long, Long, Double)].collect().toSet))
        agree("minHashLshPairs", both(Dedup.minHashLshPairs(docs, "doc_id", "text",
          threshold = threshold).as[(Long, Long, Double)].collect().toSet))
        val bases = Seq.fill(5)(rnd.nextLong())
        val fps = (planted(Seq.fill(20)((0 until rnd.nextInt(4)).foldLeft(
              bases(rnd.nextInt(bases.size)))((x, _) => x ^ (1L << rnd.nextInt(64)))))
            .map { case (i, sh) => (i, Option(sh)) } :+ (1000L, None))
          .toDF("doc_id", "sh")
        agree("fingerprintPairs", both(Dedup.fingerprintPairs(fps,
          maxHamming = 3 * (seed - 1)).as[(Long, Long, Long)].collect().toSet), vacuous = false)
        val vecs = (planted(Seq.fill(20)((Option(Seq(1.0 + rnd.nextInt(2)) ++
              Seq.fill(3)(rnd.nextInt(3).toDouble)), if (rnd.nextBoolean()) "x" else "y")))
            .map { case (i, (v, l)) => (i, v, l) } :+ ((1000L, None, "x")))
          .toDF("id", "v", "label")
        agree("cosineNearDupPairs", both(Similarity.cosineNearDupPairs(vecs, "id", "v",
          col("label"), threshold).as[(Long, Long, Double)].collect().toSet))
      }
      nonEmpty should be > 0
    }
  }

  describe("minhash estimates") {
    it("near-identical docs score near 1, disjoint docs near 0") {
      val base = (1 to 60).map(i => s"tok$i").mkString(" ")
      val docs = Seq(
        (1L, base),
        (2L, base + " extra"),
        (3L, (100 to 160).map(i => s"zz$i").mkString(" ")))
        .toDF("doc_id", "text")
      val pairs = Dedup.minHashLshPairs(docs, "doc_id", "text", threshold = 0.3)
        .as[(Long, Long, Double)].collect()
      val near = pairs.find(p => p._1 == 1L && p._2 == 2L)
      near.isDefined shouldBe true
      near.get._3 should be > 0.8
      pairs.exists(p => p._2 == 3L || p._1 == 3L) shouldBe false
    }
  }

  describe("late-interaction retrieval") {
    it("one strong chunk outranks uniformly mediocre chunks") {
      // doc 1: three off-topic chunks + ONE exact match for the query;
      // doc 2: four somewhat-related chunks. Pooled embeddings would favor
      // doc 2; MaxSim must rank doc 1 first with score 1.0
      val query = Array(1.0, 0.0, 0.0, 0.0)
      val chunks = Seq(
        (1L, Array(0.0, 1.0, 0.0, 0.0)), (1L, Array(0.0, 0.0, 1.0, 0.0)),
        (1L, Array(0.0, 0.0, 0.0, 1.0)), (1L, query),
        (2L, Array(0.6, 0.8, 0.0, 0.0)), (2L, Array(0.6, 0.0, 0.8, 0.0)),
        (2L, Array(0.6, 0.0, 0.0, 0.8)), (2L, Array(0.6, 0.8, 0.0, 0.0)),
        (3L, Array(0.0, 0.0, 0.7, 0.7))).toDF("doc_id", "embedding")
      val queries = Seq((100L, query)).toDF("query_id", "q_vec")
      val out = Similarity.lateInteractionTopK(chunks, "doc_id", "embedding",
          queries, "query_id", "q_vec", k = 2)
        .select($"query_id", $"rank", $"doc_id", $"score")
        .as[(Long, Long, Long, Double)].collect().sortBy(_._2)
      out.map(r => (r._3, r._4)) shouldBe Array((1L, 1.0), (2L, 0.6))
      // the per-doc max collapses before any ranking: the topk aggregate
      // sees |queries| x |docs| rows, and no row_number window appears
      val plan = Similarity.lateInteractionTopK(chunks, "doc_id", "embedding",
          queries, "query_id", "q_vec", k = 2)
        .queryExecution.executedPlan.toString
      plan should include("graft_topk")
      (plan should not).include("row_number")
    }

    it("is invariant to chunk order and partitioning") {
      val rnd = new scala.util.Random(7)
      val chunks = (1 to 40).map(i =>
        ((i % 8).toLong, Array.fill(8)(rnd.nextDouble() - 0.5)))
      val queries = chunks.take(2).zipWithIndex
        .map { case ((_, v), qi) => (qi.toLong + 500L, v) }
      def run(c: Seq[(Long, Array[Double])], parts: Int) =
        Similarity.lateInteractionTopK(
            c.toDF("doc_id", "embedding").repartition(parts),
            "doc_id", "embedding",
            queries.toDF("query_id", "q_vec"), "query_id", "q_vec", k = 3)
          .select($"query_id", $"rank", $"doc_id", $"score")
          .as[(Long, Long, Long, Double)].collect().sorted
      run(chunks, 1) shouldBe run(rnd.shuffle(chunks), 7)
    }
  }
}
