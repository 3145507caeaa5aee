package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import graft.SparkTestBase

class BpeSpec extends SparkTestBase with Matchers {

  import spark.implicits._

  it("learns merges with greedy run-parity application and deterministic tie-break") {
    // corpus: words aaa (x2), ab (x1)
    //   iter 1: pairs (a,a)=4 [two per 'aaa' x2], (a,b)=1 -> merge (a,a)
    //           greedy: [a,a,a] -> [aa,a] (run of 2 matches, only offset 0 fires)
    //   iter 2: pairs (aa,a)=2, (a,b)=1              -> merge (aa,a)
    //   iter 3: pairs (a,b)=1                        -> merge (a,b)
    val docs = Seq("aaa aaa ab").toDF("text")
    val (merges, vocab) = Bpe.learnBpe(docs, col("text"), numMerges = 3)
    merges.map(m => (m.left, m.right, m.count)) shouldBe
      Seq(("a", "a", 4L), ("aa", "a", 2L), ("a", "b", 1L))
    vocab.select($"word", $"syms").as[(String, Seq[String])].collect().toMap shouldBe
      Map("aaa" -> Seq("aaa"), "ab" -> Seq("ab"))
    vocab.unpersist()
  }

  it("stops early when no pairs remain") {
    val docs = Seq("a b c").toDF("text")
    val (merges, vocab) = Bpe.learnBpe(docs, col("text"), numMerges = 5)
    merges shouldBe empty // all words are single symbols from the start
    vocab.unpersist()
  }

  it("applyMerges tokenises unseen words identically to the trained vocab path") {
    val docs = Seq("lower lower lowest").toDF("text")
    val (merges, vocab) = Bpe.learnBpe(docs, col("text"), numMerges = 4)
    val viaExpr = Seq("lower", "lowest")
      .toDF("word")
      .select($"word", Bpe.applyMerges(col("word"), merges).as("syms"))
      .as[(String, Seq[String])].collect().toMap
    val viaVocab = vocab.select($"word", $"syms")
      .as[(String, Seq[String])].collect().toMap
    viaExpr("lower") shouldBe viaVocab("lower")
    viaExpr("lowest") shouldBe viaVocab("lowest")
    vocab.unpersist()
  }

  it("applyMerges handles runs (non-overlapping) and chained merges") {
    val merges = Seq(Bpe.Merge("a", "a", 0L), Bpe.Merge("aa", "a", 0L))
    val out = Seq("aaaa", "aaaaa", "ba")
      .toDF("w")
      .select($"w", Bpe.applyMerges(col("w"), merges).as("syms"))
      .as[(String, Seq[String])].collect().toMap
    out("aaaa") shouldBe Seq("aa", "aa") // (a,a) twice; (aa,a) then no match
    out("aaaaa") shouldBe Seq("aa", "aaa") // [aa,aa,a] -> (aa,a) merges the tail
    out("ba") shouldBe Seq("b", "a")
  }

  it("graft_bpe_encode kernel is identical to the chained per-merge fold (r14)") {
    // the serving kernel (one literal table + rank-priority loop) must be
    // bit-identical to the one-expression-per-merge fold it replaced —
    // pinned on a REAL trained table over randomized words: in-vocab,
    // unseen, runs, empty, single-char
    val rnd = new scala.util.Random(7)
    val corpusWords = Seq("lower", "lowest", "newer", "newest", "wider",
      "widest", "the", "then", "than", "thinner", "inner", "winner")
    val docs = Seq.fill(60)(
      Seq.fill(8)(corpusWords(rnd.nextInt(corpusWords.size))).mkString(" ")).toDF("text")
    val (merges, v) = Bpe.learnBpeLocal(docs, col("text"), numMerges = 200)
    v.unpersist()
    assert(merges.size > 20, "trained table too small to be a meaningful pin")
    // the empty word is pinned separately below: charSyms relies on
    // sequence(1, length) which DESCENDS for length 0 (Spark infers step
    // -1), so the fold quirkily yields ["", ""] — unreachable from the
    // [a-z]+ word pattern; the kernel returns the sane []
    val words = Seq("a", "aaaaaa", "lowerest", "thinnest", "zzz") ++
      Seq.fill(300)(
        Seq.fill(1 + rnd.nextInt(12))(('a' + rnd.nextInt(6)).toChar).mkString)
    val df = words.toDF("w")
    val viaKernel = df.select($"w", Bpe.applyMerges(col("w"), merges).as("s"))
      .as[(String, Seq[String])].collect().toSeq
    val viaChain = df.select($"w", Bpe.applyMergesChained(col("w"), merges).as("s"))
      .as[(String, Seq[String])].collect().toSeq
    viaKernel shouldBe viaChain
    Seq("").toDF("w").select(Bpe.applyMerges(col("w"), merges).as("s"))
      .as[Seq[String]].collect()(0) shouldBe Seq.empty
    // duplicated pair keeps its first rank — a no-op for the fold too
    val dup = Seq(Bpe.Merge("a", "a", 0L), Bpe.Merge("a", "a", 0L),
      Bpe.Merge("aa", "a", 0L))
    val dw = Seq("aaaa", "aaaaa", "ab").toDF("w")
    dw.select(Bpe.applyMerges(col("w"), dup).as("s")).as[Seq[String]].collect().toSeq shouldBe
      dw.select(Bpe.applyMergesChained(col("w"), dup).as("s")).as[Seq[String]].collect().toSeq
  }

  it("kernel serving survives vocabulary-scale merge tables (constant depth, r14)") {
    // 8000 synthetic merges: the chained fold would plan an 8000-deep
    // expression tree (Catalyst analysis/codegen death at production
    // vocab sizes); the kernel is ONE node with a bigger rank map. The
    // only applicable merges sit at the very END of the table, so the
    // rank loop really consults the full map.
    val merges = (0 until 8000).map(i => Bpe.Merge(s"x$i", s"y$i", 0L)) ++
      Seq(Bpe.Merge("a", "b", 1L), Bpe.Merge("ab", "c", 1L))
    val out = Seq("abc abcabc", "cab").toDF("w")
      .select(Bpe.applyMerges(col("w"), merges).as("s")).as[Seq[String]].collect()
    out(0) shouldBe Seq("abc", " ", "abc", "abc")
    out(1) shouldBe Seq("c", "ab")
  }

  it("tokenizeWithVocab counts per doc and keeps wordless docs with zeros") {
    val docs = Seq((1L, "aaa ab aaa"), (2L, "12345 --")).toDF("doc_id", "text")
    val (_, vocab) = Bpe.learnBpe(docs, col("text"), numMerges = 3)
    val out = Bpe.tokenizeWithVocab(docs, col("doc_id"), col("text"), vocab)
      .as[(Long, Long, Long, Double, Long)].collect()
      .map { case (id, nt, nw, f, oov) => id -> ((nt, nw, f, oov)) }.toMap
    // aaa -> [aaa] (1 tok), ab -> [ab] (1 tok): 3 words, 3 tokens, no OOV
    out(1L) shouldBe ((3L, 3L, 1.0, 0L))
    out(2L) shouldBe ((0L, 0L, 0.0, 0L))
    vocab.unpersist()
  }

  it("tokenizeWithVocab keeps OOV words via the applyMerges fallback (r12 verdict 1)") {
    // train WITH a floor: 'rare' (cnt 2 < 3) is dropped from the vocab, so
    // serving must fall back — not silently drop its occurrences
    val docs = Seq((1L, "lower lower lower lowest lowest rare"), (2L, "rare"),
      (3L, "lowest")).toDF("doc_id", "text")
    val (merges, vocab) = Bpe.learnBpeLocalFromCounts(
      Bpe.wordCounts(docs, col("text")), numMerges = 4, minCount = 3L)
    vocab.select($"word").as[String].collect() should not contain "rare"
    val out = Bpe.tokenizeWithVocab(docs, col("doc_id"), col("text"), vocab, merges)
      .as[(Long, Long, Long, Double, Long)].collect()
      .map { case (id, nt, nw, f, oov) => id -> ((nt, nw, oov)) }.toMap
    // the fallback token count for 'rare' = applyMerges over the word
    val rareTok = Seq("rare").toDF("w")
      .select(Bpe.applyMerges(col("w"), merges).as("s"))
      .as[Seq[String]].collect()(0).size.toLong
    // nothing dropped: every occurrence of every word is counted
    out(1L)._2 shouldBe 6L // n_words includes the OOV occurrence
    assert(out(1L)._3 == rareTok) // its mass is surfaced as n_oov_tok
    out(2L) shouldBe ((rareTok, 1L, rareTok)) // all-OOV doc
    out(3L)._3 shouldBe 0L // in-vocab-only doc has zero OOV mass
    vocab.unpersist()
  }

  it("tokenizeWithVocab OOV fallback with no merges is the char symbolisation") {
    val docs = Seq((1L, "abc de")).toDF("doc_id", "text")
    val vocab = Seq(("abc", 1L, Seq("abc"))).toDF("word", "cnt", "syms")
    val out = Bpe.tokenizeWithVocab(docs, col("doc_id"), col("text"), vocab)
      .as[(Long, Long, Long, Double, Long)].collect()
    // abc -> 1 tok (vocab); de -> 2 char tokens (fallback, zero merges)
    out(0) shouldBe ((1L, 3L, 2L, 1.5, 2L))
  }

  it("batched learning (maxBatch > 1) is merge-for-merge identical to sequential") {
    // real-ish prose with shared symbols across top pairs, so rounds hit
    // both disjoint batches AND conflict stops / tau truncation
    val docs = Seq(
      "the quick brown fox jumps over the lazy dog",
      "the threadbare theme there then they the the",
      "every engine everywhere ever evening seven even",
      "inner dinner thinner winner sinner in inn inning",
      "lowest lower lowly low slowest slower slow").toDF("text")
    // learnBpe would train this small corpus on the driver, where maxBatch
    // plays no part: call the distributed rounds directly
    val counts = Bpe.wordCounts(docs, col("text"))
    val (seq, vs) = Bpe.learnBpeRounds(counts, numMerges = 24, maxBatch = 1)
    vs.unpersist()
    for (batch <- Seq(4, 16)) {
      val (bat, vb) = Bpe.learnBpeRounds(counts, numMerges = 24, maxBatch = batch)
      withClue(s"maxBatch=$batch: ") {
        bat.map(m => (m.left, m.right, m.count)) shouldBe
          seq.map(m => (m.left, m.right, m.count))
      }
      vb.unpersist()
    }
  }

  it("driver-local training is merge-for-merge and vocab-identical to the distributed rounds") {
    // the 32k-vocab production path: one distributed word-count pass, then
    // exact incremental BPE on the driver — must reproduce the distributed
    // rounds' merges (same argmax tie-break, same greedy pass) AND the same
    // final word -> syms table, on a corpus that exercises conflicts, runs
    // and ties. Includes the real sf0.001 documents slice for non-toy shape
    // and seeded corpora over a small alphabet (long runs, many ties).
    // learnBpe itself trains small corpora on the driver, so the reference
    // side calls the rounds directly, and learnBpe must equal both.
    val toy = Seq(
      "the quick brown fox jumps over the lazy dog",
      "the threadbare theme there then they the the",
      "inner dinner thinner winner sinner in inn inning",
      "aaa aaab baaa abab",
      "lowest lower lowly low slowest slower slow").toDF("text")
    val real = spark.read.parquet(s"${sf()}/documents.parquet")
      .limit(200).select(col("text"))
    val generated = Seq(11, 12, 13).map { seed =>
      val rnd = new scala.util.Random(seed)
      val alphabet = 2 + rnd.nextInt(4)
      val docs = Seq.fill(20)(Seq.fill(1 + rnd.nextInt(10))(
        Seq.fill(1 + rnd.nextInt(9))(('a' + rnd.nextInt(alphabet)).toChar).mkString)
        .mkString(" ")).toDF("text")
      (docs, 40, s"generated seed $seed")
    }
    def table(v: org.apache.spark.sql.DataFrame) =
      v.select($"word", $"cnt", $"syms").as[(String, Long, Seq[String])]
        .collect().map(r => r._1 -> (r._2, r._3)).toMap
    for ((docs, nm, label) <- Seq((toy, 30, "toy"), (real, 120, "sf0.001")) ++ generated) {
      val (dist, vd) = Bpe.learnBpeRounds(Bpe.wordCounts(docs, col("text")), numMerges = nm)
      val (local, vl) = Bpe.learnBpeLocal(docs, col("text"), numMerges = nm)
      val (auto, va) = Bpe.learnBpe(docs, col("text"), numMerges = nm)
      for ((name, merges, vocab) <- Seq(("learnBpeLocal", local, vl), ("learnBpe", auto, va))) {
        withClue(s"$label $name merges: ") {
          merges.map(m => (m.left, m.right, m.count)) shouldBe
            dist.map(m => (m.left, m.right, m.count))
        }
        withClue(s"$label $name vocab: ") { table(vocab) shouldBe table(vd) }
      }
      vd.unpersist(); vl.unpersist(); va.unpersist()
    }
  }

  it("driver-local training refuses a word table past the cap") {
    val docs = Seq("one two three four five").toDF("text")
    val ex = intercept[IllegalArgumentException] {
      Bpe.learnBpeLocal(docs, col("text"), numMerges = 2, maxDistinctWords = 3)
    }
    ex.getMessage should include("maxDistinctWords")
  }

  it("minCount truncation trains exactly on the retained corpus (round-12 beyond-cap path)") {
    // heavy words plus a hapax tail: floor 2 must train EXACTLY as if the
    // tail words were deleted from the corpus before training — that is the
    // documented approximation contract
    val docs = Seq(
      "loop loop loop loop pool pool pool",
      "xqzv kjwq zzyx").toDF("text")
    val (floored, vf) =
      Bpe.learnBpeLocal(docs, col("text"), numMerges = 5, minCount = 2)
    val truncated = Seq("loop loop loop loop pool pool pool").toDF("text")
    val (exact, ve) = Bpe.learnBpeLocal(truncated, col("text"), numMerges = 5)
    floored.map(m => (m.left, m.right, m.count)) shouldBe
      exact.map(m => (m.left, m.right, m.count))
    // the retained vocab frame carries no tail words
    vf.select($"word").as[String].collect().toSet shouldBe Set("loop", "pool")
    vf.unpersist(); ve.unpersist()
    // the collect cap applies AFTER truncation: 5 distinct words, floor
    // retains 2, so a cap of 2 admits the floored table where the full one
    // refuses — this is what unlocks a 10^8-distinct-word corpus
    intercept[IllegalArgumentException] {
      Bpe.learnBpeLocal(docs, col("text"), numMerges = 2, maxDistinctWords = 2)
    }
    val (viaCounts, vc) = Bpe.learnBpeLocalFromCounts(
      Bpe.wordCounts(docs, col("text")), numMerges = 5,
      minCount = 2, maxDistinctWords = 2)
    viaCounts.map(m => (m.left, m.right, m.count)) shouldBe
      exact.map(m => (m.left, m.right, m.count))
    vc.unpersist()
  }

  it("batching makes progress in fewer driver rounds than merges learned") {
    // count Spark jobs as a round proxy: each round runs exactly one
    // candidate-collect job; sequential 12 merges = 12 collects
    val docs = Seq("ab ab cd cd ef ef gh gh ij ij kl kl").toDF("text")
    val (bat, vb) = Bpe.learnBpeRounds(Bpe.wordCounts(docs, col("text")),
      numMerges = 6, maxBatch = 8)
    vb.unpersist()
    // all six pairs are symbol-disjoint with EQUAL counts: one batch takes
    // them all (tau guard keeps equal-count disjoint prefixes intact only
    // above the stop count — here the list is complete, so all six land)
    bat should have length 6
    bat.map(m => (m.left, m.right)).toSet shouldBe
      Set(("a", "b"), ("c", "d"), ("e", "f"), ("g", "h"), ("i", "j"), ("k", "l"))
  }
}
