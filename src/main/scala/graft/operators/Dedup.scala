package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Distributed deduplication operators for document corpora.
  *
  * Designed for 100 TB scale: every stage is a keyed shuffle (no driver
  * collects), candidate generation is LSH-bucketed (never all-pairs), and
  * per-row signature math runs in tight JVM loops (Array-arg UDFs) inside a
  * single narrow map stage — measured far faster here than the equivalent
  * interpreted higher-order-function expressions.
  *
  * The reference framework has only PK-window dedup
  * (/root/reference/waimak-storage/src/main/scala/com/coxautodata/waimak/storage/AuditTableFile.scala:72-82);
  * these operators generalise it to content-based near-dup detection.
  */
object Dedup {

  // ---------------------------------------------------------------- exact ---

  /** Exact dedup groups: one row per distinct content hash with the surviving
    * (minimum) id and the duplicate count. Single hash-shuffle; the md5 key
    * keeps shuffle rows narrow regardless of document size. */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol), md5(col(textCol)).as("content_md5"))
      .groupBy(col("content_md5"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_docs"))

  /** Rows to drop under exact dedup (id != group keeper). */
  def exactDuplicates(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val groups = exactGroups(docs, idCol, textCol)
    docs
      .withColumn("content_md5", md5(col(textCol)))
      .join(groups, Seq("content_md5"))
      .where(col(idCol) =!= col("keeper_id"))
      .select(col(idCol).as("dup_id"), col("keeper_id"))
  }

  // -------------------------------------------------------------- minhash ---

  /** Word n-gram shingles (distinct): consecutive-token windows joined by a
    * space. Far more selective than character grams on natural text — the
    * background Jaccard between unrelated docs collapses, which keeps LSH
    * candidate sets small. */
  def wordShingles(text: Column, n: Int): Column = {
    val toks = TextFunctions.tokens(text)
    array_distinct(
      transform(
        sequence(lit(1), greatest(size(toks) - lit(n - 1), lit(1))),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
  }

  /** MinHash permutation family, chosen to be recomputable by any SQL engine
    * (the property that lets the correctness gate verify signatures against
    * a DuckDB oracle, like simHash's md5-derived bits):
    *
    *   x(shingle) = first 8 hex chars of md5(shingle) as a 32-bit integer
    *   h_i(x)     = (a_i * x + b_i) mod (2^61 - 1)
    *   a_i        = (md5_32("minhash_a_" + i) & 0x1FFFFFFF) * 2 + 1  (odd, < 2^30)
    *   b_i        = md5_32("minhash_b_" + i)                          (< 2^32)
    *
    * a_i * x < 2^62, so everything stays in signed-64 arithmetic with no
    * wraparound — the same expression evaluates identically in Spark, DuckDB,
    * or any engine with md5 and 64-bit integers. The affine-mod-prime family
    * is the classic universal-hash minwise construction. */
  private[graft] val MinHashP: Long = (1L << 61) - 1

  /** `v % MinHashP` for 0 <= v < 2^62 without the long division — p is the
    * Mersenne prime 2^61−1, so v = (v >>> 61)·2^61 + (v & p) ≡
    * (v >>> 61) + (v & p) (mod p), and with v < 2^62 the fold sum is
    * < 2^61 + 1, needing at most one subtract. A 64-lane affine loop runs
    * one of these per lane per shingle; the idiv was the loop's longest
    * dependency (r14, guide §4). Value-identical to `%` on the domain
    * (every a·x+b here: a < 2^30, x < 2^32, b < 2^32 ⇒ v < 2^62);
    * DedupKernelSpec pins the fused kernels against the `%`-based ref
    * twins row by row. */
  @inline private[graft] def modMersenne61(v: Long): Long = {
    val t = (v >>> 61) + (v & MinHashP)
    if (t >= MinHashP) t - MinHashP else t
  }

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 4 bytes of md5(s) as an unsigned 32-bit value in a Long —
    * equal to `('0x' || substr(md5(s),1,8))::BIGINT` in SQL. */
  @inline private[graft] def md5Int32(s: String): Long = {
    val d = md5Local.get()
    d.reset()
    val h = d.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ((h(0) & 0xFFL) << 24) | ((h(1) & 0xFFL) << 16) | ((h(2) & 0xFFL) << 8) | (h(3) & 0xFFL)
  }

  private[graft] def minHashParams(k: Int): (Array[Long], Array[Long]) = (
    Array.tabulate(k)(i => (md5Int32(s"minhash_a_$i") & 0x1FFFFFFFL) * 2 + 1),
    Array.tabulate(k)(i => md5Int32(s"minhash_b_$i")))

  /** MinHash signature: length-`k` array of minima over a shingle array
    * under the affine family above. One md5 per shingle, extended to k
    * independent functions in a tight JVM loop.
    *
    * Deliberately a Scala UDF, not a higher-order-function expression: the
    * HOF formulation (`transform(sequence(0,k-1), i -> array_min(transform(
    * shingles, s -> hash(i, s))))`) re-inlines the shingle subtree into
    * every lambda and runs interpreted — measured 47 ms/row at k=64 vs
    * ~20 µs/row for this loop. Pure map-side — no shuffle. */
  def minHashSignature(shingleCol: Column, k: Int): Column = {
    val (pa, pb) = minHashParams(k)
    val f = udf { (sh: Array[String]) =>
      val sig = Array.fill(k)(Long.MaxValue)
      val shingles = if (sh == null) Array.empty[String] else sh
      shingles.foreach { s =>
        val x = md5Int32(s)
        var i = 0
        while (i < k) {
          val h = modMersenne61(pa(i) * x + pb(i))
          if (h < sig(i)) sig(i) = h
          i += 1
        }
        ()
      }
      sig
    }
    f(shingleCol)
  }

  /** Estimated Jaccard from two signatures: fraction of agreeing minima. */
  def estimatedJaccard(sigA: Column, sigB: Column, scale: Int = 4): Column =
    round(
      aggregate(
        zip_with(sigA, sigB, (a, b) => when(a === b, 1).otherwise(0)),
        lit(0),
        (acc, v) => acc + v).cast("double") / size(sigA).cast("double"),
      scale)

  /** MinHash + LSH banding near-duplicate candidate pairs.
    *
    * k = bands * rowsPerBand. Each doc explodes to `bands` rows keyed by
    * (band index, xxhash64 of the band slice); a self-equi-join on that key
    * (a shuffled hash join on the bucket key — never a cartesian) yields
    * candidate id pairs. Signatures are NOT carried through the band join —
    * the shuffle stays narrow (ids only); after `dropDuplicates` collapses
    * multi-band collisions, signatures re-attach via two id-equi-joins
    * (broadcastable when the signed side is small relative to candidates).
    *
    * Output: (id_a, id_b, est_jaccard) with id_a < id_b, est >= threshold.
    */
  /** Fused tokenize→shingle→minhash in one JVM loop per row (no HOF
    * intermediate arrays — measured ~5x over the
    * `minHashSignature(wordShingles(...))` composition). Token-free docs
    * return null (they have no shingle set; callers filter — giving them
    * md5("")'s signature would make every blank doc collide everywhere).
    * Duplicate shingles need no dedup pass: minima are idempotent. */
  private[graft] def fusedMinHashUdf(shingleWords: Int, k: Int)
      : org.apache.spark.sql.expressions.UserDefinedFunction = {
    val (pa, pb) = minHashParams(k)
    udf { (txt: String) =>
      val toks =
        if (txt == null) Array.empty[String]
        else txt.split("\\s+").filter(_.nonEmpty)
      if (toks.isEmpty) null
      else {
      // r14: tokens encode to UTF-8 once; each shingle digests the parts
      // (token bytes, 0x20 separators) — no per-shingle StringBuilder/
      // toString/getBytes (fusedMinHashRefUdf keeps the old body as the
      // spec twin)
      val tb = new Array[Array[Byte]](toks.length)
      var t = 0
      while (t < toks.length) {
        tb(t) = toks(t).getBytes(java.nio.charset.StandardCharsets.UTF_8)
        t += 1
      }
      val sig = Array.fill(k)(Long.MaxValue)
      val nSh = math.max(toks.length - shingleWords + 1, 1)
      val buf = new Array[Byte](16)
      val d = md5Local.get()
      var s = 0
      while (s < nSh) {
        d.reset()
        var w = 0
        while (w < shingleWords && s + w < toks.length) {
          if (w > 0) d.update(0x20.toByte)
          d.update(tb(s + w)); w += 1
        }
        d.digest(buf, 0, 16)
        val x = ((buf(0) & 0xFFL) << 24) | ((buf(1) & 0xFFL) << 16) |
          ((buf(2) & 0xFFL) << 8) | (buf(3) & 0xFFL)
        var i = 0
        while (i < k) {
          val h = modMersenne61(pa(i) * x + pb(i))
          if (h < sig(i)) sig(i) = h
          i += 1
        }
        s += 1
      }
      sig
      }
    }
  }

  /** The pre-round-14 StringBuilder body of [[fusedMinHashUdf]] — spec
    * verification surface only. */
  private[graft] def fusedMinHashRefUdf(shingleWords: Int, k: Int)
      : org.apache.spark.sql.expressions.UserDefinedFunction = {
    val (pa, pb) = minHashParams(k)
    udf { (txt: String) =>
      val toks =
        if (txt == null) Array.empty[String]
        else txt.split("\\s+").filter(_.nonEmpty)
      if (toks.isEmpty) null
      else {
      val sig = Array.fill(k)(Long.MaxValue)
      val nSh = math.max(toks.length - shingleWords + 1, 1)
      val sb = new java.lang.StringBuilder(64)
      var s = 0
      while (s < nSh) {
        sb.setLength(0)
        var w = 0
        while (w < shingleWords && s + w < toks.length) {
          if (w > 0) sb.append(' ')
          sb.append(toks(s + w)); w += 1
        }
        val x = md5Int32(sb.toString)
        var i = 0
        while (i < k) {
          val h = (pa(i) * x + pb(i)) % MinHashP
          if (h < sig(i)) sig(i) = h
          i += 1
        }
        s += 1
      }
      sig
      }
    }
  }

  def minHashLshPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      bands: Int = 8,
      rowsPerBand: Int = 8,
      shingleWords: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    // materialise the signature stage once for its consumers (see
    // Materialize for the localCheckpoint-vs-replicated-persist trade)
    val signed = minHashSignatures(docs, idCol, textCol, bands, rowsPerBand, shingleWords)
    // collapse class key (CollapseGate): rows with identical SIGNATURES band
    // together in every band and estimate exactly 1.0 (k/k) against each
    // other. Key = two-seed xxhash64 of the signature (content identity,
    // not a min-id representative — unique even under duplicate input ids;
    // collision ~2^-128, beyond the 32-bit-per-shingle identity the
    // signature itself rides on).
    val ck = struct(
      xxhash64(col("sig")).as("k1"), xxhash64(lit(1L), col("sig")).as("k2"))
    val withCk = signed.withColumn("ck", ck).transform(Materialize.apply)
    def pairsOf(rows: DataFrame, key: String): DataFrame = {
      val sigs = rows.select(col(key).as("doc_id"), col("sig"))
      val banded = bandBuckets(sigs, bands, rowsPerBand)
      banded.as("a")
        .join(banded.as("b"), Seq("band", "bucket"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .where(col("id_a") < col("id_b"))
        .dropDuplicates("id_a", "id_b")
        .join(sigs.select(col("doc_id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
        .join(sigs.select(col("doc_id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
        .withColumn("est_jaccard", estimatedJaccard(col("sig_a"), col("sig_b")))
        .where(col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    }
    CollapseGate.pairs(withCk, "doc_id", "ck", "est_jaccard")(pairsOf,
      _.select(col("ck"), lit(1.0).as("est_jaccard")).where(lit(1.0) >= threshold))
  }

  /** The signature stage of [[minHashLshPairs]] on its own: (doc_id, sig).
    * This is the frame worth PERSISTING — store it keyed by doc_id (e.g. via
    * [[DedupIndex]] in an audit table) and incremental dedup never
    * re-shingles the indexed corpus. */
  def minHashSignatures(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      bands: Int = 8,
      rowsPerBand: Int = 8,
      shingleWords: Int = 3): DataFrame = {
    val sigUdf = fusedMinHashUdf(shingleWords, bands * rowsPerBand)
    docs.select(col(idCol).as("doc_id"), sigUdf(col(textCol)).as("sig"))
      .where(col("sig").isNotNull)
  }

  /** (doc_id, band, bucket) LSH buckets of a signed frame — the id-only rows
    * that actually travel through the candidate-join shuffle. */
  private def bandBuckets(signed: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    signed
      .select(
        col("doc_id"),
        explode(
          transform(
            sequence(lit(0), lit(bands - 1)),
            b => struct(
              b.as("band"),
              xxhash64(b, slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))
                .cast("string")).as("bucket")))).as("bb"))
      .select(col("doc_id"), col("bb.band"), col("bb.bucket"))

  /** Cross-frame banded LSH: near-dup pairs between a NEW batch and an
    * already-signed index (both frames (doc_id, sig), e.g. the index read
    * back from storage). Identical banding/threshold semantics to
    * [[minHashLshPairs]], but the join is batch x index instead of a
    * self-join — the daily-crawl shape, where candidate work scales with the
    * BATCH size while the corpus contributes only bucket-matched rows. */
  def minHashLshPairsAgainst(
      newSigned: DataFrame,
      indexSigned: DataFrame,
      bands: Int = 8,
      rowsPerBand: Int = 8,
      threshold: Double = 0.5): DataFrame = {
    val candidates = bandBuckets(newSigned, bands, rowsPerBand).as("a")
      .join(bandBuckets(indexSigned, bands, rowsPerBand).as("b"), Seq("band", "bucket"))
      .select(col("a.doc_id").as("id_new"), col("b.doc_id").as("id_idx"))
      .where(col("id_new") =!= col("id_idx"))
      .dropDuplicates("id_new", "id_idx")
    candidates
      .join(newSigned.select(col("doc_id").as("id_new"), col("sig").as("sig_a")), Seq("id_new"))
      .join(indexSigned.select(col("doc_id").as("id_idx"), col("sig").as("sig_b")), Seq("id_idx"))
      .withColumn("est_jaccard", estimatedJaccard(col("sig_a"), col("sig_b")))
      .where(col("est_jaccard") >= threshold)
      .select("id_new", "id_idx", "est_jaccard")
  }

  // ------------------------------------------------------- n-gram jaccard ---

  /** Exact n-gram Jaccard similarity over candidate pairs produced by cheap
    * blocking (same `blockCols` values). The blocking join is an equi-join on
    * the block key, so work scales with block sizes, not corpus². Use after
    * LSH as a verify stage, or standalone on well-partitioned corpora. */
  /** Shingle-signature frame for [[ngramJaccardPairs]] /
    * [[incrementalNgramJaccardPairs]]: (doc_id, grams: sorted array<bigint>,
    * block). Persist this (e.g. in an audit table) to make dedup
    * incremental — the corpus is shingled once, ever. */
  def prepareNgrams(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      blockCols: Seq[Column],
      n: Int = 3): DataFrame = {
    // Gram extraction + FNV-1a-64 + dedup + sort run fused in one JVM loop
    // per row — the equivalent HOF expression chain
    // (transform/array_distinct/sort_array) runs interpreted and measured
    // several times slower on the same corpus.
    val gramUdf = udf { (txt: String) =>
      // grams run over CODEPOINTS, matching Spark substr/length and DuckDB
      // substr semantics (UTF-16 char stepping would split surrogate pairs
      // and diverge from any SQL oracle on non-BMP text)
      val cps = if (txt == null) Array.empty[Int] else txt.codePoints().toArray
      val nGrams = math.max(cps.length - n + 1, 1)
      val seen = new java.util.HashSet[java.lang.Long](nGrams * 2)
      val out = new Array[Long](nGrams)
      var nOut = 0
      var i = 0
      while (i < nGrams) {
        val end = math.min(i + n, cps.length)
        var h = 0xcbf29ce484222325L // FNV-1a 64 over the gram's codepoints
        var j = i
        while (j < end) { h ^= cps(j); h *= 0x100000001b3L; j += 1 }
        if (seen.add(h)) { out(nOut) = h; nOut += 1 }
        i += 1
      }
      val arr = java.util.Arrays.copyOf(out, nOut)
      java.util.Arrays.sort(arr)
      arr
    }
    docs.select(
      col(idCol).as("doc_id"),
      gramUdf(col(textCol)).as("grams"),
      struct(blockCols: _*).as("block"))
  }

  /** Verify candidate pairs of prepared signature frames: equi-join on the
    * block, O(1) size prefilter, then the native codegen'd graft_jaccard_ge
    * merge with threshold early exit (zero-copy over ArrayData — a Scala
    * UDF pays an array copy per pair at the serialization boundary). */
  private def verifiedPairs(a: DataFrame, b: DataFrame, extraCond: Column,
      threshold: Double): DataFrame = {
    a.join(b, Seq("block"))
      .where(extraCond)
      // size prefilter: J(A,B) <= min/max of the set sizes, so pairs whose
      // gram counts differ too much can never reach the threshold — relaxed
      // by the rounding half-step like the merge itself, so a pair whose
      // rounded Jaccard lands exactly on the threshold is never pre-dropped
      .where(least(size(col("g_a")), size(col("g_b"))).cast("double")
        >= lit(threshold - 0.00005) * greatest(size(col("g_a")), size(col("g_b"))).cast("double"))
      .withColumn("jaccard",
        call_function("graft_jaccard_ge", col("g_a"), col("g_b"), lit(threshold)))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Exact n-gram Jaccard near-dup pairs within blocks. Shingles hash to
    * sorted 64-bit arrays once (collision odds ~|g|²/2^65 per pair — never
    * observed at corpus scale, so Jaccard over hashes equals Jaccard over
    * strings); the verify stage is then a linear merge over two sorted long
    * arrays instead of per-pair hash-set construction over strings.
    *
    * Verify work scales with distinct-CONTENT block occupancy through the
    * [[CollapseGate]] collapse: crawl corpora are massively
    * boilerplate-duplicated (every sf1 doc x10 byte-identical: a ~100x
    * candidate-work cut), and rows sharing a (block, gram-set) class score
    * Jaccard exactly 1.0 against each other and identical values against
    * everyone else. */
  def ngramJaccardPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      blockCols: Seq[Column],
      n: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    graft.sql.functions.ensureRegistered(docs.sparkSession)
    val prepped = prepareNgrams(docs, idCol, textCol, blockCols, n)
    // class key = two-seed xxhash64 over (block, grams) as one struct —
    // content identity, NOT min(doc_id): a min-id representative is not
    // unique across classes when input ids repeat (spec-pinned corner).
    // Arrays are sorted + deduped (canonical), so equal gram SETS hash
    // equally; the two independent 64-bit seeds put class-key collisions
    // at ~2^-128 per class pair — far beyond the 64-bit per-gram hash
    // identity the Jaccard itself already rides on.
    val ck = struct(
      xxhash64(col("block"), col("grams")).as("k1"),
      xxhash64(lit(1L), col("block"), col("grams")).as("k2"))
    val withCk = prepped.withColumn("ck", ck).transform(Materialize.apply)
    def side(rows: DataFrame, key: String, s: String) =
      rows.select(col("block"), col(key).as(s"id_$s"), col("grams").as(s"g_$s"))
    CollapseGate.pairs(withCk, "doc_id", "ck", "jaccard")(
      (rows, key) => verifiedPairs(side(rows, key, "a"), side(rows, key, "b"),
        col("id_a") < col("id_b"), threshold),
      _.select(col("ck"), lit(1.0).as("jaccard")).where(lit(1.0) >= threshold))
  }

  /** Directional near-CONTAINMENT pairs: (contained, container) where at
    * least `threshold` of the contained doc's distinct character n-grams
    * appear in the container — the asymmetric twin of Jaccard dedup that
    * symmetric measures miss by construction (a page wrapped in boilerplate
    * scores low Jaccard against its payload but ~1.0 containment; ditto
    * quoted-in-full posts and template-expanded docs).
    *
    * Candidate generation is PPJoin-style PREFIX FILTERING: order each
    * doc's grams rarest-global-frequency-first; if X is ≥ t contained in Y
    * then, by pigeonhole, one of X's first ⌊(1−t)·|X|⌋+1 grams must occur
    * in Y — so only that prefix joins the full inverted index, never
    * gram-set × gram-set. Work scales with prefix size × gram-bucket
    * occupancy. Grams carried by more than `maxGramFreq` docs are dropped
    * from candidate generation entirely (index AND prefix) — the standard
    * hot-token cap. The prefix is ranked over the NON-HOT grams only while
    * its length ⌊(1−t)·|X|⌋+1 still uses the full gram count |X| (the
    * PPJoin-with-cap formulation): since at most (1−t)·|X| of X's grams
    * are missing from a qualifying container, the first ⌊(1−t)·|X|⌋+1
    * non-hot grams cannot all be missing — so the only pairs missed are
    * those where the contained doc has fewer than that many non-hot grams
    * at all (i.e. nearly every gram is hot). Verification joins the two
    * sorted gram arrays back by id (the shuffle between candidate stages
    * carries only id pairs) and computes exact overlap.
    *
    * One frequency aggregation, one per-doc window for the prefix rank,
    * one inverted-index equi-join, one id-pair distinct, two signature
    * joins: all keyed shuffles, no driver state, no all-pairs stage.
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 7, threshold: Double = 0.8, maxGramFreq: Long = 50): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0,1], got $threshold")
    graft.sql.functions.ensureRegistered(docs.sparkSession)
    // grams as SORTED distinct 60-bit md5 hashes, fused in one JVM pass
    // (the interpreted transform/substr HOF measured 4.1s over sf0.1's en
    // slice alone); hashing is deterministic and SQL-replayable, so an
    // oracle reproduces identical grams — and identical collisions, if any
    val p = Materialize(docs
      .where(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        md5CharGramHashUdf(n)(col(textCol)).as("g")))
    val sz = p.select(col("doc_id"), col("g"), size(col("g")).as("n"))
    val idx = p.select(col("doc_id"), explode(col("g")).as("gram"))
    val dfreq = idx.groupBy(col("gram")).agg(count(lit(1)).as("df"))
    // hot grams leave the candidate channel BEFORE prefix ranking — ranking
    // the filtered list (while the prefix length below still uses the full
    // |X|) is what preserves the pigeonhole recall guarantee under the cap
    val idxF = idx.join(dfreq, Seq("gram")).where(col("df") <= maxGramFreq)
    val idx2 = idxF.select("doc_id", "gram")
    val w = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("gram"))
    // prefix length via the same double arithmetic the SQL oracle runs
    // ((1 - t) parsed/compiled to the identical IEEE double on any engine)
    val pre = idxF
      .withColumn("rn", row_number().over(w))
      .join(sz.select(col("doc_id"), col("n")), Seq("doc_id"))
      .where(col("rn") <=
        floor((lit(1.0) - lit(threshold)) * col("n")).cast("int") + 1)
      .select("doc_id", "gram")
    val cand = pre.as("a")
      .join(idx2.as("b"),
        col("a.gram") === col("b.gram") && col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("id_contained"), col("b.doc_id").as("id_container"))
      .distinct()
    // verify with the native sorted-merge containment (mid-merge abandon,
    // no per-row hash-set build); -1 sentinel = provably below threshold
    val out = cand
      .join(sz.select(col("doc_id").as("id_contained"),
        col("g").as("g_x"), col("n").as("n_x")), Seq("id_contained"))
      .join(sz.select(col("doc_id").as("id_container"),
        col("g").as("g_y")), Seq("id_container"))
      .withColumn("containment",
        call_function("graft_contain_ge", col("g_x"), col("g_y"), lit(threshold)))
      .where(col("containment") >= threshold)
      .select(col("id_contained"), col("id_container"), col("containment"))
    out
  }

  /** Incremental near-dup detection: pairs TOUCHING the delta only — each
    * new doc against the existing corpus signatures plus the delta itself.
    * The corpus is never re-shingled (feed `corpusPrepped` from persisted
    * [[prepareNgrams]] output) and never self-paired: work scales with
    * |delta| × block occupancy, which is what keeps continuous dedup viable
    * on a 100 TB corpus ingesting batches.
    *
    * Output: (id_a = delta doc, id_b = matched doc) with delta-delta pairs
    * emitted once (id_a < id_b). */
  def incrementalNgramJaccardPairs(
      corpusPrepped: DataFrame,
      delta: DataFrame,
      idCol: String,
      textCol: String,
      blockCols: Seq[Column],
      n: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    graft.sql.functions.ensureRegistered(delta.sparkSession)
    val deltaPrepped = prepareNgrams(delta, idCol, textCol, blockCols, n)
      .transform(Materialize.apply)
    // a re-ingested doc may appear on both sides; the delta signature
    // supersedes the corpus one (anti-join on the id), otherwise its pairs
    // would be emitted twice — once per copy
    val corpusOnly = corpusPrepped.join(
      deltaPrepped.select(col("doc_id")), Seq("doc_id"), "left_anti")
    val allPrepped = corpusOnly.withColumn("_delta", lit(false))
      .unionByName(deltaPrepped.withColumn("_delta", lit(true)))
    val a = deltaPrepped.select(col("block"), col("doc_id").as("id_a"), col("grams").as("g_a"))
    val b = allPrepped.select(col("block"), col("doc_id").as("id_b"),
      col("grams").as("g_b"), col("_delta"))
    // corpus partners always pair; delta partners only once (id_a < id_b)
    verifiedPairs(a, b,
      (not(col("_delta")) && (col("id_a") =!= col("id_b"))) ||
        (col("_delta") && (col("id_a") < col("id_b"))),
      threshold)
  }

  /** End-to-end near-dup removal: detect pairs, cluster them, keep one doc
    * per cluster (the minimum id). Returns the deduplicated corpus with the
    * original schema — the one-call form of the
    * pairs -> connectedComponents -> keep-flag pipeline. */
  def dedupCorpus(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      blockCols: Seq[Column],
      n: Int = 3,
      threshold: Double = 0.7): DataFrame = {
    val pairs = ngramJaccardPairs(docs, idCol, textCol, blockCols, n, threshold)
    val keep = Graphs.dedupClusters(docs, idCol, pairs, "id_a", "id_b")
      .where(col("keep")).select(col(idCol))
    docs.join(keep, Seq(idCol), "left_semi")
  }

  /** Distinct word-n-gram hashes in one fused JVM loop per row (tokenize →
    * window → 64-bit hash → dedup). The HOF formulation
    * (`array_distinct(transform(sequence(...), concat_ws(slice)))`) is
    * interpreted and allocates per window — measured 8x slower over the
    * 500k-doc scale probe. 64-bit hashes (two seeded murmur32 halves) keep
    * cross-set collision odds negligible at 10^8+ distinct grams. */
  private[graft] def gramHashUdf(n: Int) = udf { (txt: String) =>
    val toks =
      if (txt == null) Array.empty[String]
      else txt.split("\\s+").filter(_.nonEmpty)
    // token-free text has NO grams (not a hash of "") — otherwise one blank
    // benchmark row would flag every blank corpus doc as contaminated
    if (toks.isEmpty) Array.empty[Long]
    else gramHashes(toks, n)
  }

  private def gramHashes(toks: Array[String], n: Int): Array[Long] = {
    val nW = math.max(toks.length - n + 1, 1)
    val seen = new java.util.LinkedHashSet[java.lang.Long](nW * 2)
    var i = 0
    while (i < nW) {
      val sb = new java.lang.StringBuilder
      var w = 0
      while (w < n && i + w < toks.length) {
        if (w > 0) sb.append(' ')
        sb.append(toks(i + w))
        w += 1
      }
      val s = sb.toString
      val h = (scala.util.hashing.MurmurHash3.stringHash(s, 42).toLong << 32) |
        (scala.util.hashing.MurmurHash3.stringHash(s, 123).toLong & 0xffffffffL)
      seen.add(h)
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator(); var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    out
  }

  /** Benchmark decontamination: flag corpus documents sharing word n-grams
    * with an evaluation/benchmark set (the GPT-3/PaLM-style hygiene pass —
    * a training corpus that contains eval n-grams corrupts the benchmark).
    *
    * Scale shape: the benchmark side is tiny relative to a 100 TB corpus,
    * so its DISTINCT gram hashes build a broadcast-sized relation; the
    * corpus explodes to (doc, gram-hash) and hits it with a broadcast
    * join (no corpus-wide shuffle), then one partial-aggregated count per
    * doc. The exploded stream and the broadcast table carry 8-byte longs,
    * not gram strings — the hash never reaches the output, which is exact
    * gram-overlap counts.
    *
    * @return docs' id column + `n_grams` (distinct grams in the doc),
    *         `n_hits` (of them, how many occur anywhere in the benchmark),
    *         `contaminated` (n_hits > maxHits).
    */
  def decontaminate(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      benchmark: DataFrame,
      benchTextCol: String,
      n: Int = 8,
      maxHits: Long = 0L): DataFrame = {
    require(n > 0, "n must be positive")
    val gh = gramHashUdf(n)
    val benchGrams = benchmark
      .select(explode(gh(col(benchTextCol))).as("_gh"))
      .distinct()
      .withColumn("_hit", lit(1L))
    // ONE pass over the corpus: the doc's gram count rides along every
    // exploded row, the broadcast left join marks benchmark grams, and the
    // per-doc aggregation is map-combined — no second shingling, no
    // corpus-side shuffle wider than (id, count)
    docs
      .select(col(idCol), gh(col(textCol)).as("_ghs"))
      // explode_outer: token-free docs have ZERO grams and must still
      // appear in the output (n_grams = 0, n_hits = 0), not vanish
      .select(col(idCol), size(col("_ghs")).cast("long").as("n_grams"),
        explode_outer(col("_ghs")).as("_gh"))
      .join(broadcast(benchGrams), Seq("_gh"), "left")
      .groupBy(col(idCol))
      .agg(first(col("n_grams")).as("n_grams"),
        sum(coalesce(col("_hit"), lit(0L))).as("n_hits"))
      .withColumn("contaminated", col("n_hits") > maxHits)
  }

  /** Exact-substring duplication profile: for every document, how many of
    * its token windows (length `windowTokens`, stride 1, de-duplicated
    * within the doc) occur verbatim in at least one OTHER document — the
    * Lee et al. "Deduplicating Training Data Makes Language Models Better"
    * signal at token-window granularity, without the suffix array.
    *
    * Scale shape: the corpus is shingled ONCE (the fused gram-hash UDF,
    * same kernel as [[decontaminate]]) and materialized as (id, hash64)
    * longs; window strings never enter a shuffle. Because hashes are
    * de-duplicated per doc, `count(*)` per hash IS the distinct-document
    * count — a map-combinable aggregation, no countDistinct expansion. The
    * shared-window join keys on the same hash the aggregation grouped on,
    * so AQE/exchange reuse keeps it to one extra shuffle of 8-byte keys.
    *
    * @return id column + `n_windows` (distinct windows in the doc),
    *         `n_shared` (of them, how many appear in ≥1 other doc),
    *         `dup_frac` (= n_shared / n_windows, 6dp), `flagged`
    *         (dup_frac >= minShare). Docs shorter than `windowTokens`
    *         contribute their single whole-text window; empty docs have
    *         zero windows and are never flagged. */
  def substringDupProfile(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      windowTokens: Int = 8,
      minShare: Double = 0.5): DataFrame = {
    require(windowTokens > 0, "windowTokens must be positive")
    val gh = gramHashUdf(windowTokens)
    val grams = Materialize(
      docs.select(col(idCol), gh(col(textCol)).as("_ghs"))
        .select(col(idCol),
          size(col("_ghs")).cast("long").as("n_windows"),
          explode_outer(col("_ghs")).as("_gh")))
    val shared = grams.where(col("_gh").isNotNull)
      .groupBy(col("_gh"))
      .agg(count(lit(1)).as("_docs"))
      .where(col("_docs") >= 2)
    val out = grams.join(shared, Seq("_gh"), "left")
      .groupBy(col(idCol))
      .agg(first(col("n_windows")).as("n_windows"),
        sum(when(col("_docs").isNotNull, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("dup_frac",
        round(col("n_shared") / greatest(col("n_windows"), lit(1L)), 6))
      .withColumn("flagged", col("dup_frac") >= minShare)
    out
  }

  // -------------------------------------------------------------- simhash ---

  /** 60-bit SimHash over whitespace tokens of the named column. Per token a
    * 60-bit hash (top 15 hex chars of md5 — md5 so any SQL engine can
    * recompute the fingerprint for verification); each bit votes +1/-1 into
    * a counter vector (one pass via zip_with); sign-bits pack into one
    * BIGINT with overflow-safe shifts (ANSI-mode friendly). Map-side only. */
  def simHash(textColName: String): Column = {
    // backtick-quote: the name is interpolated into SQL text / a field path
    val q = "`" + textColName.replace("`", "``") + "`"
    org.apache.spark.sql.SparkSession.getActiveSession match {
      case Some(s) =>
        // native single-loop expression (graft.sql.SimHash60) — bit-for-bit
        // the fold below, but without 60 interpreted lambda frames per
        // token (the HOF form measured ~2ms/doc: 94s for a 50k-doc pass)
        graft.sql.functions.ensureRegistered(s)
        call_function("graft_simhash60", col(q))
      case None => // no active session to register with: HOF fallback
        expr(
        s"""aggregate(
           |  transform(
           |    aggregate(
           |      transform(regexp_extract_all($q, '\\\\S+', 0),
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
    }
  }

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming64(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b)).cast("long")

  /** SimHash near-dup pairs: block on the 4 15-bit quadrants (a pair within
    * Hamming distance <= 3 of a 60-bit hash must agree on at least one
    * quadrant), then verify exact Hamming distance. */
  /** Corpus-level overlap estimation: one MinHash signature PER GROUP over
    * the union of its documents' shingle sets, then pairwise estimated
    * Jaccard between groups — the dataset-curation planning question "how
    * much does crawl A overlap crawl B / how redundant are my sources?"
    * answered without any cross-corpus document join.
    *
    * Works because minwise hashing is a union-homomorphism: the signature
    * of a UNION of sets is the component-wise min of the sets' signatures,
    * so per-doc signatures (map-side UDF) reduce to per-group signatures in
    * one map-combined aggregation. Scale shape: the only shuffle carries
    * (group, component, partial-min) cells — |groups| × k longs per task,
    * regardless of corpus size; the pairwise compare is |groups|² on
    * group-sized relations. Same md5-affine family as [[minHashSignature]],
    * so the whole estimate replays in SQL.
    *
    * Output: (group_a, group_b, est_jaccard) for group_a < group_b. */
  def corpusOverlap(docs: DataFrame, groupCol: String, textCol: String,
      shingleWords: Int = 3, k: Int = 64, scale: Int = 4): DataFrame = {
    // fused signature pass; token-free docs contribute no shingles (null →
    // filtered), matching the SQL replay's len(toks) > 0 guard
    val sigs = docs.select(col(groupCol).as("__grp"),
      fusedMinHashUdf(shingleWords, k)(col(textCol)).as("__sig"))
      .where(col("__sig").isNotNull)
    val comps = sigs
      .select(col("__grp"), posexplode(col("__sig")).as(Seq("__i", "__h")))
      .groupBy(col("__grp"), col("__i"))
      .agg(min(col("__h")).as("__h"))
    // the pairwise compare self-joins the group-signature relation; no
    // explicit materialization — both legs share the same aggregation
    // subtree and Spark's ReuseExchange computes the doc-side pass once
    val grouped = comps.groupBy(col("__grp"))
      .agg(transform(
        array_sort(collect_list(struct(col("__i"), col("__h")))),
        x => x.getField("__h")).as("__sig"))
    val a = grouped.select(col("__grp").as("group_a"), col("__sig").as("__sa"))
    val b = grouped.select(col("__grp").as("group_b"), col("__sig").as("__sb"))
    a.join(b, col("group_a") < col("group_b"))
      .select(col("group_a"), col("group_b"),
        estimatedJaccard(col("__sa"), col("__sb"), scale).as("est_jaccard"))
  }

  /** Within-document paragraph dedup — the Common-Crawl curation step that
    * removes a page's own repeated blocks (headers re-injected per section,
    * templated pull-quotes, pagination echoes) BEFORE corpus-level dedup,
    * so a doc's repeated boilerplate cannot inflate its n-gram overlap
    * with other docs. Keeps the FIRST occurrence of each exact paragraph,
    * preserving the original relative order of survivors; later repeats
    * (including repeated empty paragraphs from doubled separators) drop.
    *
    * Scale shape: paragraphs explode once; first-occurrence selection and
    * the rebuild are two aggregations both keyed by the doc id, so the
    * second groupBy reuses the first's hash partitioning (one effective
    * shuffle of paragraph rows, map-combined). Output: (idCol, textCol
    * cleaned) one row per input document. */
  def dedupParagraphs(docs: DataFrame, idCol: String, textCol: String,
      sep: String = "\n\n"): DataFrame = {
    val quoted = java.util.regex.Pattern.quote(sep)
    val paras = docs.select(col(idCol).as("__id"),
      posexplode(split(col(textCol), quoted)).as(Seq("__pos", "__para")))
    val firsts = paras.groupBy(col("__id"), col("__para"))
      .agg(min(col("__pos")).as("__pos"))
    firsts.groupBy(col("__id"))
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("__pos"), col("__para")))),
          x => x.getField("__para")),
        sep).as("__text"))
      .select(col("__id").as(idCol), col("__text").as(textCol))
  }

  /** Corpus-wide duplicate-paragraph profile: how much of each document is
    * boilerplate repeated in OTHER documents — the cross-document twin of
    * [[dedupParagraphs]] (which is within-doc). A paragraph counts as `dup`
    * when its exact text occurs in more than one distinct document; the
    * per-doc dup fraction is the C4/RefinedWeb-style "template-heavy page"
    * curation signal.
    *
    * Scale shape: paragraphs shuffle as (64-bit hash, length) — never as
    * text (the occurrence count joins back on the same compound key, so the
    * exchange is reused), and the doc-level rollup is a map-combined
    * aggregation on the doc key. The length component costs 8 bytes per row
    * and multiplies collision resistance: conflating two paragraphs now
    * needs an xxhash64 collision AT equal length (the oracle gate compares
    * exact text, so a single collision would be a hard query failure, not
    * tolerated noise).
    * Output: (doc_id, n_paras, n_dup_paras, dup_ratio). */
  def paragraphDupStats(docs: DataFrame, idCol: String, textCol: String,
      sep: String = "\n\n", scale: Int = 4): DataFrame = {
    val quoted = java.util.regex.Pattern.quote(sep)
    // distinct (doc, para): repetition WITHIN a doc is dedupParagraphs'
    // concern — here each document votes once per paragraph text
    val dp = docs.select(col(idCol).as("__id"),
        explode(split(col(textCol), quoted)).as("__para"))
      .select(col("__id"), xxhash64(col("__para")).as("__ph"),
        length(col("__para")).as("__pl"))
      .distinct()
    val occ = dp.groupBy(col("__ph"), col("__pl")).agg(count(lit(1)).as("__nd"))
    dp.join(occ, Seq("__ph", "__pl"))
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_paras"),
        sum(when(col("__nd") > 1, 1L).otherwise(0L)).as("n_dup_paras"))
      .withColumn("dup_ratio",
        round(col("n_dup_paras").cast("double") / col("n_paras"), scale))
      .select(col("__id").as("doc_id"), col("n_paras"), col("n_dup_paras"),
        col("dup_ratio"))
  }

  /** Canonical-document selection: within each duplicate cluster keep the
    * HIGHEST-quality member rather than the smallest id — the policy step
    * after clustering ("of these near-identical pages, train on the
    * cleanest one"). Deterministic: quality desc, then id asc on ties.
    *
    * Scale shape: deliberately NOT a row_number window — a window on the
    * cluster key drags every member of the largest cluster through one
    * task, and a megacluster (10⁸ copies of the same boilerplate) stalls
    * the stage at corpus scale. The argmax is a map-combined
    * min(struct(-quality, id)) aggregation (hot clusters combine map-side,
    * no skew), and the flag joins back against the 1-row-per-cluster
    * winners relation on the same key. */
  def selectCanonical(clustered: DataFrame, idCol: String, clusterCol: String,
      quality: Column): DataFrame = {
    val best = clustered.groupBy(col(clusterCol))
      .agg(min(struct((-quality).as("nq"), col(idCol).cast("long").as("bid")))
        .as("__b"))
      .select(col(clusterCol), col("__b.bid").as("__best_id"))
    val outCols = clustered.columns.map(col) :+ col("is_canonical")
    clustered.join(best, Seq(clusterCol))
      .withColumn("is_canonical", col(idCol).cast("long") === col("__best_id"))
      .select(outCols: _*)
  }

  def simHashPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3): DataFrame =
    fingerprintPairs(
      docs.select(col(idCol).as("doc_id"), simHash(textCol).as("sh")), maxHamming)

  /** Quadrant-blocked pairing of ANY 64-bit fingerprint frame (doc_id, sh)
    * — simhash, perceptual media hash, or any other locality-sensitive
    * bit signature. Four 15-bit blocks; a pair within `maxHamming` <= 3
    * must agree on at least one block (pigeonhole), so the blocked
    * equi-join is LOSSLESS at the default threshold and never all-pairs —
    * candidate work scales with bucket sizes, not corpus². */
  def fingerprintPairs(hashed: DataFrame, maxHamming: Int = 3): DataFrame = {
    // the fingerprint fully determines both the quadrant blocking and the
    // hamming distance, so `sh` ITSELF is the exact 64-bit collapse class
    // key (CollapseGate); a null-sh class drops exactly as the row-level
    // join's null keys do
    val withCk = hashed.select(col("doc_id"), col("sh"))
      .transform(Materialize.apply)
    def pairsOf(rows: DataFrame, key: String): DataFrame = {
      // one row per 15-bit block of each input row
      val quads = rows.select(col(key).as("id"), col("sh"),
          explode(array((0 until 4).map(q => struct(lit(q).as("quad"),
            shiftrightunsigned(col("sh"), 15 * q).bitwiseAND(lit(0x7FFFL)).as("qval"))): _*))
            .as("q"))
        .select(col("id"), col("sh"), col("q.quad"), col("q.qval"))
      def side(s: String) = quads.select(col("quad"), col("qval"),
        col("id").as(s"id_$s"), col("sh").as(s"sh_$s"))
      side("a").join(side("b"), Seq("quad", "qval"))
        .where(col("id_a") < col("id_b"))
        .dropDuplicates("id_a", "id_b")
        .withColumn("hamming", hamming64(col("sh_a"), col("sh_b")))
        .where(col("hamming") <= maxHamming)
        .select("id_a", "id_b", "hamming")
    }
    CollapseGate.pairs(withCk, "doc_id", "sh", "hamming")(pairsOf,
      _.select(col("sh"), hamming64(col("sh"), col("sh")).as("hamming"))
        .where(col("hamming") <= maxHamming))
  }

  /** Winnowing fingerprints per document (MOSS — Schleimer et al. 2003),
    * via the native [[graft.sql.WinnowFingerprints]] expression: rolling
    * k-codepoint-gram hashes, rightmost-min selection per w-hash window.
    * Any substring shared between two documents of length ≥ k+w−1 yields at
    * least one common (hash) fingerprint — the POSITION-ROBUST overlap
    * primitive (copied paragraphs, quoted passages, template fragments)
    * that whole-document schemes (simhash/minhash) structurally miss.
    *
    * Scale shape: pure narrow map + explode — no shuffle at all; downstream
    * overlap detection joins on `fp_hash` (a long), never text. Fingerprint
    * density is ~2/(w+1) per position, so w is the size/recall dial.
    * Output: (doc_id, pos, fp_hash), pos = 1-based codepoint position of
    * the selected k-gram. */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 16, w: Int = 16): DataFrame = {
    graft.sql.functions.ensureRegistered(docs.sparkSession)
    docs
      .select(col(idCol).as("doc_id"),
        explode(call_function("graft_winnow", col(textCol), lit(k), lit(w))).as("fp"))
      .select(col("doc_id"), col("fp.pos").as("pos"), col("fp.hash").as("fp_hash"))
  }

  /** First 60 bits of md5(s) — equal to `('0x'||substr(md5(s),1,15))::BIGINT`
    * in SQL, the house cross-engine hash convention. */
  @inline private[graft] def md5Long60(s: String): Long = {
    val d = md5Local.get()
    val b = d.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (b(i) & 0xffL); i += 1 }
    h >>> 4
  }

  /** UTF-8 bytes of `txt` plus the byte offset of every CODEPOINT boundary
    * (length cps+1) — ONE encode for the whole text, so per-gram hashing
    * digests byte RANGES instead of allocating a substring and a fresh
    * byte array per gram (round 14; the substring path cost ~40% of the
    * q123 gram pass). Unpaired surrogates count 1 byte, exactly the '?'
    * REPLACE byte `String.getBytes(UTF_8)` emits for them on the substring
    * path this replaces — and a codepoint window can never split a
    * surrogate PAIR, so range bytes == substring bytes for every gram
    * (DedupKernelSpec pins it, unpaired surrogates included). */
  private[graft] def utf8CodepointOffsets(txt: String): (Array[Byte], Array[Int]) = {
    val bytes = txt.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val cps = txt.codePointCount(0, txt.length)
    val offs = new Array[Int](cps + 1)
    var c = 0
    var si = 0
    var bo = 0
    while (c < cps) {
      offs(c) = bo
      val cp = txt.codePointAt(si)
      val unpaired = cp >= 0xD800 && cp <= 0xDFFF
      bo += (if (cp < 0x80 || unpaired) 1 else if (cp < 0x800) 2
             else if (cp < 0x10000) 3 else 4)
      si += Character.charCount(cp)
      c += 1
    }
    offs(cps) = bo
    (bytes, offs)
  }

  /** First 60 bits of md5 over a byte RANGE — [[md5Long60]] without the
    * per-call substring/getBytes/digest-array allocations (`buf` is a
    * caller-reused 16-byte scratch). */
  @inline private[graft] def md5Long60Range(bytes: Array[Byte], off: Int,
      len: Int, buf: Array[Byte]): Long = {
    val d = md5Local.get()
    d.reset()
    d.update(bytes, off, len)
    d.digest(buf, 0, 16)
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (buf(i) & 0xffL); i += 1 }
    h >>> 4
  }

  /** SORTED distinct character-n-gram 60-bit md5 hashes in one fused JVM
    * loop — the char twin of [[md5GramHashUdf]], pre-sorted so the native
    * sorted-merge verifiers ([[graft.sql.SortedArrayContainGE]] /
    * [[graft.sql.SortedArrayJaccardGE]]) can consume it directly. Texts
    * shorter than `n` yield one gram of the whole text; null → empty.
    * Round 14: one whole-text UTF-8 encode + byte-range digests + a
    * primitive sort/dedupe replace the per-gram substring+getBytes and the
    * boxed TreeSet ([[md5CharGramHashRefUdf]] keeps the old body as the
    * spec-equivalence twin). */
  private[graft] def md5CharGramHashUdf(n: Int) = udf { (txt: String) =>
    if (txt == null) Array.empty[Long]
    else {
      // CODEPOINT windows, like Spark's substr/length and the SQL oracle's
      // — Java's char-indexed substring would shift every window after a
      // surrogate pair (the zh docs)
      val (bytes, offs) = utf8CodepointOffsets(txt)
      val cps = offs.length - 1
      val nG = math.max(cps - n + 1, 1)
      val buf = new Array[Byte](16)
      val hs = new Array[Long](nG)
      var i = 0
      while (i < nG) {
        val a = offs(i)
        val b = offs(math.min(i + n, cps))
        hs(i) = md5Long60Range(bytes, a, b - a, buf)
        i += 1
      }
      java.util.Arrays.sort(hs)
      var w = 0
      var r = 0
      while (r < nG) {
        if (w == 0 || hs(r) != hs(w - 1)) { hs(w) = hs(r); w += 1 }
        r += 1
      }
      if (w == nG) hs else java.util.Arrays.copyOf(hs, w)
    }
  }

  /** The pre-round-14 substring/TreeSet body of [[md5CharGramHashUdf]] —
    * spec verification surface only (DedupKernelSpec pins the fused kernel
    * equal to it row by row). */
  private[graft] def md5CharGramHashRefUdf(n: Int) = udf { (txt: String) =>
    if (txt == null) Array.empty[Long]
    else {
      val cps = txt.codePointCount(0, txt.length)
      val offs = new Array[Int](cps + 1)
      var c = 0
      while (c < cps) { offs(c + 1) = txt.offsetByCodePoints(offs(c), 1); c += 1 }
      val nG = math.max(cps - n + 1, 1)
      val seen = new java.util.TreeSet[java.lang.Long]()
      var i = 0
      while (i < nG) {
        seen.add(md5Long60(txt.substring(offs(i), offs(math.min(i + n, cps)))))
        i += 1
      }
      val out = new Array[Long](seen.size)
      val it = seen.iterator()
      var j = 0
      while (it.hasNext) { out(j) = it.next(); j += 1 }
      out
    }
  }

  /** Distinct word-n-gram 60-bit md5 hashes in one fused JVM loop — the
    * oracle-replayable twin of [[gramHashUdf]] (murmur64, faster but not
    * recomputable in SQL). Shares [[wordShingles]]' windowing contract,
    * including the "fewer than n tokens → one gram of everything" edge.
    * Round 14: tokens encode to UTF-8 ONCE and each gram digests the parts
    * (token bytes, 0x20 separators) directly — no per-gram StringBuilder,
    * substring or getBytes. md5 over the joined string equals md5 over the
    * concatenated parts by construction; [[md5GramHashRefUdf]] keeps the
    * old body as the spec twin. */
  private[graft] def md5GramHashUdf(n: Int) = udf { (txt: String) =>
    val toks =
      if (txt == null) Array.empty[String]
      else txt.split("\\s+").filter(_.nonEmpty)
    val tb = new Array[Array[Byte]](toks.length)
    var t = 0
    while (t < toks.length) {
      tb(t) = toks(t).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      t += 1
    }
    val nW = math.max(toks.length - n + 1, 1)
    val seen = new java.util.LinkedHashSet[java.lang.Long](nW * 2)
    val buf = new Array[Byte](16)
    val d = md5Local.get()
    var i = 0
    while (i < nW) {
      d.reset()
      var w = 0
      while (w < n && i + w < toks.length) {
        if (w > 0) d.update(0x20.toByte)
        d.update(tb(i + w))
        w += 1
      }
      d.digest(buf, 0, 16)
      var h = 0L
      var j = 0
      while (j < 8) { h = (h << 8) | (buf(j) & 0xffL); j += 1 }
      seen.add(h >>> 4)
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    out
  }

  /** The pre-round-14 StringBuilder body of [[md5GramHashUdf]] — spec
    * verification surface only. */
  private[graft] def md5GramHashRefUdf(n: Int) = udf { (txt: String) =>
    val toks =
      if (txt == null) Array.empty[String]
      else txt.split("\\s+").filter(_.nonEmpty)
    val nW = math.max(toks.length - n + 1, 1)
    val seen = new java.util.LinkedHashSet[java.lang.Long](nW * 2)
    var i = 0
    while (i < nW) {
      val sb = new java.lang.StringBuilder
      var w = 0
      while (w < n && i + w < toks.length) {
        if (w > 0) sb.append(' ')
        sb.append(toks(i + w))
        w += 1
      }
      seen.add(md5Long60(sb.toString))
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    out
  }

  /** Per-document shingle NOVELTY against everything earlier in the corpus
    * order: the fraction of a doc's distinct word n-gram shingles whose
    * FIRST occurrence (minimum id) is this doc. The streaming-curation
    * prioritizer — crawl batches full of already-seen boilerplate score
    * near 0 and can be dropped before any expensive pairwise dedup runs.
    *
    * Scale shape: shingling+hashing is one fused JVM pass per doc (the
    * HOF `array_distinct(transform(slice))` form re-measured 4× slower);
    * shingles shuffle as 60-bit md5-derived hashes (never text); first-seen
    * is a map-combined `min(id)` per hash. Round 14: the counts decompose
    * so the exploded shingle stream is never joined or re-shuffled —
    * `n_shingles(id)` is a map-combined count per doc, and `n_novel(id)` =
    * |{h : min_id(h) == id}| falls out of grouping first-seen BY its own
    * min id. The old instance-level `dp ⋈ firstSeen` (which re-shuffled
    * every exploded row) becomes a doc-level left join that AQE
    * broadcasts; the skew posture improves too (stop-shingles now only
    * ever flow through map-combined partial aggregates).
    * Nothing is quadratic, no windows.
    * Output: (doc_id, n_shingles, n_novel, novelty). */
  def shingleNovelty(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 5, scale: Int = 4): DataFrame = {
    val dp = docs.select(col(idCol).cast("long").as("__id"),
      explode(md5GramHashUdf(n)(col(textCol))).as("__h"))
    // grams are distinct per doc (the UDF dedupes), so the per-doc count
    // map-combines to one row per (task, doc) — a tiny shuffle
    val per = dp.groupBy(col("__id")).agg(count(lit(1)).as("n_shingles"))
    val novel = dp.groupBy(col("__h")).agg(min(col("__id")).as("__first"))
      .groupBy(col("__first")).agg(count(lit(1)).as("n_novel"))
    per.join(novel, col("__id") === col("__first"), "left")
      .select(col("__id").as("doc_id"), col("n_shingles"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
      .withColumn("novelty",
        round(col("n_novel").cast("double") / col("n_shingles"), scale))
  }
}
