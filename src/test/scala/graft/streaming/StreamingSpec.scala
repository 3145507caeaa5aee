package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.matchers.should.Matchers

import java.sql.Timestamp

import graft.SparkTestBase

class StreamingSpec extends SparkTestBase with Matchers {

  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  it("windowed event counts aggregate by event-time windows") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "value")

    val query = Streaming.windowedEventCounts(events,
      watermark = "1 minute", windowDuration = "1 hour")
      .writeStream.format("memory").queryName("win_counts")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(
        (ts("2024-01-01 10:05:00"), "click", 1.0),
        (ts("2024-01-01 10:45:00"), "click", 2.0),
        (ts("2024-01-01 11:05:00"), "view", 5.0))
      query.processAllAvailable()
      val rows = spark.table("win_counts")
        .select("window_start", "event_type", "n_events", "total_value")
        .as[(Timestamp, String, Long, Double)].collect().sortBy(r => (r._1.getTime, r._2))
      rows should contain(ts("2024-01-01 10:00:00"), "click", 2L, 3.0)
      rows should contain(ts("2024-01-01 11:00:00"), "view", 1L, 5.0)
    } finally query.stop()
  }

  it("media profile streams agree bit-for-bit with the batch kernels") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Multimodal
    val payloads = Seq(
      1L -> Multimodal.blockImageBytes(Array.tabulate(60)(k => (k * 7) % 256), 6, 10, 10, 6),
      2L -> Multimodal.blockImageBytes(Array.tabulate(60)(k => (255 - k) % 256), 6, 10, 10, 6),
      3L -> "corrupt".getBytes("UTF-8"))
    val wavs = Seq(
      1L -> Multimodal.pcmWavBytes(Array.tabulate(500)(i =>
        (((i * 977L) % 65536L) - 32768L).toShort), 8000),
      2L -> "junk".getBytes("UTF-8"))

    val imgIn = MemoryStream[(Long, Array[Byte])]
    val imgQuery = Multimodal.imageProfiles(
        imgIn.toDF().toDF("doc_id", "content"), "doc_id", "content")
      .writeStream.format("memory").queryName("img_profiles")
      .outputMode(OutputMode.Append()).start()
    val audIn = MemoryStream[(Long, Array[Byte])]
    val audQuery = Multimodal.audioProfiles(
        audIn.toDF().toDF("doc_id", "content"), "doc_id", "content")
      .writeStream.format("memory").queryName("aud_profiles")
      .outputMode(OutputMode.Append()).start()
    try {
      imgIn.addData(payloads: _*)
      audIn.addData(wavs: _*)
      imgQuery.processAllAvailable()
      audQuery.processAllAvailable()
      val streamedImg = spark.table("img_profiles").collect().map(_.toSeq).toSet
      val batchImg = Multimodal.imageProfiles(
        payloads.toDF("doc_id", "content"), "doc_id", "content")
        .collect().map(_.toSeq).toSet
      streamedImg shouldBe batchImg
      val streamedAud = spark.table("aud_profiles").collect().map(_.toSeq).toSet
      val batchAud = Multimodal.audioProfiles(
        wavs.toDF("doc_id", "content"), "doc_id", "content")
        .collect().map(_.toSeq).toSet
      streamedAud shouldBe batchAud
    } finally { imgQuery.stop(); audQuery.stop() }
  }

  it("streaming dedup drops duplicate keys within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    val events = input.toDF().toDF("id", "ts", "v")
    val query = Streaming.dedupStream(events, "ts", "1 hour", Seq("id"))
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((1L, ts("2024-01-01 10:00:00"), "a"),
        (1L, ts("2024-01-01 10:00:00"), "a-dup"),
        (2L, ts("2024-01-01 10:01:00"), "b"))
      query.processAllAvailable()
      spark.table("dedup_out").count() shouldBe 2
    } finally query.stop()
  }

  it("stream-static enrichment attaches dim attributes without stream shuffle") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp)]
    val events = input.toDF().toDF("user_id", "ts")
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val query = Streaming.enrichStream(events, dim, Seq("user_id"))
      .writeStream.format("memory").queryName("enriched")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((1L, ts("2024-01-01 10:00:00")), (3L, ts("2024-01-01 10:01:00")))
      query.processAllAvailable()
      val rows = spark.table("enriched").select("user_id", "tier")
        .as[(Long, Option[String])].collect().toMap
      rows shouldBe Map(1L -> Some("gold"), 3L -> None)
    } finally query.stop()
  }

  it("streaming content dedup drops same-fingerprint docs within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    val docs = input.toDF().toDF("doc_id", "ts", "text")
    val query = Streaming.dedupStreamByContent(docs, "ts", "1 hour", "text")
      .writeStream.format("memory").queryName("content_dedup")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        (1L, ts("2024-01-01 10:00:00"), "Hello   world"),
        (2L, ts("2024-01-01 10:00:30"), "hello world"), // same canonical fp
        (3L, ts("2024-01-01 10:01:00"), "different"))
      query.processAllAvailable()
      spark.table("content_dedup").count() shouldBe 2
    } finally query.stop()
  }

  it("sessionize closes sessions after the gap via event-time timeout") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Streaming.SessionInput]
    val query = Streaming.sessionize(input.toDS(), gapMs = 30L * 60 * 1000,
      watermark = "1 second")
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append()).start()
    try {
      // one user: two bursts separated by > 30min; second burst much later
      input.addData(
        Streaming.SessionInput(7L, ts("2024-01-01 10:00:00"), 1.0),
        Streaming.SessionInput(7L, ts("2024-01-01 10:10:00"), 2.0))
      query.processAllAvailable()
      input.addData(Streaming.SessionInput(7L, ts("2024-01-01 12:00:00"), 4.0))
      query.processAllAvailable()
      // advance the watermark so the first session times out
      input.addData(Streaming.SessionInput(99L, ts("2024-01-01 13:00:00"), 0.0))
      query.processAllAvailable()

      val sessions = spark.table("sessions")
        .as[Streaming.SessionSummary].collect().filter(_.user_id == 7L)
      sessions.length should be >= 1
      val first = sessions.minBy(_.session_start.getTime)
      first.n_events shouldBe 2
      first.total_value shouldBe 3.0
      first.session_end shouldBe ts("2024-01-01 10:10:00")
    } finally query.stop()
  }

  it("streaming decontamination flags docs at ingest, matching the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val bench = Seq((100L, "the quick brown fox runs")).toDF("bid", "btext")
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val query = Streaming.decontaminateStream(docs, "text", bench, "btext", n = 3)
      .writeStream.format("memory").queryName("decon_out")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        (0L, "the quick brown fox appears here"), // shares two 3-grams
        (1L, "nothing in common with anything"),
        (2L, "quick brown fox sighted"))          // shares one 3-gram
      query.processAllAvailable()
      val out = spark.table("decon_out")
        .select("doc_id", "n_hits", "contaminated")
        .as[(Long, Long, Boolean)].collect().sortBy(_._1)
      out shouldBe Array((0L, 2L, true), (1L, 0L, false), (2L, 1L, true))
      // flags agree with the batch operator over the same data
      val batch = graft.operators.Dedup.decontaminate(
        Seq((0L, "the quick brown fox appears here"),
          (1L, "nothing in common with anything"),
          (2L, "quick brown fox sighted")).toDF("doc_id", "text"),
        "doc_id", "text", bench, "btext", n = 3)
        .select("doc_id", "n_hits", "contaminated")
        .as[(Long, Long, Boolean)].collect().sortBy(_._1)
      batch shouldBe out
    } finally query.stop()
  }

  it("streaming decontamination rejects n <= 0 like the batch operator") {
    // at n <= 0 every gram window is empty, so every document with a token
    // would hash the empty gram and read as contaminated
    implicit val sqlCtx = spark.sqlContext
    val bench = Seq((100L, "the quick brown fox runs")).toDF("bid", "btext")
    val docs = MemoryStream[(Long, String)].toDF().toDF("doc_id", "text")
    for (n <- Seq(0, -1)) {
      an[IllegalArgumentException] should be thrownBy
        Streaming.decontaminateStream(docs, "text", bench, "btext", n = n)
      an[IllegalArgumentException] should be thrownBy
        graft.operators.Dedup.decontaminate(
          Seq((0L, "a b c")).toDF("doc_id", "text"), "doc_id", "text", bench, "btext", n = n)
    }
  }

  it("streaming count-min sketch equals the batch sketch over the same items") {
    // a fresh session has none of the graft_* functions registered: the
    // batch operator must install what it calls on the stream's session
    val fresh = spark.newSession()
    fresh.sessionState.functionRegistry.listFunction().map(_.funcName) should
      not contain "graft_cm_buckets"
    implicit val sqlCtx = fresh.sqlContext
    import fresh.implicits._
    val input = MemoryStream[String]
    val query = graft.operators.Sketches.countMinSketch(input.toDF().toDF("item"), "item",
        depth = 3, width = 8)
      .writeStream.format("memory").queryName("cm_out")
      .outputMode(OutputMode.Complete()).start()
    try {
      input.addData("a", "b", "a")
      query.processAllAvailable()
      input.addData("c", "a", "b") // second micro-batch folds into the state
      query.processAllAvailable()
      val streamed = fresh.table("cm_out")
        .as[(Int, Long, Long)].collect().toSeq.sorted
      val batch = graft.operators.Sketches.countMinSketch(
        Seq("a", "b", "a", "c", "a", "b").toDF("item"), "item",
        depth = 3, width = 8)
        .as[(Int, Long, Long)].collect().toSeq.sorted
      streamed shouldBe batch
      // and estimates from the streamed sketch honour the one-sided bound
      val est = graft.operators.Sketches.countMinEstimate(
        Seq("a", "b", "c").toDF("item"), "item", fresh.table("cm_out"),
        depth = 3, width = 8)
        .as[(String, Long)].collect().toMap
      est("a") should be >= 3L
      est("b") should be >= 2L
      est("c") should be >= 1L
    } finally query.stop()
  }

  it("streaming KMV sketch equals the batch sketch over the same items") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(String, Long)]
    val query = graft.operators.Sketches.kmvSketch(
        input.toDF().toDF("g", "v"), Seq($"g"), $"v", k = 8)
      .writeStream.format("memory").queryName("kmv_out")
      .outputMode(OutputMode.Complete()).start()
    try {
      input.addData((1L to 6L).map(("x", _)): _*)
      query.processAllAvailable()
      input.addData((4L to 12L).map(("x", _)): _*) // overlap folds into state
      query.processAllAvailable()
      val streamed = spark.table("kmv_out")
        .select($"kmv").as[Seq[Long]].head()
      val batch = graft.operators.Sketches.kmvSketch(
        (1L to 12L).toDF("v").withColumn("g", lit("x")), Seq($"g"), $"v", k = 8)
        .select($"kmv").as[Seq[Long]].head()
      streamed shouldBe batch
      // 12 distinct > k=8: the estimate branch engages on streamed state
      spark.table("kmv_out")
        .select(graft.operators.Sketches.kmvEstimate($"kmv", 8))
        .as[Double].head() should be > 8.0
    } finally query.stop()
  }

  it("streaming embedding-drift windows report the batch axis exactly") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // window 1: points along (1,1); window 2 (later, rotated corpus):
    // points along (1,-1) — drift vs the (1,1) reference goes 0 -> ~1
    def pts(base: Long, dir: Int): Seq[(Timestamp, Array[Double])] =
      (0 until 40).map { i =>
        val t = (i - 20) / 10.0
        val o = ((i * 37) % 11 - 5) / 50.0
        (new Timestamp(base + i * 10L), Array(t + o, dir * (t - o)))
      }
    val w1 = pts(0L, 1)
    val w2 = pts(120000L, -1) // 2 minutes later: a separate 60s window
    val refAxis = {
      val batch = graft.operators.Pca.principalComponent(
        w1.map(_._2).map(Tuple1(_)).toDF("v"), "v", iterations = 4)
        .orderBy("pos").collect().map(_.getAs[Double]("loading"))
      batch
    }
    val input = MemoryStream[(Timestamp, Array[Double])]
    val query = Streaming.embeddingDriftStream(
        input.toDF().toDF("ts", "v"), "v", "ts",
        watermark = "10 seconds", windowSec = 60L, referenceAxis = refAxis)
      .writeStream.format("memory").queryName("embdrift_out")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(w1: _*)
      query.processAllAvailable()
      input.addData(w2: _*) // advances the watermark past window 1
      query.processAllAvailable()
      input.addData((new Timestamp(600000L), Array(0.0, 0.0))) // close window 2
      query.processAllAvailable()
      val rows = spark.table("embdrift_out")
        .orderBy($"window_start")
        .select($"n_vectors", $"axis", $"drift").collect()
      rows.length should be >= 2
      rows(0).getLong(0) shouldBe 40L
      // window 1 == the batch moment path over the same vectors, bit-exact
      graft.sql.functions.ensureRegistered(spark)
      val batchMoments = w1.map(_._2).map(Tuple1(_)).toDF("v")
        .agg(org.apache.spark.sql.functions.call_function(
          "graft_gramian", $"v")).head().getSeq[Long](0)
      val (batchAxis, _) =
        graft.operators.Pca.topComponentFromMoments(batchMoments, 4)
      rows(0).getSeq[Double](1) shouldBe batchAxis.toSeq
      rows(0).getDouble(2) shouldBe 0.0 +- 1e-4 // aligned with reference
      rows(1).getDouble(2) should be > 0.9 // rotated corpus: near-orthogonal
    } finally query.stop()
  }

  it("streaming quantile sketch state matches the batch histogram and answers quantiles") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.streaming.OutputMode
    val vals = (0 until 200).map(i => (i * 37 % 101).toDouble)
    val (lo, hi) = (vals.min, vals.max)
    val input = MemoryStream[Double]
    val query = Streaming.quantileSketchStream(input.toDF().toDF("value"),
        "value", lo, hi, nBins = 32)
      .writeStream.format("memory").queryName("qsketch_out")
      .outputMode(OutputMode.Complete()).start()
    try {
      input.addData(vals.take(120): _*)
      query.processAllAvailable()
      input.addData(vals.drop(120): _*) // folds into the bounded bin state
      query.processAllAvailable()
      // streamed state == the batch estimator's quantiles on the same data:
      // quantilesFromHistogram over the state replays approxQuantiles
      // exactly when the reference range equals the data range
      val streamed = graft.operators.Binning.quantilesFromHistogram(
        spark.table("qsketch_out"), lo, hi, nBins = 32, qs = Seq(0.5, 0.95))
        .select($"q", $"estimate", $"rank", $"bin")
        .as[(Double, Double, Long, Long)].collect().toSeq.sorted
      val batch = graft.operators.Binning.approxQuantiles(
        vals.toDF("value"), "value", Seq(0.5, 0.95), nBins = 32)
        .select($"q", $"estimate", $"rank", $"bin")
        .as[(Double, Double, Long, Long)].collect().toSeq.sorted
      streamed shouldBe batch
    } finally query.stop()
  }

  it("streaming top-k leaderboard state equals the batch aggregate across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.streaming.OutputMode
    val events = (0 until 300).map(i =>
      (s"cat${i % 3}", (i * 53 % 211).toDouble, i.toLong))
    val input = MemoryStream[(String, Double, Long)]
    val query = graft.operators.Ranking.topKPerKey(
        input.toDF().toDF("key", "score", "id"), Seq($"key"), $"score", $"id", 4)
      .writeStream.format("memory").queryName("topk_out")
      .outputMode(OutputMode.Complete()).start()
    try {
      input.addData(events.take(100): _*)
      query.processAllAvailable()
      input.addData(events.drop(100): _*) // state stays <= k pairs per key
      query.processAllAvailable()
      val streamed = spark.table("topk_out")
        .select($"key", $"score", $"id")
        .as[(String, Double, Long)].collect().toSeq.sorted
      val batch = graft.operators.Ranking.topKPerKey(
        events.toDF("key", "score", "id"), Seq($"key"), $"score", $"id", 4)
        .select($"key", $"score", $"id")
        .as[(String, Double, Long)].collect().toSeq.sorted
      streamed shouldBe batch
    } finally query.stop()
  }

  it("streams micro-batches into an audit table; snapshot resolves latest per key") {
    implicit val sqlCtx = spark.sqlContext
    import graft.storage._
    import spark.implicits._
    val base = s"$tmpDir/stream_storage"
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("user_id", "state")
    val query = Streaming.writeToStorageStream(docs, base,
      AuditTableInfo("user_state", Seq("user_id"), Map.empty, retainHistory = true),
      checkpoint = s"$tmpDir/stream_ckpt",
      batchTimestamp = bid => ts(s"2024-01-0${bid + 1} 00:00:00"))
    try {
      input.addData((1L, "a"), (2L, "b"))
      query.processAllAvailable()
      input.addData((1L, "c")) // batch 1: user 1 updates
      query.processAllAvailable()
    } finally query.stop()

    val table = Storage.openTable(spark, base, "user_state").get
    val snap = table.snapshot(ts("2024-06-01 00:00:00")).get
      .select("user_id", "state").as[(Long, String)].collect().sortBy(_._1)
    snap shouldBe Array((1L, "c"), (2L, "b")) // batch-2 state wins for user 1
    // two appended regions — one per non-empty micro-batch
    table.regions.length shouldBe 2
  }

  it("foreachBatch sinks skip empty micro-batches: no table, no region, no onBatch call") {
    implicit val sqlCtx = spark.sqlContext
    import graft.storage._
    val base = s"$tmpDir/empty_batches"
    val input = MemoryStream[(Long, Timestamp)]
    // every micro-batch runs, and every one is empty
    val empty = input.toDF().toDF("user_id", "t").where(lit(false))
    val calls = new java.util.concurrent.atomic.AtomicInteger
    val checkpoints = Seq(s"$tmpDir/empty_storage_ckpt", s"$tmpDir/empty_asof_ckpt")
    val queries = Seq(
      Streaming.writeToStorageStream(empty, base,
        AuditTableInfo("empty_state", Seq("user_id"), Map.empty, retainHistory = true),
        checkpoint = checkpoints(0)),
      // no "quotes" table exists, so a non-empty batch would fail the query
      Streaming.asOfEnrichStream(empty, base, "quotes", checkpoints(1),
        onBatch = (_, _) => calls.incrementAndGet(),
        pointKeys = Seq("user_id"), dimKeys = Seq("q_user"),
        pointTsCol = "t", dimTsCol = "q_ts"))
    try {
      input.addData((1L, ts("2024-01-01 10:00:00")))
      queries.foreach(_.processAllAvailable())
      input.addData((2L, ts("2024-01-01 11:00:00")))
      queries.foreach(_.processAllAvailable())
    } finally queries.foreach(_.stop())
    // both epochs ran and committed in each query
    checkpoints.foreach { cp =>
      new java.io.File(s"$cp/commits").list().filter(_.forall(_.isDigit))
        .toSet shouldBe Set("0", "1")
    }
    calls.get shouldBe 0
    new java.io.File(base).exists shouldBe false
    Storage.openTable(spark, base, "empty_state") shouldBe None
  }

  it("as-of enrichment stream equals the batch as-of against each epoch's snapshot") {
    implicit val sqlCtx = spark.sqlContext
    import graft.storage._
    import spark.implicits._
    val base = s"$tmpDir/asof_enrich"
    // dimension history: day 1 ingests two quotes, day 2 a newer one
    Storage.getOrCreateTable(spark, base,
      AuditTableInfo("quotes", Seq("q_id"), Map.empty, retainHistory = true))
      .append(Seq(
        (1L, 7L, ts("2024-03-01 10:00:00"), 1.0),
        (2L, 7L, ts("2024-03-01 11:00:00"), 2.0)).toDF("q_id", "q_user", "q_ts", "q_value"),
        None, ts("2024-01-01 00:00:00"))
    Storage.openTable(spark, base, "quotes").get // one-shot handles: reopen
      .append(Seq(
        (3L, 7L, ts("2024-03-01 11:45:00"), 3.0)).toDF("q_id", "q_user", "q_ts", "q_value"),
        None, ts("2024-01-02 00:00:00"))
    val quotes = Storage.openTable(spark, base, "quotes").get

    val results = scala.collection.mutable.ArrayBuffer[(Long, Long, Timestamp, Double)]()
    val input = MemoryStream[(Long, Timestamp)]
    val query = Streaming.asOfEnrichStream(
      input.toDF().toDF("user_id", "t"), base, "quotes",
      s"$tmpDir/asof_enrich_ckpt",
      onBatch = (df, epoch) => results ++= df
        .select($"user_id", $"t", $"q_value").as[(Long, Timestamp, Double)]
        .collect().map(r => (epoch, r._1, r._2, r._3)),
      pointKeys = Seq("user_id"), dimKeys = Seq("q_user"),
      pointTsCol = "t", dimTsCol = "q_ts",
      // epoch N joins against the day-(N+1) snapshot
      batchTimestamp = bid => ts(s"2024-01-0${bid + 1} 12:00:00"))
    try {
      input.addData((7L, ts("2024-03-01 11:30:00")))
      query.processAllAvailable()
      // the SAME point again: day-2 snapshot now carries the 11:45 quote,
      // which is still > 11:30, so the match must stay the 11:00 quote —
      // and a later point must pick 11:45 only in the day-2 epoch
      input.addData((7L, ts("2024-03-01 11:30:00")), (7L, ts("2024-03-01 12:30:00")))
      query.processAllAvailable()
    } finally query.stop()

    results.sortBy(r => (r._1, r._3.getTime)).toSeq shouldBe Seq(
      (0L, 7L, ts("2024-03-01 11:30:00"), 2.0), // day-1 snapshot: 11:00 quote
      (1L, 7L, ts("2024-03-01 11:30:00"), 2.0), // same point, same match
      (1L, 7L, ts("2024-03-01 12:30:00"), 3.0)) // day-2 snapshot: 11:45 quote

    // snapshot isolation, batch-twin equality: each epoch's rows equal the
    // batch as-of against that epoch's snapshot of the dimension
    for ((epoch, day) <- Seq(0 -> 1, 1 -> 2)) {
      val snap = quotes.snapshot(ts(s"2024-01-0$day 12:00:00")).get
      val pts = results.filter(_._1 == epoch)
        .map(r => (r._2, r._3)).distinct.toSeq.toDF("user_id", "t")
      val batchTwin = graft.plans.AsOf.asOfJoin(pts, snap,
          Seq("user_id"), Seq("q_user"), "t", "q_ts")
        .select($"user_id", $"t", $"q_value").as[(Long, Timestamp, Double)]
        .collect().toSet
      results.filter(_._1 == epoch).map(r => (r._2, r._3, r._4)).toSet shouldBe batchTwin
    }
  }

  it("ann-index stream ingests micro-batches; snapshots equal batch appends") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.AnnIndex
    import spark.implicits._
    def vecs(ids: Range) = ids.map { i =>
      (i.toLong, (0 until 8).map(d => math.sin(i * 31 + d * 7)))
    }
    val base = s"$tmpDir/ann_stream"
    AnnIndex.buildIvfPq(spark, base, vecs(0 until 60).toDF("vec_id", "embedding"),
      "vec_id", "embedding", nLists = 2, lloydIters = 1,
      ts = ts("2024-01-01 00:00:00"))
    val input = MemoryStream[(Long, Seq[Double])]
    val query = Streaming.annIndexStream(
      input.toDF().toDF("vec_id", "embedding"), base,
      s"$tmpDir/ann_stream_ckpt", "vec_id", "embedding",
      batchTimestamp = bid => ts(s"2024-01-0${bid + 2} 00:00:00"))
    try {
      input.addData(vecs(60 until 80): _*)
      query.processAllAvailable()
      input.addData(vecs(80 until 100): _*)
      query.processAllAvailable()
    } finally query.stop()
    // day-2 snapshot sees batch 0 only; final snapshot sees both
    def ids(asOf: String) = AnnIndex.queryIvfPq(spark, base,
        vecs(0 until 3).toDF("vec_id", "embedding"), "vec_id", "embedding",
        k = 200, nProbe = 2, ts(asOf))
      .select($"neighbor_id").as[Long].collect().toSet
    val day2 = ids("2024-01-02 12:00:00")
    day2.exists(_ >= 60) shouldBe true
    day2.exists(_ >= 80) shouldBe false
    ids("2024-06-01 00:00:00").exists(_ >= 80) shouldBe true
    // streamed ingest == the same appends done in batch
    val batchBase = s"$tmpDir/ann_stream_twin"
    AnnIndex.buildIvfPq(spark, batchBase, vecs(0 until 60).toDF("vec_id", "embedding"),
      "vec_id", "embedding", nLists = 2, lloydIters = 1,
      ts = ts("2024-01-01 00:00:00"))
    AnnIndex.appendVectorsPq(spark, batchBase,
      vecs(60 until 80).toDF("vec_id", "embedding"), "vec_id", "embedding",
      ts("2024-01-02 00:00:00"))
    AnnIndex.appendVectorsPq(spark, batchBase,
      vecs(80 until 100).toDF("vec_id", "embedding"), "vec_id", "embedding",
      ts("2024-01-03 00:00:00"))
    val twin = AnnIndex.queryIvfPq(spark, batchBase,
        vecs(0 until 3).toDF("vec_id", "embedding"), "vec_id", "embedding",
        k = 200, nProbe = 2, ts("2024-06-01 00:00:00"))
      .as[(Long, Long, Double, Long)].collect().sortBy(r => (r._1, r._4))
    val streamed = AnnIndex.queryIvfPq(spark, base,
        vecs(0 until 3).toDF("vec_id", "embedding"), "vec_id", "embedding",
        k = 200, nProbe = 2, ts("2024-06-01 00:00:00"))
      .as[(Long, Long, Double, Long)].collect().sortBy(r => (r._1, r._4))
    streamed shouldBe twin
  }

  it("dedup-index stream flags each batch against everything indexed before it") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = s"$tmpDir/stream_dedup_index"
    val input = MemoryStream[(Long, String)]
    val pairs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val text0 = "the quick brown fox jumps over the lazy dog again and again tonight"
    val query = Streaming.dedupIndexStream(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text",
      base, s"$tmpDir/stream_dedup_ckpt",
      onPairs = (df, epoch) => pairs ++= df
        .select($"id_new", $"id_idx").as[(Long, Long)].collect()
        .map(p => (epoch, p._1, p._2)),
      threshold = 0.5,
      batchTimestamp = bid => ts(s"2024-01-0${bid + 1} 00:00:00"))
    try {
      input.addData((1L, text0), (2L, "a completely different document about spark physical plans"))
      query.processAllAvailable()
      input.addData((3L, text0 + " tonight"), (4L, "novel content with no earlier twin anywhere"))
      query.processAllAvailable()
    } finally query.stop()
    // epoch 0 saw an empty index: no pairs; epoch 1 flags 3 ≈ 1 only
    pairs.toSeq shouldBe Seq((1L, 3L, 1L))
    // all four docs are signed in the persisted index afterwards
    val table = graft.storage.Storage
      .openTable(spark, base, graft.operators.DedupIndex.DefaultTableName).get
    table.snapshot(ts("2024-06-01 00:00:00")).get
      .select("doc_id").as[Long].collect().sorted shouldBe Array(1L, 2L, 3L, 4L)
  }

  it("sessionize keeps late events out of the live session beyond the gap") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Streaming.SessionInput]
    val query = Streaming.sessionize(input.toDS(), gapMs = 2L * 60 * 1000,
      watermark = "30 minutes")
      .writeStream.format("memory").queryName("late_sessions")
      .outputMode(OutputMode.Append()).start()
    try {
      // live session starts at 12:00
      input.addData(
        Streaming.SessionInput(5L, ts("2024-01-01 12:00:00"), 1.0),
        Streaming.SessionInput(5L, ts("2024-01-01 12:01:00"), 1.0))
      query.processAllAvailable()
      // a late event 4 min BEFORE the live session start (> gap, inside the
      // watermark): must become its own retro session, not inflate the live one
      input.addData(Streaming.SessionInput(5L, ts("2024-01-01 11:56:00"), 9.0))
      query.processAllAvailable()
      // advance watermark to close the live session
      input.addData(Streaming.SessionInput(42L, ts("2024-01-01 14:00:00"), 0.0))
      query.processAllAvailable()

      val sessions = spark.table("late_sessions")
        .as[Streaming.SessionSummary].collect().filter(_.user_id == 5L)
        .sortBy(_.session_start.getTime)
      sessions.map(_.n_events).toSeq shouldBe Seq(1, 2) // retro single + live pair
      sessions.head.session_start shouldBe ts("2024-01-01 11:56:00")
      sessions(1).session_start shouldBe ts("2024-01-01 12:00:00")
    } finally query.stop()
  }

  it("stream-stream join pairs events on key within the time bound only") {
    implicit val sqlCtx = spark.sqlContext
    val signups = MemoryStream[(Long, Timestamp)]
    val purchases = MemoryStream[(Long, Timestamp, Double)]
    val l = signups.toDF().toDF("user_id", "signup_ts")
    val r = purchases.toDF().toDF("user_id", "purchase_ts", "amount")
    val query = Streaming.streamStreamJoin(l, r, Seq("user_id"),
      "signup_ts", "purchase_ts", watermark = "10 minutes", within = "1 hour")
      .select(l("user_id"), col("signup_ts"), col("purchase_ts"), col("amount"))
      .writeStream.format("memory").queryName("attributed")
      .outputMode(OutputMode.Append()).start()
    try {
      signups.addData((1L, ts("2024-01-01 10:00:00")), (2L, ts("2024-01-01 10:00:00")))
      purchases.addData(
        (1L, ts("2024-01-01 10:30:00"), 9.0),  // in window -> match
        (1L, ts("2024-01-01 12:00:00"), 7.0),  // after window -> no match
        (2L, ts("2024-01-01 09:30:00"), 5.0),  // before signup -> no match
        (3L, ts("2024-01-01 10:10:00"), 4.0))  // no signup -> no match
      query.processAllAvailable()
      val rows = spark.table("attributed")
        .as[(Long, Timestamp, Timestamp, Double)].collect().toSeq
      rows shouldBe Seq((1L, ts("2024-01-01 10:00:00"), ts("2024-01-01 10:30:00"), 9.0))
    } finally query.stop()
  }

  it("stream-stream left-outer emits unmatched rows once the watermark closes them") {
    implicit val sqlCtx = spark.sqlContext
    val signups = MemoryStream[(Long, Timestamp)]
    val purchases = MemoryStream[(Long, Timestamp, Double)]
    val l = signups.toDF().toDF("user_id", "signup_ts")
    val r = purchases.toDF().toDF("user_id", "purchase_ts", "amount")
    val query = Streaming.streamStreamJoin(l, r, Seq("user_id"),
      "signup_ts", "purchase_ts", watermark = "5 minutes", within = "10 minutes",
      joinType = "leftOuter")
      .select(l("user_id"), col("purchase_ts"))
      .writeStream.format("memory").queryName("attributed_outer")
      .outputMode(OutputMode.Append()).start()
    try {
      signups.addData((1L, ts("2024-01-01 10:00:00")))
      purchases.addData((1L, ts("2024-01-01 10:05:00"), 9.0))
      query.processAllAvailable()
      // push both watermarks far past signup+within so the unmatched check fires
      signups.addData((99L, ts("2024-01-01 12:00:00")))
      purchases.addData((99L, ts("2024-01-01 13:00:00"), 0.0))
      query.processAllAvailable()
      signups.addData((98L, ts("2024-01-01 14:00:00")))
      purchases.addData((98L, ts("2024-01-01 15:00:00"), 0.0))
      query.processAllAvailable()
      val byUser = spark.table("attributed_outer")
        .as[(Long, Option[Timestamp])].collect().groupBy(_._1)
      byUser(1L).map(_._2) shouldBe Array(Some(ts("2024-01-01 10:05:00")))
      // user 99's purchase at 13:00 is outside signup+10min -> outer null row
      byUser(99L).map(_._2) shouldBe Array(None)
    } finally query.stop()
  }

  it("streaming anomaly flags match the batch rollingZScore on the same points") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Streaming.PointInput]
    // steady baseline then a spike, split across two micro-batches; tie-free
    val base = (0 until 10).map(i =>
      Streaming.PointInput(1L, ts(f"2024-01-01 10:${i}%02d:00"), 50.0 + i % 3))
    val spike = Streaming.PointInput(1L, ts("2024-01-01 10:10:30"), 500.0)
    val other = Streaming.PointInput(2L, ts("2024-01-01 10:11:00"), 1.0)

    val query = Streaming.anomalyStream(input.toDS(), windowSec = 3600,
      minPrior = 5, zThreshold = 3.0)
      .writeStream.format("memory").queryName("anomalies")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(base.take(6))
      query.processAllAvailable()
      input.addData(base.drop(6) :+ spike :+ other)
      query.processAllAvailable()
      val streamed = spark.table("anomalies")
        .select("key", "ts", "n_prior", "z", "is_anomaly")
        .as[(Long, Timestamp, Long, Option[Double], Boolean)]
        .collect().sortBy(r => (r._1, r._2.getTime))

      streamed.filter(_._5).map(_._2) shouldBe Array(ts("2024-01-01 10:10:30"))

      // batch twin over the identical points: every (n_prior, z, flag) equal
      import graft.operators.Temporal
      val batchDf = (base :+ spike :+ other)
        .toDF("key", "ts", "value")
      val batch = Temporal.rollingZScore(batchDf, Seq("key"), "ts", "value",
        windowSec = 3600, minPrior = 5, zThreshold = 3.0)
        .select(col("key"), col("ts"), col("n_prior"), col("z"), col("is_anomaly"))
        .as[(Long, Timestamp, Long, Option[Double], Boolean)]
        .collect().sortBy(r => (r._1, r._2.getTime))
      streamed shouldBe batch
    } finally query.stop()
  }

  it("drift monitor emits one summary row per micro-batch vs the reference") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val reference = (1 to 80).map(_ => "en").union((1 to 20).map(_ => "de"))
      .toDF("lang")
    val out = s"$tmpDir/drift_out"
    val query = Streaming.driftMonitorStream(input.toDF().toDF("lang"),
      reference, col("lang"), out, s"$tmpDir/drift_cp")
    try {
      input.addData((1 to 40).map(_ => "en") ++ (1 to 10).map(_ => "de"): _*)
      query.processAllAvailable()
      input.addData((1 to 50).map(_ => "zh"): _*) // full vocabulary shift
      query.processAllAvailable()
      val rows = spark.read.parquet(out)
        .select("batch_id", "js").as[(Long, Double)].collect().sortBy(_._1)
      rows.length shouldBe 2
      // batch 0 matches the reference mix (~zero); batch 1 is disjoint
      rows(0)._2 should be < 0.01
      rows(1)._2 should be > 0.3
    } finally query.stop()
  }

  it("streaming anomaly state prunes to the window and evicts idle keys") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Streaming.PointInput]
    val query = Streaming.anomalyStream(input.toDS(), windowSec = 600,
      minPrior = 2, zThreshold = 3.0, watermark = "10 minutes")
      .writeStream.format("memory").queryName("anomalies_prune")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        Streaming.PointInput(1L, ts("2024-01-01 10:00:00"), 10.0),
        Streaming.PointInput(1L, ts("2024-01-01 10:01:00"), 11.0))
      query.processAllAvailable()
      // an hour later: the 10:0x points fell out of the 10-minute window,
      // so this row sees ZERO prior points
      input.addData(Streaming.PointInput(1L, ts("2024-01-01 11:00:00"), 999.0))
      query.processAllAvailable()
      val late = spark.table("anomalies_prune")
        .where(col("ts") === ts("2024-01-01 11:00:00"))
        .select("n_prior", "is_anomaly").as[(Long, Boolean)].collect()
      late shouldBe Array((0L, false))
    } finally query.stop()
  }

  it("streaming trend monitor state matches the batch OLS twin per window") {
    implicit val sqlCtx = spark.sqlContext
    // key "up": y rises 2.0/minute inside the 10:00 window; key "flat": constant
    val pts = (0 until 10).map(i =>
      (ts(f"2024-01-01 10:${i * 5}%02d:00"), "up", 2.0 * (i * 5 * 60) / 60.0 + 1.0)) ++
      (0 until 5).map(i => (ts(f"2024-01-01 10:${i * 7}%02d:00"), "flat", 4.0))
    val input = MemoryStream[(Timestamp, String, Double)]
    val query = Streaming.trendMonitorStream(
        input.toDF().toDF("ts", "key", "value"), "key", "ts", "value",
        watermark = "1 minute", windowDuration = "1 hour")
      .writeStream.format("memory").queryName("trend_out")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(pts.take(7): _*)
      query.processAllAvailable()
      input.addData(pts.drop(7): _*) // state stays six statistics per group
      query.processAllAvailable()
      val rows = spark.table("trend_out")
        .select($"key", $"n", $"slope", $"r2")
        .as[(String, Long, Option[Double], Option[Double])].collect()
        .groupBy(_._1).map { case (k, v) => k -> v.maxBy(_._2) } // last update per key
      // 2.0 per minute = 1/30 per second
      rows("up")._3.get shouldBe (2.0 / 60.0) +- 1e-6
      rows("up")._4.get shouldBe 1.0 +- 1e-6
      rows("flat")._3.get shouldBe 0.0 +- 1e-9
      rows("flat")._4 shouldBe None
      // and the streamed result equals the batch twin on the same window
      val batchDf = pts.toDF("ts", "key", "value")
        .withColumn("x", (org.apache.spark.sql.functions.unix_micros($"ts") -
          org.apache.spark.sql.functions.lit(
            ts("2024-01-01 10:00:00").getTime * 1000L)).cast("double") / 1000000.0)
      val batch = graft.operators.Trend.groupTrend(
          batchDf, Seq($"key"), $"x", $"value")
        .select($"key", $"slope").as[(String, Option[Double])].collect().toMap
      batch("up") shouldBe rows("up")._3
      batch("flat") shouldBe rows("flat")._3
    } finally query.stop()
  }

  it("streaming sequence packing assigns the batch twin's offsets incrementally") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Streaming.PackInput]
    val query = Streaming.packStream(input.toDS(), windowTokens = 10L)
      .writeStream.format("memory").queryName("packed_out")
      .outputMode(OutputMode.Append()).start()
    val all = Seq(
      Streaming.PackInput("en", 1L, 4L), Streaming.PackInput("en", 2L, 7L),
      Streaming.PackInput("de", 3L, 9L),
      Streaming.PackInput("en", 4L, 6L), Streaming.PackInput("de", 5L, 2L),
      Streaming.PackInput("en", 6L, 0L), Streaming.PackInput("en", 7L, 12L))
    try {
      // three micro-batches arriving in order_key order — the backfill
      // replay shape under which stream offsets must equal the batch twin's
      input.addData(all.take(3): _*); query.processAllAvailable()
      input.addData(all.slice(3, 5): _*); query.processAllAvailable()
      input.addData(all.drop(5): _*); query.processAllAvailable()
      val streamed = spark.table("packed_out").as[Streaming.PackedDoc]
        .collect().sortBy(_.order_key)
      val batch = graft.operators.Packing.packSequences(
          all.map(p => (p.shard, p.order_key, p.n_tokens))
            .toDF("shard", "order_key", "toks"),
          Seq(col("shard")), col("order_key"), col("toks"), windowTokens = 10L)
        .select("shard", "order_key", "n_tokens", "start_offset",
          "chunk_id", "spans_boundary")
        .as[Streaming.PackedDoc].collect().sortBy(_.order_key)
      streamed shouldBe batch
      // a doc crossing the 10-token window boundary carries the flag
      streamed.find(_.order_key == 2L).get.spans_boundary shouldBe true
      // zero-length docs keep well-defined offsets
      streamed.find(_.order_key == 6L).get.start_offset shouldBe 17L
    } finally query.stop()
  }

  it("packStream equals the batch twin under ANY in-order micro-batch split") {
    // property-style: random corpora (zero-length docs included) cut at
    // random points into 1..4 ordered micro-batches — the offsets must not
    // depend on where the batch boundaries fall
    implicit val sqlCtx = spark.sqlContext
    import scala.util.Random
    (1 to 5).foreach { seed =>
      val rnd = new Random(seed)
      val all = (1 to 12 + rnd.nextInt(12)).map(i =>
        Streaming.PackInput(s"s${rnd.nextInt(3)}", i.toLong, rnd.nextInt(9).toLong))
      val cuts = (Seq(0, all.size) ++ Seq.fill(rnd.nextInt(3))(rnd.nextInt(all.size)))
        .distinct.sorted
      val input = MemoryStream[Streaming.PackInput]
      val query = Streaming.packStream(input.toDS(), windowTokens = 7L)
        .writeStream.format("memory").queryName(s"packed_prop_$seed")
        .outputMode(OutputMode.Append()).start()
      try {
        cuts.sliding(2).foreach { case Seq(a, b) =>
          if (b > a) { input.addData(all.slice(a, b): _*); query.processAllAvailable() }
        }
        val streamed = spark.table(s"packed_prop_$seed")
          .as[Streaming.PackedDoc].collect().sortBy(_.order_key)
        val batch = graft.operators.Packing.packSequences(
            all.map(p => (p.shard, p.order_key, p.n_tokens))
              .toDF("shard", "order_key", "toks"),
            Seq(col("shard")), col("order_key"), col("toks"), windowTokens = 7L)
          .select("shard", "order_key", "n_tokens", "start_offset",
            "chunk_id", "spans_boundary")
          .as[Streaming.PackedDoc].collect().sortBy(_.order_key)
        withClue(s"seed=$seed cuts=$cuts: ") { streamed shouldBe batch }
      } finally query.stop()
    }
  }

  it("LOCF resampler matches the batch twin up to the key max and gap-fills beyond it") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Streaming.PointInput]
    val query = Streaming.locfResampleStream(input.toDS(),
        intervalSec = 3600, watermark = "0 seconds")
      .writeStream.format("memory").queryName("locf_out")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        Streaming.PointInput(1L, ts("2024-01-01 10:30:00"), 10.0),
        Streaming.PointInput(1L, ts("2024-01-01 12:15:00"), 20.0))
      query.processAllAvailable() // wm still at epoch during this batch
      input.addData(Streaming.PointInput(1L, ts("2024-01-01 15:05:00"), 30.0))
      query.processAllAvailable() // wm=12:15 -> ticks 11:00, 12:00
      // watermark advances via OTHER keys; key 1 ticks on its timeout
      input.addData(Streaming.PointInput(2L, ts("2024-01-01 18:20:00"), 1.0))
      query.processAllAvailable() // wm=15:05 -> key-1 ticks 13:00..15:00
      input.addData(Streaming.PointInput(3L, ts("2024-01-01 20:00:00"), 2.0))
      query.processAllAvailable() // wm=18:20 -> key-1 gap-fills 16:00..18:00

      val streamed = spark.table("locf_out")
        .where(col("key") === 1L)
        .select("tick", "obs_ts", "value")
        .as[(Timestamp, Timestamp, Double)].collect().sortBy(_._1.getTime)

      // batch twin over key 1's observations: ticks 11:00..15:00
      import graft.operators.Temporal
      val batch = Temporal.resampleLocf(
          Seq((1L, ts("2024-01-01 10:30:00"), 10.0),
            (1L, ts("2024-01-01 12:15:00"), 20.0),
            (1L, ts("2024-01-01 15:05:00"), 30.0)).toDF("key", "ts", "v"),
          Seq("key"), "ts", "v", intervalSec = 3600)
        .select("tick", "obs_ts", "v")
        .as[(Timestamp, Timestamp, Double)].collect().sortBy(_._1.getTime)
      streamed.take(batch.length) shouldBe batch

      // beyond the key's max observation the stream keeps carrying forward:
      // the final watermark lands at 20:00 (the last event time — timeout
      // processing runs one more empty batch), so ticks run through 19:00
      val extra = streamed.drop(batch.length)
      extra.map(_._1) shouldBe Array(
        ts("2024-01-01 16:00:00"), ts("2024-01-01 17:00:00"),
        ts("2024-01-01 18:00:00"), ts("2024-01-01 19:00:00"))
      extra.foreach { case (_, obsTs, v) =>
        obsTs shouldBe ts("2024-01-01 15:05:00"); v shouldBe 30.0
      }
    } finally query.stop()
  }

  it("LOCF resampler ends a series at idleStopSec: due ticks emit, then the key stops") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Streaming.PointInput]
    val query = Streaming.locfResampleStream(input.toDS(),
        intervalSec = 3600, watermark = "0 seconds",
        idleStopSec = Some(2 * 3600))
      .writeStream.format("memory").queryName("locf_idle")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(Streaming.PointInput(1L, ts("2024-01-01 10:00:00"), 5.0))
      query.processAllAvailable()
      // push the watermark far past the idle horizon with another key
      input.addData(Streaming.PointInput(2L, ts("2024-01-02 10:00:00"), 1.0))
      query.processAllAvailable()
      input.addData(Streaming.PointInput(2L, ts("2024-01-02 12:00:00"), 1.0))
      query.processAllAvailable()
      // series ends at 10:00 + 2h = 12:00 — ticks due through the end
      // still emit (10:00 is itself aligned, inclusive like the batch
      // twin), nothing after
      val key1 = spark.table("locf_idle").where(col("key") === 1L)
        .select(col("tick").cast("string"), col("value"))
        .as[(String, Double)].collect().toSet
      key1 shouldBe Set(
        ("2024-01-01 10:00:00", 5.0), ("2024-01-01 11:00:00", 5.0),
        ("2024-01-01 12:00:00", 5.0))
    } finally query.stop()
  }

  it("streaming BM25 serving answers each batch bit-identically to batch retrieval") {
    import graft.operators.Ranking
    implicit val sqlCtx = spark.sqlContext
    val corpus = spark.read.parquet(s"${sf("sf0.001")}/documents.parquet")
    val index = Ranking.bm25Index(corpus, "doc_id", "text")
      .localCheckpoint(true) // build once; serving never re-tokenizes
    val input = MemoryStream[(Long, String)]
    val out = s"$tmpDir/bm25_serve_out"
    val query = Streaming.bm25ServeStream(
      input.toDF().toDF("query_id", "qtext"), index,
      "query_id", "qtext", k = 3, out, s"$tmpDir/bm25_serve_cp")
    try {
      input.addData((1L, "spark window join"), (2L, "data quality"))
      query.processAllAvailable()
      input.addData((3L, "the and of"))
      query.processAllAvailable()
      val served = spark.read.parquet(out)
        .select("query_id", "rank", "doc_id", "score")
        .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
      val batch = Ranking.bm25TopK(corpus, "doc_id", "text",
          Seq((1L, "spark window join"), (2L, "data quality"), (3L, "the and of"))
            .toDF("query_id", "qtext"),
          "query_id", "qtext", k = 3)
        .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
      served shouldBe batch
      served.map(_._1).distinct.sorted shouldBe Seq(1L, 2L, 3L)
    } finally query.stop()
  }

  // ---- restart recovery: stop mid-stream, restart from the checkpoint ----
  // The at-least-once / state-recovery claims were design-argued until round
  // 11; these cases EXECUTE them — kill a stateful query, restart it from
  // its checkpoint, and assert the batch-twin equality still holds across
  // the incarnation boundary. Memory sinks cannot recover from checkpoints,
  // so the recovering queries write through fault-tolerant sinks (files /
  // foreachBatch), exactly as production would.

  it("sessionize state survives a restart: the pre-restart session closes afterwards") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Streaming.SessionInput]
    val out = s"$tmpDir/sess_restart_out"
    val cp = s"$tmpDir/sess_restart_cp"
    def start() = Streaming.sessionize(input.toDS(), gapMs = 30L * 60 * 1000,
        watermark = "1 second")
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", cp)
      .outputMode(OutputMode.Append()).start()
    // incarnation 1: an open session accumulates in state, nothing emits
    val q1 = start()
    try {
      input.addData(
        Streaming.SessionInput(7L, ts("2024-01-01 10:00:00"), 1.0),
        Streaming.SessionInput(7L, ts("2024-01-01 10:10:00"), 2.0))
      q1.processAllAvailable()
    } finally q1.stop()
    // incarnation 2: a far-later event must close the RECOVERED session —
    // if state died with the first process, the 10:00-10:10 session would
    // never emit anywhere
    val q2 = start()
    try {
      input.addData(Streaming.SessionInput(7L, ts("2024-01-01 12:00:00"), 4.0))
      q2.processAllAvailable()
      input.addData(Streaming.SessionInput(99L, ts("2024-01-01 13:00:00"), 0.0))
      q2.processAllAvailable()
    } finally q2.stop()
    val sessions = spark.read.parquet(out)
      .as[Streaming.SessionSummary].collect().filter(_.user_id == 7L)
      .sortBy(_.session_start.getTime)
    sessions.length shouldBe 2
    sessions(0).n_events shouldBe 2
    sessions(0).total_value shouldBe 3.0
    sessions(0).session_end shouldBe ts("2024-01-01 10:10:00")
    sessions(1).n_events shouldBe 1
    sessions(1).session_start shouldBe ts("2024-01-01 12:00:00")
  }

  it("anomalyStream restarts score against pre-restart priors, matching the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Streaming.PointInput]
    val out = s"$tmpDir/anom_restart_out"
    val cp = s"$tmpDir/anom_restart_cp"
    val baseline = (0 until 8).map(i =>
      Streaming.PointInput(1L, ts(f"2024-01-01 10:${i}%02d:00"), 50.0 + i % 3))
    val spike = Streaming.PointInput(1L, ts("2024-01-01 10:08:30"), 500.0)
    def start() = Streaming.anomalyStream(input.toDS(), windowSec = 3600,
        minPrior = 5, zThreshold = 3.0)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", cp)
      .outputMode(OutputMode.Append()).start()
    val q1 = start()
    try {
      input.addData(baseline: _*)
      q1.processAllAvailable()
    } finally q1.stop()
    // the spike arrives in a NEW process: its z-score needs the 8 baseline
    // points that only exist in recovered state
    val q2 = start()
    try {
      input.addData(spike)
      q2.processAllAvailable()
    } finally q2.stop()
    val streamed = spark.read.parquet(out)
      .select("key", "ts", "n_prior", "z", "is_anomaly")
      .as[(Long, Timestamp, Long, Option[Double], Boolean)]
      .collect().sortBy(r => (r._1, r._2.getTime)).toSeq
    val spikeRow = streamed.find(_._2 == ts("2024-01-01 10:08:30")).get
    spikeRow._3 shouldBe 8L // all pre-restart priors visible
    spikeRow._5 shouldBe true
    // batch twin over the identical points: every (n_prior, z, flag) equal
    import graft.operators.Temporal
    val batch = Temporal.rollingZScore(
        (baseline :+ spike).toDF("key", "ts", "value"),
        Seq("key"), "ts", "value", windowSec = 3600, minPrior = 5, zThreshold = 3.0)
      .select(col("key"), col("ts"), col("n_prior"), col("z"), col("is_anomaly"))
      .as[(Long, Timestamp, Long, Option[Double], Boolean)]
      .collect().sortBy(r => (r._1, r._2.getTime)).toSeq
    streamed shouldBe batch
  }

  it("storage ingest restarts from the checkpoint without re-appending committed epochs") {
    implicit val sqlCtx = spark.sqlContext
    import graft.storage._
    val base = s"$tmpDir/stream_storage_restart"
    val cp = s"$tmpDir/stream_storage_restart_ckpt"
    val input = MemoryStream[(Long, String)]
    def start() = Streaming.writeToStorageStream(
      input.toDF().toDF("user_id", "state"), base,
      AuditTableInfo("user_state_r", Seq("user_id"), Map.empty, retainHistory = true),
      checkpoint = cp,
      batchTimestamp = bid => ts(s"2024-01-0${bid + 1} 00:00:00"))
    val q1 = start()
    try {
      input.addData((1L, "a"), (2L, "b"))
      q1.processAllAvailable()
    } finally q1.stop()
    // data arriving while the process is DOWN is delivered after restart
    input.addData((1L, "c"))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val table = Storage.openTable(spark, base, "user_state_r").get
    // committed epoch 0 did NOT replay as a third region
    table.regions.length shouldBe 2
    table.snapshot(ts("2024-06-01 00:00:00")).get
      .select("user_id", "state").as[(Long, String)]
      .collect().sortBy(_._1) shouldBe Array((1L, "c"), (2L, "b"))
  }

  it("bm25 serving epoch replay overwrites its own output instead of duplicating it") {
    import graft.operators.Ranking
    implicit val sqlCtx = spark.sqlContext
    val corpus = spark.read.parquet(s"${sf("sf0.001")}/documents.parquet")
    val index = Ranking.bm25Index(corpus, "doc_id", "text").localCheckpoint(true)
    val out = s"$tmpDir/bm25_replay_out"
    val batch1 = Seq((1L, "spark window join"), (2L, "data quality"))
    // run the SAME epoch twice — a fresh checkpoint replays offset 0, the
    // exact shape of a foreachBatch retry after a crash between the sink
    // write and the commit. The per-epoch overwrite makes the second run
    // rewrite batch_id=0 rather than append duplicate result rows.
    for (attempt <- 1 to 2) {
      val input = MemoryStream[(Long, String)]
      val query = Streaming.bm25ServeStream(
        input.toDF().toDF("query_id", "qtext"), index,
        "query_id", "qtext", k = 3, out, s"$tmpDir/bm25_replay_cp_$attempt")
      try {
        input.addData(batch1: _*)
        query.processAllAvailable()
      } finally query.stop()
    }
    val served = spark.read.parquet(out)
      .select("query_id", "rank", "doc_id", "score")
      .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    val batch = Ranking.bm25TopK(corpus, "doc_id", "text",
        batch1.toDF("query_id", "qtext"), "query_id", "qtext", k = 3)
      .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    served shouldBe batch // no duplicates, bit-identical to one clean run
  }

  it("streaming upsampling mixture equals the batch twin under a frozen recipe") {
    import graft.operators.Sampling
    implicit val sqlCtx = spark.sqlContext
    val profile = spark.read.parquet(s"${sf("sf0.01")}/documents.parquet")
      .select($"doc_id", $"lang")
    val weights = Map("en" -> 0.25, "de" -> 0.25, "fr" -> 0.25, "zh" -> 0.25)
    val rates = Sampling.mixtureRates(profile, "lang", weights, maxEpochs = 4)
      .localCheckpoint(true) // the frozen recipe
    val input = MemoryStream[(Long, String)]
    val query = Sampling.applyMixtureRates(
        input.toDF().toDF("doc_id", "lang"), rates, "lang", col("doc_id"))
      .writeStream.format("memory").queryName("mix_upsample")
      .outputMode(OutputMode.Append()).start()
    try {
      val rows = profile.as[(Long, String)].collect().toSeq
      val (b1, b2) = rows.splitAt(rows.size / 2)
      input.addData(b1: _*); query.processAllAvailable()
      input.addData(b2: _*); query.processAllAvailable()
      val streamed = spark.table("mix_upsample")
        .select($"doc_id", $"lang", $"epoch")
        .as[(Long, String, Long)].collect().sortBy(r => (r._1, r._3)).toSeq
      val batch = Sampling.applyMixtureRates(profile, rates, "lang", $"doc_id")
        .select($"doc_id", $"lang", $"epoch")
        .as[(Long, String, Long)].collect().sortBy(r => (r._1, r._3)).toSeq
      streamed shouldBe batch
      streamed should not be empty
    } finally query.stop()
  }

  it("LOCF resampler first-tick alignment is floor-correct for pre-1970 observations") {
    // batch twin regression for the truncating-div bug: a 1969 span still
    // gets its aligned daily ticks (Spark div truncates toward zero, which
    // resolved the first tick to epoch 0 and emptied the series)
    import graft.operators.Temporal
    val obs = Seq((1L, ts("1969-06-01 05:00:00"), 1.0),
      (1L, ts("1969-06-03 07:00:00"), 2.0)).toDF("key", "ts", "v")
    val out = Temporal.resampleLocf(obs, Seq("key"), "ts", "v", 86400)
      .select(col("tick").cast("string"), col("v"))
      .as[(String, Double)].collect().toSet
    out shouldBe Set(
      ("1969-06-02 00:00:00", 1.0), ("1969-06-03 00:00:00", 1.0))
  }
}
