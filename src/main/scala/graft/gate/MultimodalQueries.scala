package graft.gate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Harness

/** Gate queries over media payloads: [[graft.operators.Multimodal]]
  * decoders (and [[graft.ingestion.Warc]] for q154) on frames synthesized
  * once per JVM. */
object MultimodalQueries {
  lazy val queries: Seq[GateQuery] = Seq(
    // full media pipeline: wrap → decode (stub) → frame-sample → featurize;
    // md5-based stubs make every derived value DuckDB-recomputable, and the
    // feature vector folds to a scalar checksum (array-free output hashes
    // cleanly in the gate)
    GateQuery("q26_media_pipeline", (s, dir) => {
      import graft.operators.Multimodal
      val media = Multimodal.withContent(t(s, dir, "documents"), "text", "text/plain")
      media.select(
        col("doc_id"),
        col("meta.n_bytes").as("n_bytes"),
        Multimodal.decodeImageStub(col("content")).as("img"),
        size(Multimodal.frameSampleStub(col("content"), 4)).cast("long").as("n_frames"),
        Multimodal.embedStub(col("content"), 8).as("features"))
        .select(col("doc_id"), col("n_bytes"), col("img.width").as("width"),
          col("img.height").as("height"), col("n_frames"),
          size(col("features")).cast("long").as("feat_dim"),
          round(aggregate(col("features"), lit(0.0), (acc, v) => acc + v.cast("double")), 6)
            .as("feat_checksum"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id,
        | octet_length(encode(text)) AS n_bytes,
        | (('0x' || substr(md5(text), 1, 15))::BIGINT % 960 + 64) AS width,
        | ((('0x' || substr(md5(text), 1, 15))::BIGINT >> 16) % 960 + 64) AS height,
        | 4::BIGINT AS n_frames,
        | 8::BIGINT AS feat_dim,
        | round(list_sum(list_transform(range(0, 8),
        |   i -> ((('0x' || substr(md5(i::VARCHAR || text), 1, 15))::BIGINT % 2048 - 1024)
        |         / 1024.0))), 6) AS feat_checksum
        |FROM documents ORDER BY doc_id""".stripMargin),

    // REAL image decode end-to-end (no stubs anywhere on this path): per
    // doc a 60x60 BMP of 10x6 constant-gray cells (cell values md5-derived
    // so DuckDB can replay them) is ENCODED through the real ImageIO BMP
    // writer, then DECODED back through the real reader — dims/channels
    // from the decoded pixels, pHash from decoded luminance (blockhash over
    // the 10x6 grid). Constant gray cells make integer luminance exact
    // (=v), so the oracle replays the hash from the cell-value formula
    // alone, while Spark's numbers only match if the full encode->decode->
    // pixel->luminance path is correct (operators.Multimodal.imageKernel /
    // pHashImageKernel / blockImageBytes)
    GateQuery("q150_real_image_phash", (s, dir) => {
      import graft.operators.Multimodal
      // payloads come from the per-JVM parquet materialization (see
      // mediaPayloads) — production media arrives from storage, so the
      // measured region is scan + decode, not the synth UDF
      val media = mediaPayloads("q150")(s, dir)
      // ONE decode pass for dims + hash (imageProfiles) — profiling and
      // hashing separately would decode every image twice
      Multimodal.imageProfiles(media, "doc_id", "content")
        .orderBy(col("doc_id"))
    },
      // the oracle never decodes an image: constant-gray cells reduce the
      // real pixel pHash to the cell-value formula (bit k set iff v_k * 60 >
      // sum over the doc's 60 cells), and the dims are the synthesis
      // constants — Spark's side must round-trip real BMP bytes to match
      """WITH cells AS (
        |  SELECT d.doc_id, k.k,
        |    ('0x' || substr(md5(d.doc_id::VARCHAR || '_cell_' || k.k::VARCHAR),
        |      1, 15))::BIGINT % 256 AS v
        |  FROM documents d,
        |    (SELECT CAST(unnest(generate_series(0, 59)) AS INT) AS k) k
        |), tot AS (
        |  SELECT doc_id, CAST(sum(v) AS BIGINT) AS s FROM cells GROUP BY doc_id
        |)
        |SELECT c.doc_id,
        |  CAST(60 AS BIGINT) AS width, CAST(60 AS BIGINT) AS height,
        |  CAST(3 AS INT) AS channels,
        |  CAST(sum(CASE WHEN c.v * 60 > t.s THEN (1::BIGINT << c.k)
        |    ELSE 0 END) AS BIGINT) AS phash
        |FROM cells c JOIN tot t USING (doc_id)
        |GROUP BY c.doc_id
        |ORDER BY c.doc_id""".stripMargin),

    // REAL audio decode end-to-end (javax.sound.sampled — the audio twin
    // of q150): per doc a 2000-sample 16-bit PCM mono WAV (sample i =
    // ((seed + i*2657) mod 65536) - 32768, seed md5-derived) is ENCODED
    // through the JDK's real RIFF writer, DECODED back through the real
    // reader, and profiled with ALL-INTEGER features (Σs², sign flips,
    // peak) so the oracle replays them hash-exactly from the sample
    // formula — Spark's numbers only match if the container round trip
    // and 16-bit LE decode are correct (operators.Multimodal
    // .audioProfileKernel / pcmWavBytes)
    GateQuery("q151_audio_profile", (s, dir) => {
      import graft.operators.Multimodal
      Multimodal.audioProfiles(mediaPayloads("q151")(s, dir), "doc_id", "content")
        .orderBy(col("doc_id"))
    },
      // the oracle never parses a WAV: the all-integer profile reduces to
      // the deterministic sample formula — Spark must round-trip real RIFF
      // bytes through the JDK encoder+decoder to match
      """WITH seeds AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(doc_id::VARCHAR || '_wav'), 1, 15))::BIGINT
        |      % 65536 AS seed
        |  FROM documents
        |), samples AS (
        |  SELECT doc_id, g.i, ((seed + g.i * 2657) % 65536) - 32768 AS s
        |  FROM seeds,
        |    (SELECT CAST(unnest(generate_series(0, 1999)) AS BIGINT) AS i) g
        |), lagged AS (
        |  SELECT doc_id, i, s,
        |    lag(s) OVER (PARTITION BY doc_id ORDER BY i) AS prev
        |  FROM samples
        |)
        |SELECT doc_id,
        |  CAST(8000 AS INT) AS sample_rate,
        |  CAST(1 AS INT) AS channels,
        |  CAST(2000 AS BIGINT) AS n_samples,
        |  CAST(sum(s * s) AS BIGINT) AS sum_sq,
        |  CAST(sum(CASE WHEN i > 0 AND ((s < 0) <> (prev < 0)) THEN 1
        |    ELSE 0 END) AS BIGINT) AS zero_crossings,
        |  CAST(max(abs(s)) AS INT) AS peak_abs
        |FROM lagged
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin),

    // REAL multi-frame sampling (the video-shaped pipeline, on the one
    // multi-frame format the JDK ships a codec for): per doc an animated
    // GIF of 4-6 constant-gray-cell frames is ENCODED through the real
    // sequence writer, then 3 evenly-spaced frames (k*total/3) DECODE
    // on demand through a real ImageReader and perceptual-hash in pixel
    // space. GIF's 256-color palette makes gray cells lossless, so the
    // oracle replays every sampled frame's hash from the cell formula —
    // Spark only matches if the container, the sampling arithmetic and
    // the per-frame decode are all right (operators.Multimodal
    // .frameSamplePHashKernel / gifBytes)
    GateQuery("q152_gif_frame_sample", (s, dir) => {
      import graft.operators.Multimodal
      Multimodal.frameSampleHashes(mediaPayloads("q152")(s, dir),
          "doc_id", "content", n = 3)
        .orderBy(col("doc_id"), col("frame_idx"))
    },
      // sampled frames replay from the cell formula: total = 4 + doc % 3
      // (always > 3 samples, so the evenly-spaced k*total//3 branch applies
      // uniformly); per sampled frame the q150 blockhash reduction
      """WITH d AS (
        |  SELECT doc_id, CAST(4 + doc_id % 3 AS INT) AS total FROM documents
        |), picks AS (
        |  SELECT doc_id, total, CAST((k.k * total) // 3 AS INT) AS frame_idx
        |  FROM d, (SELECT CAST(unnest(generate_series(0, 2)) AS INT) AS k) k
        |), cells AS (
        |  SELECT p.doc_id, p.total, p.frame_idx, c.k,
        |    ('0x' || substr(md5(p.doc_id::VARCHAR || '_f' ||
        |      p.frame_idx::VARCHAR || '_c' || c.k::VARCHAR), 1, 15))::BIGINT
        |      % 256 AS v
        |  FROM picks p,
        |    (SELECT CAST(unnest(generate_series(0, 59)) AS INT) AS k) c
        |), tot AS (
        |  SELECT doc_id, frame_idx, CAST(sum(v) AS BIGINT) AS s
        |  FROM cells GROUP BY doc_id, frame_idx
        |)
        |SELECT c.doc_id, c.frame_idx, c.total AS n_frames,
        |  CAST(sum(CASE WHEN c.v * 60 > t.s THEN (1::BIGINT << c.k)
        |    ELSE 0 END) AS BIGINT) AS phash
        |FROM cells c JOIN tot t USING (doc_id, frame_idx)
        |GROUP BY c.doc_id, c.frame_idx, c.total
        |ORDER BY c.doc_id, c.frame_idx""".stripMargin),

    // REAL mixed-codec compressed ingestion (the WARC-crawl shape): each
    // doc's text is compressed through a REAL encoder — gzip (JDK) for
    // even ids, zstd (Spark's own zstd-jni) for odd — then the kernel
    // sniffs magic bytes per payload and decompresses through the real
    // codec streams in one pass. Output pins codec detection, exact
    // decompressed byte counts and the md5 of the round-tripped text; the
    // oracle computes all three from the PLAIN text (it never sees a
    // compressed byte), so any codec/charset corruption mismatches
    // (operators.Multimodal.decompressTextKernel / gzipBytes / zstdBytes)
    GateQuery("q153_compressed_ingest", (s, dir) => {
      import graft.operators.Multimodal
      Multimodal.decompressTexts(mediaPayloads("q153")(s, dir), "doc_id", "content")
        .select(col("doc_id"), col("codec"), col("n_bytes"),
          md5(col("text")).as("text_md5"))
        .orderBy(col("doc_id"))
    },
      // the oracle never touches a compressed byte: codec from the id
      // parity, byte count and md5 from the plain text
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'gzip' ELSE 'zstd' END AS codec,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  md5(text) AS text_md5
        |FROM documents
        |ORDER BY doc_id""".stripMargin),

    // REAL WARC (ISO 28500) ingestion: per doc a spec-compliant two-record
    // WARC payload (warcinfo + response carrying the doc text) is BUILT by
    // the real writer, then parsed back byte-exactly — headers at the
    // first CRLFCRLF, body = exactly Content-Length BYTES — through the
    // kernel seam. The oracle derives every field from the plain columns
    // (it never sees a WARC byte), so any offset/length/charset slip in
    // the parser mismatches (ingestion.Warc)
    GateQuery("q154_warc_ingest", (s, dir) => {
      import graft.ingestion.Warc
      Warc.warcRecords(mediaPayloads("q154")(s, dir), "doc_id", "content")
        .toDF("doc_id", "rec_idx", "warc_type", "target_uri",
          "content_length", "body")
        .select(col("doc_id"), col("rec_idx"), col("warc_type"),
          col("target_uri"), col("content_length"),
          md5(col("body")).as("body_md5"))
        .orderBy(col("doc_id"), col("rec_idx"))
    },
      // two rows per doc from the plain columns: the warcinfo preamble and
      // the response record carrying the text
      """SELECT doc_id, rec_idx, warc_type, target_uri, content_length, body_md5
        |FROM (
        |  SELECT doc_id, CAST(0 AS INT) AS rec_idx,
        |    'warcinfo' AS warc_type, '' AS target_uri,
        |    CAST(12 AS BIGINT) AS content_length,
        |    md5('engine=graft') AS body_md5
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id, CAST(1 AS INT) AS rec_idx,
        |    'response' AS warc_type,
        |    'https://example.org/doc/' || doc_id::VARCHAR AS target_uri,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS content_length,
        |    md5(text) AS body_md5
        |  FROM documents
        |)
        |ORDER BY doc_id, rec_idx""".stripMargin),

    // the full crawl-ingestion CHAIN, three real decoders deep: each doc
    // becomes a gzip-compressed WARC payload (real encoders), then
    // gunzip (magic-sniffed, ISO-8859-1 intermediate so bytes round-trip
    // exactly) -> byte-exact WARC parse -> response bodies with their
    // UTF-8 byte counts and hashes. One wrong offset/charset anywhere in
    // the chain mismatches the oracle, which reads only plain columns
    GateQuery("q155_crawl_pipeline", (s, dir) => {
      import graft.operators.Multimodal
      import graft.ingestion.Warc
      import org.apache.spark.sql.Encoders
      val media = mediaPayloads("q155")(s, dir)
      // ISO-8859-1 is byte-bijective: the decompressed WARC OCTETS survive
      // the String hop intact; the WARC parser then slices bodies by
      // Content-Length BYTES and decodes them as UTF-8
      val unzipped = Multimodal.decodePartitioned(media, "doc_id", "content",
          Multimodal.decompressTextKernel("ISO-8859-1"))(
          Encoders.product[Multimodal.DecodedText])
        .toDF("doc_id", "codec", "n_bytes", "wtext")
        .select(col("doc_id"), encode(col("wtext"), "ISO-8859-1").as("content"))
      Warc.warcRecords(unzipped, "doc_id", "content")
        .toDF("doc_id", "rec_idx", "warc_type", "target_uri",
          "content_length", "body")
        .where(col("warc_type") === "response")
        .select(col("doc_id"), col("target_uri"), col("content_length"),
          md5(col("body")).as("body_md5"))
        .orderBy(col("doc_id"))
    },
      // three decoders deep, one plain-columns oracle: if gunzip, the
      // byte-preserving String hop, or the WARC body slice drifted by one
      // byte, content_length or body_md5 would mismatch
      """SELECT doc_id,
        |  'https://example.org/doc/' || doc_id::VARCHAR AS target_uri,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS content_length,
        |  md5(text) AS body_md5
        |FROM documents
        |ORDER BY doc_id""".stripMargin),
  )

  /** Synthesized media payload frames for q150–q155, materialized to
    * parquet ONCE per (kind, sfDir) in this JVM. Production media bytes
    * arrive FROM storage — the synth UDFs exist only because the container
    * ships no real crawl corpus — so the gate should time scan + decode,
    * not payload ENCODING (round-10 verdict: q151's bench number was
    * dominated by the WAV-writer synthesis inside the timed region).
    * Synthesis is deterministic given the input dir, so reuse never changes
    * results; Bench prebuilds via [[prewarmMediaFrames]], Verify's single
    * pass builds on first touch. */
  private val mediaFrameCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def mediaFrame(s: SparkSession, dir: String, kind: String)(
      build: => DataFrame): DataFrame = {
    val path = mediaFrameCache.computeIfAbsent(kind + ":" + dir, _ => {
      val p = scratchDir(s"graft-media-$kind")
      build.write.mode("overwrite").parquet(p + "/frame")
      p
    })
    // Decode partitioning follows payload VOLUME, not core count (guide §6;
    // round-14 scaling block: q150–q155 all ran FASTER at 8 cores than 32 —
    // the blanket repartition(defaultParallelism) over-split this payload
    // count and the extra concurrent decoders only contend on allocation).
    // Partition count = on-disk frame bytes / MediaDecodeTargetBytes, read
    // from a driver-side listing (no extra scan in the timed region) — the
    // same rule that sizes Multimodal.repartitionForDecode yields thousands
    // of right-sized decode tasks on a 100 TB corpus and a handful here.
    // A listing failure throws: a frame must never read as 0 bytes.
    val frame = new org.apache.hadoop.fs.Path(path, "frame")
    val frameBytes = frame.getFileSystem(s.sparkContext.hadoopConfiguration)
      .listStatus(frame).filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
    val parts = math.max(1, math.ceil(frameBytes.toDouble / MediaDecodeTargetBytes).toInt)
    s.read.parquet(frame.toString).repartition(parts)
  }

  /** 4 MiB of parquet-compressed payload per decode task: the sf0.1 sweep in
    * plans/r15/media_partition_sweep.txt found each media query's optimum
    * flat between 2 and 8 MiB, beating both repartition(32) and
    * repartition(8). Production codecs with a higher per-byte decode cost
    * want less, I/O-bound ones more (toward the 128 MiB scan default). */
  private val MediaDecodeTargetBytes = 4L << 20

  /** Bench warmup hook: synthesize + persist the q150–q155 payload frames
    * outside the timed region so those rows measure decode, not encode. */
  def prewarmMediaFrames(s: SparkSession, dir: String): Unit =
    mediaPayloads.values.foreach(f => Harness.runFully(f(s, dir)): Unit)

  /** The six synthesized payload frames (deterministic given sfDir), one
    * per media gate query. Each returns (doc_id, content[, …]) read back
    * from the per-JVM parquet materialization, so the encode side never
    * lands in a timed region, and split into one partition per
    * MediaDecodeTargetBytes of on-disk payload (see `mediaFrame`). */
  private lazy val mediaPayloads: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q150" -> ((s, dir) => mediaFrame(s, dir, "q150") {
      import graft.operators.Multimodal
      val cellVals = transform(sequence(lit(0), lit(59)), k =>
        pmod(conv(substring(md5(concat(col("doc_id").cast("string"),
          lit("_cell_"), k.cast("string"))), 1, 15), 16, 10).cast("long"),
          lit(256L)).cast("int"))
      val synth = udf((vals: Seq[Int]) =>
        Multimodal.blockImageBytes(vals.toArray, cellW = 6, cellH = 10,
          gridX = 10, gridY = 6))
      t(s, dir, "documents").select(col("doc_id"))
        .repartition(s.sparkContext.defaultParallelism)
        .withColumn("content", synth(cellVals))
    }),
    "q151" -> ((s, dir) => mediaFrame(s, dir, "q151") {
      import graft.operators.Multimodal
      val nSamples = 2000
      val seedCol = pmod(conv(substring(md5(concat(col("doc_id").cast("string"),
        lit("_wav"))), 1, 15), 16, 10).cast("long"), lit(65536L))
      val synth = udf((seed: Long) => Multimodal.pcmWavBytes(
        Array.tabulate(nSamples)(i =>
          (((seed + i.toLong * 2657L) % 65536L) - 32768L).toShort),
        sampleRate = 8000))
      t(s, dir, "documents").select(col("doc_id"))
        .repartition(s.sparkContext.defaultParallelism)
        .withColumn("content", synth(seedCol))
    }),
    "q152" -> ((s, dir) => mediaFrame(s, dir, "q152") {
      import graft.operators.Multimodal
      val synth = udf { (docId: Long, nFrames: Int) =>
        val md = java.security.MessageDigest.getInstance("MD5")
        def cell(f: Int, k: Int): Int = {
          val d = md.digest(s"${docId}_f${f}_c$k".getBytes("UTF-8"))
          md.reset()
          // first 15 hex chars = big-endian first 8 bytes >>> 4 — straight
          // byte math, not 16 string formats per digest (the formatting was
          // most of the synth CPU at 360 digests/doc)
          var h = 0L
          var i = 0
          while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
          ((h >>> 4) % 256L).toInt
        }
        Multimodal.gifBytes(
          (0 until nFrames).map(f => Array.tabulate(60)(cell(f, _))),
          cellW = 6, cellH = 10, gridX = 10, gridY = 6)
      }
      t(s, dir, "documents").select(col("doc_id"))
        .repartition(s.sparkContext.defaultParallelism)
        .withColumn("content",
          synth(col("doc_id"), (col("doc_id") % 3 + 4).cast("int")))
    }),
    "q153" -> ((s, dir) => mediaFrame(s, dir, "q153") {
      import graft.operators.Multimodal
      val pack = udf { (docId: Long, text: String) =>
        val raw = text.getBytes("UTF-8")
        if (docId % 2 == 0) Multimodal.gzipBytes(raw)
        else Multimodal.zstdBytes(raw)
      }
      t(s, dir, "documents").select(col("doc_id"), col("text"))
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"), pack(col("doc_id"), col("text")).as("content"))
    }),
    "q154" -> ((s, dir) => mediaFrame(s, dir, "q154") {
      import graft.ingestion.Warc
      val pack = udf { (docId: Long, text: String) =>
        Warc.warcBytes(Seq(
          ("warcinfo", "", "engine=graft"),
          ("response", s"https://example.org/doc/$docId", text)))
      }
      t(s, dir, "documents").select(col("doc_id"), col("text"))
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"), pack(col("doc_id"), col("text")).as("content"))
    }),
    "q155" -> ((s, dir) => mediaFrame(s, dir, "q155") {
      import graft.operators.Multimodal
      import graft.ingestion.Warc
      val pack = udf { (docId: Long, text: String) =>
        Multimodal.gzipBytes(Warc.warcBytes(Seq(
          ("warcinfo", "", "engine=graft"),
          ("response", s"https://example.org/doc/$docId", text))))
      }
      t(s, dir, "documents").select(col("doc_id"), col("text"))
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"), pack(col("doc_id"), col("text")).as("content"))
    }))
}
