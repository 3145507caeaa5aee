package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal (image/audio/video) column plumbing.
  *
  * Media travel as opaque `binary` columns plus a typed metadata struct; the
  * engine's job at 100 TB is correct schema, partition sizing and batch
  * shape — the actual codecs are pluggable. In this build the decode /
  * feature-extract kernels are DETERMINISTIC STUBS (clearly marked): they
  * derive values from content hashes so pipelines are testable end-to-end
  * with exact assertions, and a real codec (JNI/ONNX/ffmpeg) can replace
  * each stub behind the same column contract without touching callers.
  */
object Multimodal {

  /** Wrap a text/bytes column as a media content column with metadata:
    * (content: binary, meta: {n_bytes, sha256, mime}). Real, not stubbed. */
  def withContent(df: DataFrame, sourceCol: String,
      mime: String = "application/octet-stream"): DataFrame = {
    val content = encode(col(sourceCol), "utf-8")
    df.withColumn("content", content)
      .withColumn("meta", struct(
        octet_length(col("content")).cast("long").as("n_bytes"),
        sha2(col("content"), 256).as("sha256"),
        lit(mime).as("mime")))
  }

  /** 60-bit content hash (top 15 hex chars of md5). md5, not xxhash64, so
    * the stub pipeline is verifiable by any SQL engine with an md5 builtin
    * (the correctness oracle recomputes it in DuckDB). */
  private def hash60(content: Column): Column =
    graft.sql.functions.md5Prefix64(content, 15)

  /** STUB image decode: (width, height, channels) pseudo-derived from the
    * content hash — replace with a real codec returning the same struct. The
    * column contract and codegen-compatible shape are the real artefact. */
  def decodeImageStub(content: Column): Column = {
    val h = hash60(content)
    struct(
      (pmod(h, lit(960L)) + lit(64L)).as("width"),
      (pmod(shiftrightunsigned(h, 16), lit(960L)) + lit(64L)).as("height"),
      lit(3).as("channels"))
  }

  /** STUB resize: metadata-only transformation preserving aspect ratio
    * decisions a real resizer would make. */
  def resizeStub(decoded: Column, targetW: Int, targetH: Int): Column =
    struct(
      lit(targetW).as("width"),
      lit(targetH).as("height"),
      decoded.getField("channels").as("channels"))

  /** Frame sampling plumbing: split a binary payload into `n` evenly-spaced
    * slices (what a real demuxer would do per keyframe). Slicing is real
    * binary work; only the interpretation is stubbed. */
  def frameSampleStub(content: Column, n: Int): Column =
    transform(
      sequence(lit(0), lit(n - 1)),
      i => substring(content,
        (i * (octet_length(content) / n) + 1).cast("int"),
        greatest((octet_length(content) / n).cast("int"), lit(1))))

  /** STUB feature extraction: content -> dense float vector, deterministic
    * per byte content. Keeps the embedding-column contract
    * (array<float>, fixed dim) used by [[Similarity]]. Components are exact
    * multiples of 2^-10 in [-1, 1), so float and double math agree
    * bit-for-bit — sums of stub vectors are oracle-comparable. */
  def embedStub(content: Column, dim: Int = 64): Column =
    transform(
      sequence(lit(0), lit(dim - 1)),
      i => ((pmod(hash60(concat(encode(i.cast("string"), "utf-8"), content)), lit(2048L))
        - lit(1024L)).cast("double") / lit(1024.0)).cast("float"))

  /** Batch-shape control for heavy per-row kernels: cap bytes per partition
    * so a decode stage neither starves parallelism nor OOMs executors.
    * Returns the repartitioned frame (range-partitioned by size bucket).
    *
    * Sizing (COVERAGE media throughput table, rounds 10–11, warm
    * local[32]): decode cost is per-PIXEL,
    * not per-payload — ~1 MP JPEGs decode+hash at ~17 payloads/s/core
    * (≈540/s on 32 cores) vs ~480/s/core for tiny 60×60 containers. At the
    * default 128 MiB/partition a crawl of ~150 KB megapixel JPEGs packs
    * ~900 images ≈ 50 s of kernel CPU per task — long enough to amortize
    * codec init, short enough for retry granularity; drop toward 32 MiB if
    * payloads exceed ~1 MB each (4K frames) so stragglers stay bounded. */
  def repartitionForDecode(df: DataFrame, contentCol: String,
      targetBytesPerPartition: Long = 128L << 20): DataFrame = {
    // sum() over an empty/all-null frame is SQL NULL — an empty media batch
    // (routine in incremental ingestion) must pass through, not NPE
    val totalBytes = Option(df.agg(sum(octet_length(col(contentCol)).cast("long")))
      .head().get(0)).map(_.asInstanceOf[Long]).getOrElse(0L)
    val parts = math.max(1, math.ceil(totalBytes.toDouble / targetBytesPerPartition).toInt)
    df.repartition(parts)
  }

  /** A media decode kernel: `init()` runs ONCE PER PARTITION (codec/library
    * handles, JNI contexts, model weights — the state a real ffmpeg/ONNX
    * decoder must not re-create per row) and the returned function decodes
    * each row's payload. This is the executor-side batching contract a
    * Column expression cannot express. */
  type MediaKernel[T] = () => (Long, Array[Byte]) => T

  /** Run a decode kernel over (id, content) with per-partition init —
    * partition the input with [[repartitionForDecode]] first to bound batch
    * bytes. The stub kernels below plug in here; a real codec replaces them
    * behind the same type. Null payloads reach the kernel as null; the stub
    * treats them as empty content (the column-path stubs yield null structs
    * instead — filter null content upstream when the distinction matters). */
  def decodePartitioned[T: org.apache.spark.sql.Encoder](
      df: DataFrame, idCol: String, contentCol: String,
      kernel: MediaKernel[T]): Dataset[T] = {
    import df.sparkSession.implicits._
    df.select(col(idCol).cast("long"), col(contentCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        val decode = kernel() // expensive init amortised over the partition
        rows.map { case (id, bytes) => decode(id, bytes) }
      }
  }

  final case class DecodedImage(id: Long, width: Long, height: Long, channels: Int)

  final case class MediaHash(id: Long, phash: Long)

  /** STUB perceptual hash (blockhash/pHash-style) — the media twin of
    * simhash: similar payloads get NEARBY hashes (few flipped bits), unlike
    * the exact content hash in `meta.sha256`. The stub "decode" interprets
    * the payload's UTF-8 codepoints as the pixel stream; the hash is the
    * classic blockhash shape over it: 60 equal segments, bit i set iff the
    * segment's sum exceeds the overall mean. The comparison is kept in
    * integers (`seg*60 > total`) so any SQL engine replays it bit-exactly.
    * A real implementation swaps the codepoint stream for decoded pixels
    * (DCT low-band for true pHash) behind the same MediaKernel contract.
    * 60 bits, not 64: the positive BIGINT range keeps SQL oracles free of
    * sign/overflow casework, and 60 = 4 x 15-bit quadrant blocks exactly
    * (see [[Dedup.fingerprintPairs]]). */
  def pHashKernelStub: MediaKernel[MediaHash] = () => {
    (id: Long, bytesOrNull: Array[Byte]) => {
      val bytes = if (bytesOrNull == null) Array.emptyByteArray else bytesOrNull
      val s = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
      val m = s.codePointCount(0, s.length)
      val segs = new Array[Long](60)
      var total = 0L
      var p = 0
      var ci = 0
      while (ci < s.length) {
        val cp = s.codePointAt(ci)
        segs(((p.toLong * 60L) / m).toInt) += cp
        total += cp
        p += 1
        ci += Character.charCount(cp)
      }
      var h = 0L
      var i = 0
      while (i < 60) {
        if (segs(i) * 60L > total) h |= (1L << i)
        i += 1
      }
      MediaHash(id, h)
    }
  }

  /** (doc_id, phash) for a media frame via the per-partition kernel path —
    * feed the result to [[Dedup.fingerprintPairs]] for quadrant-blocked
    * near-dup pairs (never all-pairs). */
  def perceptualHashes(df: DataFrame, idCol: String, contentCol: String): DataFrame =
    decodePartitioned(df, idCol, contentCol, pHashKernelStub)(
      org.apache.spark.sql.Encoders.product[MediaHash])
      .toDF("doc_id", "phash")

  /** STUB kernel: same md5-derived dimensions as [[decodeImageStub]], so the
    * batched path and the column path are mutually verifying. */
  def imageKernelStub: MediaKernel[DecodedImage] = () => {
    val md = java.security.MessageDigest.getInstance("MD5") // per-partition handle
    (id: Long, bytesOrNull: Array[Byte]) => {
      val bytes = if (bytesOrNull == null) Array.emptyByteArray else bytesOrNull
      val hex = md.digest(bytes).map("%02x".format(_)).mkString.take(15)
      md.reset()
      val h = java.lang.Long.parseLong(hex, 16)
      DecodedImage(id, h % 960L + 64L, (h >>> 16) % 960L + 64L, 3)
    }
  }

  // ---------------------------------------------------------------------
  // REAL codecs over JDK ImageIO (zero vendor deps: the PNG/BMP/JPEG/GIF
  // readers and writers ship in java.desktop and run headless). These plug
  // into the SAME MediaKernel seam as the stubs — callers switch kernels,
  // never plumbing.
  // ---------------------------------------------------------------------

  /** Pixel ceiling for [[readImage]]: a PNG/GIF decompression bomb is a
    * few KB of payload declaring a multi-gigapixel canvas — the allocation
    * happens at decode, so the guard must read the HEADER dimensions first
    * (ImageReader exposes them without decoding) and refuse oversized
    * images the same way corrupt ones are refused. 100 MP ≈ 400 MB of
    * ARGB — above any sane training image, below an executor OOM. */
  private[operators] val MaxImagePixels: Long = 100L * 1000 * 1000

  /** In-memory ImageInputStream over a payload byte array (round 13).
    * `ImageIO.createImageInputStream` consults the stream-SPI registry per
    * call AND — with the default `ImageIO.getUseCache()` — backs every
    * stream with a DISK temp file it creates and deletes again, pure
    * overhead for payloads that are already byte arrays. The concrete
    * memory-cached stream class is what the factory would pick with the
    * cache off; the decoded pixels are identical either way. */
  private def memoryIis(bytes: Array[Byte]) =
    new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(bytes))

  private def readImage(id: Long, bytesOrNull: Array[Byte]): java.awt.image.BufferedImage = {
    if (bytesOrNull == null || bytesOrNull.isEmpty) null
    else {
      val iis = memoryIis(bytesOrNull)
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) null
        else {
          val reader = readers.next()
          try {
            reader.setInput(iis)
            // header-only dimension probe — no pixel allocation yet
            if (reader.getWidth(0).toLong * reader.getHeight(0) > MaxImagePixels) null
            else reader.read(0)
          } catch {
            // NonFatal, not just IOException: the JDK readers throw
            // unchecked exceptions on fuzzed payloads (AIOOBE in the GIF
            // LZW decode, IllegalArgument/NegativeArraySize in JPEG/BMP
            // header parsing) — a crawl's corrupt rows must quarantine,
            // never 4x-fail the task and kill the job
            case scala.util.control.NonFatal(_) => null
          } finally reader.dispose()
        }
      } finally iis.close()
    }
  }

  /** REAL image decode: ImageIO container sniffing + pixel decode.
    * Undecodable / null payloads yield (0, 0, 0) — corrupt rows are routine
    * in a 100 TB media crawl and must flow to a quality filter, not kill
    * the job. `channels` is the color model's component count (3 = RGB,
    * 4 = RGBA, 1 = gray). */
  def imageKernel: MediaKernel[DecodedImage] = () => {
    (id: Long, bytesOrNull: Array[Byte]) => {
      val img = readImage(id, bytesOrNull)
      if (img == null) DecodedImage(id, 0L, 0L, 0)
      else DecodedImage(id, img.getWidth.toLong, img.getHeight.toLong,
        img.getColorModel.getNumComponents)
    }
  }

  /** REAL perceptual hash: decode to pixels, integer luminance
    * `(299r + 587g + 114b) / 1000` (exact on gray pixels, coefficients sum
    * to 1000), then the same blockhash shape as [[pHashKernelStub]] over a
    * `gridX x gridY` cell grid: bit k set iff cell k's mean luminance
    * strictly exceeds the image mean, compared in integers
    * (`cellSum * nPixels > totalSum * cellPixels`) so results are
    * bit-reproducible across JVMs. Cell k = `cy * gridX + cx` with
    * `cx = x*gridX/w`, `cy = y*gridY/h` (floor) — uneven dims get uneven
    * cells, the count term keeps the comparison fair. Default 10x6 = 60
    * bits, compatible with [[Dedup.fingerprintPairs]]'s 4 x 15-bit
    * quadrant blocking. Undecodable payloads hash to -1 (sentinel outside
    * the 60-bit non-negative range — filter or route to quarantine).
    * Integer-exact up to ~189 MP (255 * N^2 < Long.Max). */
  private def lumBlockhash(img: java.awt.image.BufferedImage,
      gridX: Int, gridY: Int): Long = {
    val w = img.getWidth
    val h = img.getHeight
    val n = w.toLong * h
    // Adaptive pixel access: small images take ONE bulk getRGB (per-call
    // overhead dominates at thumbnail sizes — row strips measurably slowed
    // q152's 60x60 frames); big images read a ROW STRIP at a time into a
    // reused buffer, because a bulk w*h grab near the MaxImagePixels cap
    // transiently DOUBLES per-image memory (decoded raster + a 400MB
    // int[]) — times concurrent tasks, the OOM the bomb guard prevents.
    val bulk = if (n <= 4_000_000L) img.getRGB(0, 0, w, h, null, 0, w) else null
    val row = if (bulk == null) new Array[Int](w) else null
    val g = gridX * gridY
    val sums = new Array[Long](g)
    val counts = new Array[Long](g)
    var total = 0L
    var y = 0
    while (y < h) {
      if (bulk == null) img.getRGB(0, y, w, 1, row, 0, w)
      val cy = y * gridY / h
      val rowBase = cy * gridX
      var x = 0
      while (x < w) {
        val rgb = if (bulk == null) row(x) else bulk(y * w + x)
        val lum = (299 * ((rgb >> 16) & 0xff) + 587 * ((rgb >> 8) & 0xff) +
          114 * (rgb & 0xff)) / 1000
        val k = rowBase + x * gridX / w
        sums(k) += lum
        counts(k) += 1
        total += lum
        x += 1
      }
      y += 1
    }
    var hash = 0L
    var k = 0
    while (k < g) {
      if (sums(k) * n > total * counts(k)) hash |= (1L << k)
      k += 1
    }
    hash
  }

  def pHashImageKernel(gridX: Int = 10, gridY: Int = 6): MediaKernel[MediaHash] = {
    require(gridX * gridY <= 63, s"grid ${gridX}x$gridY exceeds 63 bits")
    () => (id: Long, bytesOrNull: Array[Byte]) => {
      val img = readImage(id, bytesOrNull)
      if (img == null) MediaHash(id, -1L)
      else MediaHash(id, lumBlockhash(img, gridX, gridY))
    }
  }

  /** Everything a curation pipeline wants per image in ONE decode: dims,
    * channels, and the luminance blockhash. At 100 TB the decode dominates
    * the kernel cost — profiling and hashing in separate passes would pay
    * it twice. Undecodable: (0, 0, 0, -1). */
  final case class ImageProfile(id: Long, width: Long, height: Long,
      channels: Int, phash: Long)

  def imageProfileKernel(gridX: Int = 10, gridY: Int = 6): MediaKernel[ImageProfile] = {
    require(gridX * gridY <= 63, s"grid ${gridX}x$gridY exceeds 63 bits")
    () => (id: Long, bytesOrNull: Array[Byte]) => {
      val img = readImage(id, bytesOrNull)
      if (img == null) ImageProfile(id, 0L, 0L, 0, -1L)
      else ImageProfile(id, img.getWidth.toLong, img.getHeight.toLong,
        img.getColorModel.getNumComponents, lumBlockhash(img, gridX, gridY))
    }
  }

  /** A real resize result: re-encoded bytes plus the post-resize dims. */
  final case class ResizedImage(id: Long, content: Array[Byte], width: Int, height: Int)

  /** REAL resize kernel: decode, bilinear-scale onto an RGB canvas, and
    * re-encode (`format`: png | bmp | jpg — the JDK's writer set).
    * Undecodable inputs pass through as (id, null, 0, 0). The Graphics2D
    * context is per-IMAGE (cheap); the kernel seam still amortises the
    * ImageIO plugin registry lookup per partition. */
  def resizeKernel(targetW: Int, targetH: Int,
      format: String = "png"): MediaKernel[ResizedImage] = {
    require(targetW > 0 && targetH > 0, s"bad target ${targetW}x$targetH")
    () => {
      (id: Long, bytesOrNull: Array[Byte]) => {
        val img = readImage(id, bytesOrNull)
        if (img == null) ResizedImage(id, null, 0, 0)
        else {
          val out = new java.awt.image.BufferedImage(targetW, targetH,
            java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
          val gfx = out.createGraphics()
          try {
            gfx.setRenderingHint(
              java.awt.RenderingHints.KEY_INTERPOLATION,
              java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
            gfx.drawImage(img, 0, 0, targetW, targetH, null)
          } finally gfx.dispose()
          val buf = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(out, format, buf)
          ResizedImage(id, buf.toByteArray, targetW, targetH)
        }
      }
    }
  }

  /** Deterministic REAL image synthesis: a `gridX x gridY` grid of
    * constant-gray cells (`values(k)` in 0..255, k = cy*gridX + cx), each
    * `cellW x cellH` pixels, encoded through the real ImageIO BMP writer
    * (uncompressed, byte-stable). Because each cell is constant and gray,
    * the [[pHashImageKernel]] bit for cell k reduces to
    * `v_k * G > sum(v)` — a SQL oracle replays the hash without decoding
    * anything. Fixture generator for specs and the correctness gate, built
    * on the same codec stack the decode path exercises. */
  def blockImageBytes(values: Array[Int], cellW: Int, cellH: Int,
      gridX: Int, gridY: Int): Array[Byte] = {
    val buf = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(
      blockImage(values, cellW, cellH, gridX, gridY), "bmp", buf)
    buf.toByteArray
  }

  /** The in-memory frame behind [[blockImageBytes]] — shared with the
    * multi-frame GIF encoder. */
  private def blockImage(values: Array[Int], cellW: Int, cellH: Int,
      gridX: Int, gridY: Int): java.awt.image.BufferedImage = {
    require(values.length == gridX * gridY,
      s"need ${gridX * gridY} cell values, got ${values.length}")
    val img = new java.awt.image.BufferedImage(gridX * cellW, gridY * cellH,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    // write the raster's backing byte array directly: setRGB runs a color-
    // model conversion per pixel (measured as the bulk of q150's synth cost
    // at 5000 images x 3600 px); gray pixels are three identical bytes
    val px = img.getRaster.getDataBuffer
      .asInstanceOf[java.awt.image.DataBufferByte].getData
    val w = gridX * cellW
    var y = 0
    while (y < gridY * cellH) {
      val cy = y / cellH
      val rowBase = y * w * 3
      var x = 0
      while (x < w) {
        val v = (values(cy * gridX + x / cellW) & 0xff).toByte
        val o = rowBase + x * 3
        px(o) = v; px(o + 1) = v; px(o + 2) = v
        x += 1
      }
      y += 1
    }
    img
  }

  /** (doc_id, phash) over REAL decoded pixels — the production twin of
    * [[perceptualHashes]]; same downstream contract
    * ([[Dedup.fingerprintPairs]] blocking). */
  def perceptualHashesReal(df: DataFrame, idCol: String, contentCol: String,
      gridX: Int = 10, gridY: Int = 6): DataFrame =
    decodePartitioned(df, idCol, contentCol, pHashImageKernel(gridX, gridY))(
      org.apache.spark.sql.Encoders.product[MediaHash])
      .toDF("doc_id", "phash")

  /** [[decodePartitioned]] for kernels that emit MANY rows per payload
    * (frame sampling, chunked transcripts): same per-partition init, flat
    * output. */
  def decodePartitionedFlat[T: org.apache.spark.sql.Encoder](
      df: DataFrame, idCol: String, contentCol: String,
      kernel: MediaKernel[Seq[T]]): Dataset[T] = {
    import df.sparkSession.implicits._
    df.select(col(idCol).cast("long"), col(contentCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        val decode = kernel()
        rows.flatMap { case (id, bytes) => decode(id, bytes) }
      }
  }

  /** One sampled frame of a multi-frame payload: its index in the
    * container, the container's total frame count, and the frame's
    * luminance blockhash. Undecodable payload: a single (-1, 0, -1) row —
    * the downstream filter shape matches the scalar kernels' sentinels. */
  final case class FramePHash(id: Long, frameIdx: Int, nFrames: Int, phash: Long)

  /** REAL frame sampling: `n` evenly-spaced frames (index k -> frame
    * `k * total / n`, all frames when total <= n) decoded from a
    * multi-frame container through a real `ImageReader` and perceptual-
    * hashed in pixel space. Animated GIF is the one multi-frame format the
    * JDK ships a codec for; the kernel seam takes an ffmpeg-backed reader
    * for real video with no caller changes — the sampling arithmetic,
    * per-frame hashing and flat output contract are format-independent.
    * Frames decode on demand (`read(i)`): a 10k-frame video pays for the
    * n sampled frames, not the container. */
  def frameSamplePHashKernel(n: Int, gridX: Int = 10,
      gridY: Int = 6): MediaKernel[Seq[FramePHash]] = {
    require(n >= 1, s"need n >= 1 sampled frames, got $n")
    () => (id: Long, bytesOrNull: Array[Byte]) => {
      val bad = Seq(FramePHash(id, -1, 0, -1L))
      if (bytesOrNull == null || bytesOrNull.isEmpty) bad
      else {
        val iis = memoryIis(bytesOrNull) // no per-payload disk cache file
        try {
          val readers = javax.imageio.ImageIO.getImageReaders(iis)
          if (!readers.hasNext) bad
          else {
            val reader = readers.next()
            try {
              reader.setInput(iis)
              val total = reader.getNumImages(true)
              if (total <= 0) bad
              else {
                val picks =
                  if (total <= n) 0 until total
                  else (0 until n).map(k => k * total / n)
                picks.map { i =>
                  // same bomb guard as readImage, per frame, header-only
                  if (reader.getWidth(i).toLong * reader.getHeight(i) > MaxImagePixels)
                    FramePHash(id, i, total, -1L)
                  else FramePHash(id, i, total,
                    lumBlockhash(reader.read(i), gridX, gridY))
                }
              }
            } finally reader.dispose()
          }
        } catch {
          // NonFatal: fuzzed GIFs throw unchecked from the LZW decode
          case scala.util.control.NonFatal(_) => bad
        } finally iis.close()
      }
    }
  }

  /** REAL multi-frame synthesis: one animated GIF from constant-gray cell
    * grids (one `values` array per frame), through the JDK's sequence
    * writer. GIF palettizes — 256 gray levels fit its palette exactly, so
    * the round trip is lossless and the per-frame pHash stays
    * SQL-replayable from the cell formula. */
  def gifBytes(frames: Seq[Array[Int]], cellW: Int, cellH: Int,
      gridX: Int, gridY: Int): Array[Byte] = {
    require(frames.nonEmpty, "gifBytes needs at least one frame")
    val out = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(out)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      frames.foreach { vals =>
        writer.writeToSequence(new javax.imageio.IIOImage(
          blockImage(vals, cellW, cellH, gridX, gridY), null, null), null)
      }
      writer.endWriteSequence()
    } finally {
      writer.dispose(); ios.close()
    }
    out.toByteArray
  }

  /** Image profiles for a (id, content) frame —
    * (doc_id, width, height, channels, phash) in one decode per row. A
    * stateless narrow map, so it runs unchanged on a streaming frame
    * (StreamingSpec pins stream == batch, as for [[audioProfiles]]). */
  def imageProfiles(df: DataFrame, idCol: String, contentCol: String,
      gridX: Int = 10, gridY: Int = 6): DataFrame =
    decodePartitioned(df, idCol, contentCol, imageProfileKernel(gridX, gridY))(
      org.apache.spark.sql.Encoders.product[ImageProfile])
      .toDF("doc_id", "width", "height", "channels", "phash")

  /** Sampled per-frame hashes for a (id, content) frame —
    * (doc_id, frame_idx, n_frames, phash). */
  def frameSampleHashes(df: DataFrame, idCol: String, contentCol: String,
      n: Int): DataFrame =
    decodePartitionedFlat(df, idCol, contentCol, frameSamplePHashKernel(n))(
      org.apache.spark.sql.Encoders.product[FramePHash])
      .toDF("doc_id", "frame_idx", "n_frames", "phash")

  // ---------------------------------------------------------------------
  // REAL compressed-payload ingestion: crawl/WARC-shaped corpora arrive
  // gzip- or zstd-compressed, and at 100 TB the decompress belongs in the
  // same per-partition kernel seam as the media decodes. gzip is the
  // JDK's; zstd is the zstd-jni codec Spark itself ships on every
  // classpath (its own shuffle/parquet codec — no new dependency).
  // ---------------------------------------------------------------------

  /** One decompressed text payload: the codec sniffed from magic bytes
    * (`gzip` 1f-8b, `zstd` 28-b5-2f-fd, anything else passes through as
    * `plain`), the decompressed byte count, and the text. Corrupt streams:
    * (codec, 0, null) with codec = `bad` — quarantine, never a job kill. */
  final case class DecodedText(id: Long, codec: String, nBytes: Long, text: String)

  /** Auto-detecting decompress kernel: magic-byte sniff, then the REAL
    * codec stream (GZIPInputStream / ZstdInputStream). Detection is
    * per-payload, so mixed-codec corpora (the norm in assembled crawls)
    * ingest in one pass.
    *
    * `maxBytes` is the decompression-BOMB guard: a few-KB zstd/gzip
    * payload can legally declare gigabytes of output and OOM the executor
    * at `readAllBytes` — the stream is read in bounded chunks and a
    * payload that expands past the cap quarantines as codec `big`
    * (distinct from `bad`, so pipelines can count bombs separately).
    * Default 64 MiB: far above any sane crawl document, far below an
    * executor heap. */
  def decompressTextKernel(charset: String = "UTF-8",
      maxBytes: Long = 64L << 20): MediaKernel[DecodedText] = () => {
    // bounded drain: stops one chunk past the cap instead of trusting the
    // stream's self-declared size
    def drain(in: java.io.InputStream): Either[Unit, Array[Byte]] = {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](64 * 1024)
      var read = in.read(buf)
      while (read >= 0) {
        out.write(buf, 0, read)
        if (out.size() > maxBytes) return Left(())
        read = in.read(buf)
      }
      Right(out.toByteArray)
    }
    (id: Long, bytesOrNull: Array[Byte]) => {
      def decoded(codec: String, raw: Array[Byte]) =
        DecodedText(id, codec, raw.length.toLong, new String(raw, charset))
      def viaStream(codec: String, open: => java.io.InputStream) =
        try {
          val in = open
          try drain(in) match {
            case Right(raw) => decoded(codec, raw)
            // n_bytes 0 like "bad": the true decompressed size is unknown
            // (the drain stopped mid-stream) — reporting the cap would
            // silently inflate downstream byte accounting per bomb
            case Left(_) => DecodedText(id, "big", 0L, null)
          } finally in.close()
        } catch {
          // NonFatal: zstd-jni surfaces native-side errors unchecked
          case scala.util.control.NonFatal(_) => DecodedText(id, "bad", 0L, null)
        }
      if (bytesOrNull == null) DecodedText(id, "bad", 0L, null)
      else if (bytesOrNull.length >= 2 &&
          (bytesOrNull(0) & 0xff) == 0x1f && (bytesOrNull(1) & 0xff) == 0x8b)
        viaStream("gzip", new java.util.zip.GZIPInputStream(
          new java.io.ByteArrayInputStream(bytesOrNull)))
      else if (bytesOrNull.length >= 4 &&
          (bytesOrNull(0) & 0xff) == 0x28 && (bytesOrNull(1) & 0xff) == 0xb5 &&
          (bytesOrNull(2) & 0xff) == 0x2f && (bytesOrNull(3) & 0xff) == 0xfd)
        viaStream("zstd", new com.github.luben.zstd.ZstdInputStream(
          new java.io.ByteArrayInputStream(bytesOrNull)))
      else decoded("plain", bytesOrNull)
    }
  }

  /** REAL gzip compression (JDK Deflater) — fixture/egress helper. */
  def gzipBytes(raw: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(out)
    gz.write(raw); gz.close()
    out.toByteArray
  }

  /** REAL zstd compression (Spark's own zstd-jni). */
  def zstdBytes(raw: Array[Byte], level: Int = 3): Array[Byte] =
    com.github.luben.zstd.Zstd.compress(raw, level)

  /** Decompressed texts for a (id, content) frame —
    * (doc_id, codec, n_bytes, text). */
  def decompressTexts(df: DataFrame, idCol: String, contentCol: String): DataFrame =
    decodePartitioned(df, idCol, contentCol, decompressTextKernel())(
      org.apache.spark.sql.Encoders.product[DecodedText])
      .toDF("doc_id", "codec", "n_bytes", "text")

  // ---------------------------------------------------------------------
  // REAL audio codecs over javax.sound.sampled (also pure JDK, headless):
  // WAV/AIFF/AU container parse + 16-bit PCM decode. Same seam, same
  // philosophy as the image kernels — and the profile is ALL-INTEGER
  // (sum of squares, sign flips, peak), so a SQL oracle replays it
  // hash-exactly where float RMS would drift in the last ulp.
  // ---------------------------------------------------------------------

  /** Integer audio profile over the decoded 16-bit PCM stream (channel-
    * interleaved, exactly as decoded): `sumSq` = Σ s², `zeroCrossings` =
    * transitions between negative and non-negative consecutive samples,
    * `peakAbs` = max |s|. Downstream turns these into RMS/ZCR-per-second
    * in float land; keeping the kernel integral keeps it replayable.
    * Undecodable / non-16-bit-PCM payloads: (0, 0, 0, 0, 0, -1) —
    * peakAbs = -1 is the quarantine sentinel (real audio is always >= 0). */
  final case class AudioProfile(id: Long, sampleRate: Int, channels: Int,
      nSamples: Long, sumSq: Long, zeroCrossings: Long, peakAbs: Int)

  private val BadAudio = (0, 0, 0L, 0L, 0L, -1)

  /** Canonical-RIFF fast path (round-13, closes verdict item 6 — q151 was
    * the suite's slowest sf1 row at 15.8s): `AudioSystem.getAudioInputStream`
    * costs ~10 ms per call in provider discovery + stream scaffolding,
    * which dwarfs the actual per-sample loop on crawl-sized clips. A strict
    * in-place parse of the one container shape crawl audio overwhelmingly
    * has (RIFF/WAVE, fmt tag 1 = integer PCM, 16-bit, little-endian,
    * consistent chunk sizes) profiles the SAME interleaved samples the JDK
    * decoder yields — anything non-canonical (AIFF, AU, big-endian,
    * extensible fmt 0xFFFE, truncated or inconsistent chunks) returns null
    * here and falls back to the real JDK codec, so behavior is identical
    * by construction (spec-pinned, including the fallback formats).
    * Returns (rate, channels, nSamples, sumSq, zeroCrossings, peakAbs). */
  private[operators] def riffPcm16Profile(
      b: Array[Byte]): Option[(Int, Int, Long, Long, Long, Int)] = {
    def u16(o: Int): Int = (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
    def u32(o: Int): Long =
      (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
        ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)
    def tag(o: Int): String =
      new String(b, o, 4, java.nio.charset.StandardCharsets.US_ASCII)
    if (b.length < 44 || tag(0) != "RIFF" || tag(8) != "WAVE") return None
    var off = 12
    var fmtOk = false
    var rate = 0; var ch = 0
    while (off + 8 <= b.length) {
      val ct = tag(off); val sz = u32(off + 4)
      if (ct == "fmt ") {
        // strict: integer-PCM tag, 16-bit; anything else -> JDK fallback
        if (sz < 16 || off + 8 + 16 > b.length) return None
        if (u16(off + 8) != 1 || u16(off + 8 + 14) != 16) return None
        ch = u16(off + 8 + 2)
        rate = u32(off + 8 + 4).toInt
        if (ch < 1 || rate <= 0) return None
        fmtOk = true
      } else if (ct == "data") {
        if (!fmtOk) return None
        // strict: the declared chunk must fit exactly in the payload —
        // truncated/overlong containers go through the JDK reader so the
        // two paths can never disagree about how many samples exist
        if (sz > Int.MaxValue - 8 || off + 8 + sz != b.length) return None
        var i = off + 8
        val end = off + 8 + sz.toInt
        var ss = 0L; var flips = 0L; var mx = 0; var cnt = 0L
        var prevNeg = false; var first = true
        while (i + 1 < end) {
          val s = ((b(i + 1) << 8) | (b(i) & 0xff)).toShort.toInt
          ss += s.toLong * s
          val a = math.abs(s)
          if (a > mx) mx = a
          val neg = s < 0
          if (!first && neg != prevNeg) flips += 1
          prevNeg = neg; first = false
          cnt += 1
          i += 2
        }
        return Some((rate, ch, cnt, ss, flips, mx))
      }
      // chunks are word-aligned: odd sizes carry a pad byte. Skip in Long
      // math: a junk chunk can declare any u32 size, and `8 + sz.toInt`
      // overflows Int for sizes >= 0x7FFFFFF8, driving `off` negative and
      // `tag(off)` out of bounds — any skip past the payload end means the
      // container is inconsistent, so hand it to the strict JDK path
      val next = off.toLong + 8L + sz + (sz & 1L)
      if (next > b.length) return None
      off = next.toInt
    }
    None
  }

  def audioProfileKernel: MediaKernel[AudioProfile] = () => {
    (id: Long, bytesOrNull: Array[Byte]) => {
      val (rate, ch, n, sumSq, zc, peak) =
        if (bytesOrNull == null || bytesOrNull.isEmpty) BadAudio
        // the fast path must never be able to fail the task: any throw on a
        // fuzzed container demotes to the JDK codec, which maps it to BadAudio
        else (try riffPcm16Profile(bytesOrNull) catch {
          case scala.util.control.NonFatal(_) => None
        }).getOrElse(try {
          val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(bytesOrNull))
          try {
            val fmt = in.getFormat
            if (fmt.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED ||
                fmt.getSampleSizeInBits != 16) BadAudio
            else {
              val raw = in.readAllBytes()
              val big = fmt.isBigEndian
              var i = 0
              var ss = 0L; var flips = 0L; var mx = 0; var cnt = 0L
              var prevNeg = false; var first = true
              while (i + 1 < raw.length) {
                val s =
                  if (big) ((raw(i) << 8) | (raw(i + 1) & 0xff)).toShort.toInt
                  else ((raw(i + 1) << 8) | (raw(i) & 0xff)).toShort.toInt
                ss += s.toLong * s
                val a = math.abs(s)
                if (a > mx) mx = a
                val neg = s < 0
                if (!first && neg != prevNeg) flips += 1
                prevNeg = neg; first = false
                cnt += 1
                i += 2
              }
              (fmt.getSampleRate.toInt, fmt.getChannels, cnt, ss, flips, mx)
            }
          } finally in.close()
        } catch {
          // NonFatal (not just the two declared types): fuzzed containers
          // can throw unchecked from the JDK audio file readers
          case scala.util.control.NonFatal(_) => BadAudio
        })
      AudioProfile(id, rate, ch, n, sumSq, zc, peak)
    }
  }

  /** REAL WAV synthesis: 16-bit signed little-endian PCM through the JDK's
    * RIFF writer (`AudioSystem.write(WAVE)`), `channels`-interleaved.
    * Lossless by construction, so a decode returns the samples bit-exactly
    * — the fixture generator for the audio gate/specs, exercising the real
    * encoder the way [[blockImageBytes]] exercises ImageIO's. */
  def pcmWavBytes(samples: Array[Short], sampleRate: Int,
      channels: Int = 1): Array[Byte] = {
    require(channels >= 1 && samples.length % channels == 0,
      s"${samples.length} samples do not interleave over $channels channels")
    val raw = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      raw(2 * i) = (samples(i) & 0xff).toByte
      raw(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(
      sampleRate.toFloat, 16, channels, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(raw), fmt, samples.length / channels)
    val out = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  /** Audio profiles for a (id, content) frame via the per-partition kernel
    * path — spread heavy batches with [[repartitionForDecode]] first. */
  def audioProfiles(df: DataFrame, idCol: String, contentCol: String): DataFrame =
    decodePartitioned(df, idCol, contentCol, audioProfileKernel)(
      org.apache.spark.sql.Encoders.product[AudioProfile])
      .toDF("doc_id", "sample_rate", "channels", "n_samples", "sum_sq",
        "zero_crossings", "peak_abs")
}
