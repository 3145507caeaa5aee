package graft.tools

import org.apache.spark.sql.functions._

import graft.Harness
import graft.operators.Multimodal
import graft.ingestion.Warc

/** Measured throughput of the REAL media/ingestion kernels — the numbers
  * that size a 100 TB media-curation job (how many executor-cores for how
  * long), complementing the correctness gates (q150-q154). Synthesis is
  * deterministic and happens in a separate materialized pass so the timed
  * region is the DECODE kernels alone, not fixture generation.
  *
  * Usage: `sbt "runMain graft.tools.MediaScaleProbe [nRows]"` (default
  * 20000). Prints one markdown row per kernel: payloads/s total and
  * per-core (local[32] → /32), plus payload shape.
  */
object MediaScaleProbe {

  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toInt else 20000
    val cores = Harness.cpus
    val spark = Harness.session(cores)
    import spark.implicits._

    def timed(f: => Long): (Double, Long) = {
      val t0 = System.nanoTime()
      val rows = f
      ((System.nanoTime() - t0) / 1e9, rows)
    }

    val rows = scala.collection.mutable.ArrayBuffer.empty[String]
    def report(kernel: String, shape: String, sec: Double, payloads: Long): Unit =
      rows += f"| $kernel | $shape | $payloads | $sec%.1f | ${payloads / sec}%.0f | ${payloads / sec / cores}%.0f |"

    // ---- images: 60x60 BMP decode + dims + luminance blockhash ----
    val imgs = spark.range(n).repartition(cores)
      .select(col("id"), udf((id: Long) => Multimodal.blockImageBytes(
        Array.tabulate(60)(k => ((id * 31 + k * 7) % 256).toInt), 6, 10, 10, 6))
        .apply(col("id")).as("content"))
      .persist()
    imgs.count()
    val (imgSec, imgRows) = timed(Harness.runFully(
      Multimodal.imageProfiles(imgs, "id", "content")))
    report("imageProfile (decode+pHash)", "60x60 BMP", imgSec, imgRows)
    imgs.unpersist()

    // ---- realistic crawl images: ~1MP JPEG decode + profile ----
    // the 60x60 row above prices container/kernel overhead; real crawls are
    // megapixel JPEGs where per-PIXEL decode dominates (round-10 verdict:
    // sizing guidance must come from this row, not the tiny-BMP one). The
    // pixel pattern is high-frequency (xor + id-mixed channels) so the
    // encoder can't collapse it to a trivially-decodable flat image.
    val jpegN = math.max(cores.toLong, n / 8L)
    val jpegs = spark.range(jpegN).repartition(cores)
      .select(col("id"), udf((id: Long) => {
        val w = 1152; val h = 896 // ~1.03 MP
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val r = (x * 7 + id * 13) & 0xff
            val g = (y * 5 + id * 29) & 0xff
            val b = ((x ^ y) + id) & 0xff
            img.setRGB(x, y, ((r << 16) | (g << 8) | b).toInt)
            x += 1
          }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "jpg", bos)
        bos.toByteArray
      }).apply(col("id")).as("content"))
      .persist()
    jpegs.count()
    val (jpgSec, jpgRows) = timed(Harness.runFully(
      Multimodal.imageProfiles(jpegs, "id", "content")))
    report("imageProfile (decode+pHash)", "~1MP JPEG", jpgSec, jpgRows)
    jpegs.unpersist()

    // ---- audio: 2000-sample 16-bit WAV decode + integer profile ----
    val wavs = spark.range(n).repartition(cores)
      .select(col("id"), udf((id: Long) => Multimodal.pcmWavBytes(
        Array.tabulate(2000)(i => (((id + i * 2657L) % 65536L) - 32768L).toShort),
        8000)).apply(col("id")).as("content"))
      .persist()
    wavs.count()
    val (wavSec, wavRows) = timed(Harness.runFully(
      Multimodal.audioProfiles(wavs, "id", "content")))
    report("audioProfile (PCM decode)", "2000-sample WAV", wavSec, wavRows)
    wavs.unpersist()

    // ---- multi-frame: 5-frame GIF, sample 3 frames, hash each ----
    val gifs = spark.range(n / 4).repartition(cores)
      .select(col("id"), udf((id: Long) => Multimodal.gifBytes(
        (0 until 5).map(f => Array.tabulate(60)(k =>
          ((id * 17 + f * 53 + k * 3) % 256).toInt)), 6, 10, 10, 6))
        .apply(col("id")).as("content"))
      .persist()
    gifs.count()
    val (gifSec, gifFrameRows) = timed(Harness.runFully(
      Multimodal.frameSampleHashes(gifs, "id", "content", n = 3)))
    report("frameSample (GIF, 3 of 5)", "5-frame 60x60 GIF", gifSec, gifFrameRows / 3)
    gifs.unpersist()

    // ---- compressed text: ~2 KB payloads, mixed gzip/zstd sniff ----
    val text = ("the quick brown fox jumps over the lazy dog " * 48).trim
    val packed = spark.range(n).repartition(cores)
      .select(col("id"), udf((id: Long) => {
        val raw = s"doc $id: $text".getBytes("UTF-8")
        if (id % 2 == 0) Multimodal.gzipBytes(raw) else Multimodal.zstdBytes(raw)
      }).apply(col("id")).as("content"))
      .persist()
    packed.count()
    val (zSec, zRows) = timed(Harness.runFully(
      Multimodal.decompressTexts(packed, "id", "content")))
    report("decompressText (sniffed)", "~2KB gzip|zstd", zSec, zRows)
    packed.unpersist()

    // ---- WARC: two-record payloads, byte-exact parse ----
    val warcs = spark.range(n).repartition(cores)
      .select(col("id"), udf((id: Long) => Warc.warcBytes(Seq(
        ("warcinfo", "", "engine=graft"),
        ("response", s"https://example.org/$id", s"doc $id: $text"))))
        .apply(col("id")).as("content"))
      .persist()
    warcs.count()
    val (wSec, wRecRows) = timed(Harness.runFully(
      Warc.warcRecords(warcs, "id", "content").toDF()))
    report("warcRecords (parse)", "2-record WARC", wSec, wRecRows / 2)
    warcs.unpersist()

    println(s"[media-scale] n=$n cores=$cores (payloads/s includes all kernel work; synthesis pre-materialized)")
    println("| kernel | payload | payloads | sec | payloads/s | per core |")
    println("|---|---|---|---|---|---|")
    rows.foreach(println)
    spark.stop()
  }
}
