package graft.multimodal

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO
import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing (SURVEY.md §2.11 [EXT]): image/audio/video
  * assets as opaque `binary` columns with typed metadata, plus the
  * decode / feature-extract / resize / frame-sample operators a training
  * pipeline runs over them.
  *
  * IMAGE decode and resize are REAL: `javax.imageio` (PNG/JPEG/BMP/GIF)
  * ships with every JDK, so no external codec is needed — payloads are
  * decoded to pixels and featurized (width/height/mean-luma/4×4 grid-luma
  * embedding). AUDIO (WAV/PCM) decode is REAL too: `javax.sound.sampled`
  * is also JDK-native — payloads are decoded to samples and featurized
  * (sample-rate/sample-count/RMS/zero-crossing-rate/16-bin |amplitude|
  * envelope). VIDEO decode and frame sampling are REAL for the one
  * multi-frame container the JDK can read — animated GIF: frames are
  * pixel-decoded (frame count, dims, per-frame luma envelope) and frame
  * sampling extracts actual frames re-encoded as PNG. Payloads in codecs
  * the JDK genuinely lacks (H.264/VP9/...) fall back to a clearly-marked
  * deterministic byte-split STUB with `real_decode = false`. The
  * Spark-side contract is identical and tested either way: schema,
  * per-partition batched execution (the mapPartitions shape an
  * Arrow/pandas-batch UDF would have), shuffle-free narrow execution,
  * and frame explosion.
  *
  * Scale notes: assets are processed strictly per-partition (narrow),
  * so 100 TB of binaries stream through executors at
  * `spark.sql.files.maxPartitionBytes` granularity; nothing is
  * collected, and metadata-only plans never touch the bytes column
  * (parquet column pruning).
  */
object Multimodal {

  // ImageIO's default stream cache is DISK-backed: every
  // ImageIO.read/write and create*Stream call round-trips a temp FILE
  // unless useCache is off — a per-row disk create/write/delete inside
  // the decode/encode kernels (round 13; OPTIMIZATION_r13.md item 6). The
  // payloads here are small frames decoded in memory; the memory cache
  // is strictly better at any scale (executors decode bounded batches,
  // never whole files).
  javax.imageio.ImageIO.setUseCache(false)

  /** Canonical asset schema: opaque payload + typed metadata. */
  val assetSchema: StructType = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false), // image|audio|video
    StructField("bytes", BinaryType, nullable = false),
    StructField("meta", StructType(Seq(
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("sample_rate", IntegerType),
      StructField("n_frames", IntegerType))), nullable = false)))

  /** Deterministic 32×32 RGB PNG for an asset id: channel values are pure
    * functions of (id, x, y), encoded with the JDK's built-in PNG codec.
    * Gives `syntheticAssets` real decodable image payloads without any
    * external media library or test fixture files.
    */
  private[graft] def syntheticPng(id: Long, w: Int = 32, h: Int = 32)
      : Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val r = ((id * 31 + x * 7 + y * 13) & 0xff).toInt
        val g = ((id * 17 + x * 11 + y * 5) & 0xff).toInt
        val b = ((id * 23 + x * 3 + y * 19) & 0xff).toInt
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    val out = new ByteArrayOutputStream()
    ImageIO.write(img, "png", out)
    out.toByteArray
  }

  private val syntheticPngUdf = udf((id: Long) => syntheticPng(id))

  /** Deterministic mono 16-bit PCM WAV for an asset id: a square wave
    * whose half-period and amplitude are pure functions of the id,
    * encoded with the JDK's built-in WAV writer (`javax.sound.sampled`).
    * Gives `syntheticAssets` real decodable audio payloads without any
    * external media library.
    */
  private[graft] def syntheticWav(id: Long, sampleRate: Int = 8000,
      nSamples: Int = 800): Array[Byte] = {
    val half = 4 + (id % 8).toInt       // samples per half-period
    val amp = (8192 + (id % 3) * 4096).toInt
    val pcm = new Array[Byte](nSamples * 2)
    var i = 0
    while (i < nSamples) {
      val s = (if ((i / half) % 2 == 0) amp else -amp).toShort
      pcm(2 * i) = (s & 0xff).toByte            // little-endian
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new AudioFormat(sampleRate.toFloat, 16, 1, true, false)
    val in = new AudioInputStream(new ByteArrayInputStream(pcm), fmt,
      nSamples.toLong)
    val out = new ByteArrayOutputStream()
    AudioSystem.write(in, AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  private val syntheticWavUdf = udf((id: Long) => syntheticWav(id))

  /** splitmix64-style bit mixer for (id, segment) → non-negative Long —
    * the per-segment pitch seed of [[syntheticMelodyWav]].
    */
  private[graft] def mixIdSeg(id: Long, seg: Int): Long = {
    var z = id * 0x9E3779B97F4A7C15L + seg * 0xBF58476D1CE4E5B9L
    z ^= (z >>> 31); z *= 0x94D049BB133111EBL; z ^= (z >>> 27)
    z & Long.MaxValue
  }

  /** Deterministic "melody" WAV: `segments` spans of `segLen` samples,
    * each a square wave whose half-period (3..12 samples) walks an
    * id-seeded pseudo-random sequence — a pitch CONTOUR unique to the
    * id. The contour, not the amplitude, is the perceptual identity:
    * near-dup variants rescale amplitude (`ampScale`), which leaves
    * every zero crossing in place.
    */
  private[graft] def syntheticMelodyWav(id: Long, ampScale: Double = 1.0,
      segments: Int = 65, segLen: Int = 100): Array[Byte] = {
    val n = segments * segLen
    val pcm = new Array[Byte](n * 2)
    var seg = 0
    while (seg < segments) {
      val half = 3 + (mixIdSeg(id, seg) % 10).toInt
      val amp = (8192 * ampScale).toInt
      var i = 0
      while (i < segLen) {
        val s = (if ((i / half) % 2 == 0) amp else -amp).toShort
        val o = 2 * (seg * segLen + i)
        pcm(o) = (s & 0xff).toByte
        pcm(o + 1) = ((s >> 8) & 0xff).toByte
        i += 1
      }
      seg += 1
    }
    val fmt = new AudioFormat(8000f, 16, 1, true, false)
    val in = new AudioInputStream(new ByteArrayInputStream(pcm), fmt, n.toLong)
    val out = new ByteArrayOutputStream()
    AudioSystem.write(in, AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  private[graft] val syntheticMelodyWavUdf =
    udf((id: Long) => syntheticMelodyWav(id))
  private[graft] val syntheticMelodyWavNearUdf =
    udf((id: Long) => syntheticMelodyWav(id, ampScale = 0.6))

  /** 64-bit audio pitch-contour fingerprint over the REAL PCM decode:
    * the track splits into 65 equal segments, each segment's zero-
    * crossing count proxies its dominant pitch, and bit i compares
    * segment i against segment i+1 — the dHash idea applied to the
    * melody contour (Shazam-style landmark hashing reduced to its
    * time-domain core). Gain-invariant by construction: scaling
    * amplitude moves no zero crossing. None when the payload is not
    * decodable PCM or too short to segment.
    */
  private[graft] def audioContourHash(bytes: Array[Byte],
      segments: Int = 65): Option[Long] =
    wavTrack(bytes).flatMap { case (_, _, track) =>
      if (track.length < segments) None
      else {
        val segLen = track.length / segments
        val zc = new Array[Int](segments)
        var seg = 0
        while (seg < segments) {
          var c = 0
          var i = seg * segLen + 1
          val end = (seg + 1) * segLen
          while (i < end) {
            if ((track(i) >= 0) != (track(i - 1) >= 0)) c += 1
            i += 1
          }
          zc(seg) = c
          seg += 1
        }
        var sig = 0L
        var i = 0
        while (i < 64) {
          sig = (sig << 1) | (if (zc(i) > zc(i + 1)) 1L else 0L)
          i += 1
        }
        Some(sig)
      }
    }

  private[graft] val audioContourHashUdf =
    udf((b: Array[Byte]) => audioContourHash(b))

  /** Deterministic animated GIF for an asset id: (id % 8) + 1 frames of
    * w×h two-band grayscale, band levels pure functions of (id, frame),
    * encoded with the JDK's built-in GIF sequence writer. Gray pixels
    * survive GIF palettization exactly (r = g = b ⇒ Rec.601 luma = the
    * gray level), so decoded lumas are bit-exact against the formula.
    */
  private[graft] def syntheticGif(id: Long, w: Int = 16, h: Int = 16)
      : Array[Byte] = {
    val nFrames = (id % 8 + 1).toInt
    val out = new ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(out)
    val writer = ImageIO.getImageWritersByFormatName("gif").next()
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    var f = 0
    while (f < nFrames) {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      val g1 = ((id * 37 + f * 11) & 0xff).toInt
      val g2 = ((id * 29 + f * 17) & 0xff).toInt
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val g = if (x < w / 2) g1 else g2
          img.setRGB(x, y, (g << 16) | (g << 8) | g)
          x += 1
        }
        y += 1
      }
      writer.writeToSequence(new javax.imageio.IIOImage(img, null, null),
        writer.getDefaultWriteParam)
      f += 1
    }
    writer.endWriteSequence()
    writer.dispose()
    ios.close()
    out.toByteArray
  }

  private val syntheticGifUdf = udf((id: Long) => syntheticGif(id))

  /** Deterministic synthetic assets derived from `documents` — stands in
    * for an ingested media table so the pipeline shape is testable with
    * the driver's data. Image payloads are real 32×32 PNGs, audio
    * payloads real PCM WAVs, and video payloads real animated GIFs with
    * exactly meta.n_frames frames (all three decodable by
    * `decodeFeatures`). Metadata derives from doc fields.
    */
  def syntheticAssets(spark: SparkSession, sfDir: String): DataFrame =
    graft.Tables(spark, sfDir, "documents")
      .withColumn("kind",
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (pmod(col("doc_id"), lit(3)) + 1).cast("int")))
      .select(
        col("doc_id").as("asset_id"),
        col("kind"),
        when(col("kind") === "image", syntheticPngUdf(col("doc_id")))
          .when(col("kind") === "audio", syntheticWavUdf(col("doc_id")))
          .otherwise(syntheticGifUdf(col("doc_id")))
          .as("bytes"),
        struct(
          lit(32).as("width"), lit(32).as("height"),
          lit(16000).as("sample_rate"),
          (pmod(col("doc_id"), lit(8)) + 1).cast("int").as("n_frames"))
          .as("meta"))

  /** Ingest real asset FILES via Spark's `binaryFile` source — the
    * media-ingest shape at 100 TB: the source lists the directory tree
    * (partition-parallel), each row carries (path, length, content), and
    * column pruning means metadata-only queries never load the bytes.
    * Output conforms to [[assetSchema]]: asset_id = xxhash64(path)
    * (deterministic, stable across runs/listing order), kind from the
    * file extension, meta sentinels (-1) until decode fills them.
    */
  def readAssets(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("binaryFile").load(dir)
      .select(
        xxhash64(col("path")).as("asset_id"),
        when(lower(col("path")).rlike("\\.(png|jpe?g|bmp|gif)$"), "image")
          .when(lower(col("path")).rlike("\\.(wav|mp3|flac|ogg)$"), "audio")
          .when(lower(col("path")).rlike("\\.(mp4|mkv|webm|avi)$"), "video")
          .otherwise("image").as("kind"),
        col("content").as("bytes"),
        struct(lit(-1).as("width"), lit(-1).as("height"),
          lit(-1).as("sample_rate"), lit(1).as("n_frames")).as("meta"))

  /** Result row of the decode/feature pass. `width`/`height`/`mean_luma`
    * are populated only when the payload was actually pixel-decoded;
    * `sample_rate`/`n_samples`/`rms` only when it was sample-decoded;
    * `real_decode` is set in both cases. Stub-featurized assets carry -1
    * sentinels in every decode field.
    */
  case class AssetFeatures(asset_id: Long, kind: String, byte_len: Int,
      mean_byte: Double, checksum: Long, feature: Array[Float],
      width: Int, height: Int, mean_luma: Double,
      sample_rate: Int, n_samples: Int, rms: Double,
      n_frames: Int, real_decode: Boolean)

  // ----- DECODE KERNELS ----------------------------------------------
  // IMAGE: real pixel decode via the JDK's javax.imageio (PNG/JPEG/BMP/
  // GIF — no external codec needed). AUDIO: real WAV/PCM sample decode
  // via the JDK's javax.sound.sampled (also codec-free). VIDEO: animated
  // GIF gets a REAL multi-frame decode (decodeVideo below — per-frame
  // ImageReader pass with disposal/offset compositing); non-GIF
  // containers (mp4/webm — codecs absent from the JDK) fall back to a
  // deterministic byte-level stub flagged `real_decode=false`.

  /** REAL image decode: pixels → (width, height, mean luma, 4×4 grid of
    * per-cell mean luma as a 16-dim feature). Luma uses the Rec.601
    * weights (0.299 R + 0.587 G + 0.114 B). Returns None when the
    * payload is not a decodable image.
    */
  private[graft] def decodeImage(bytes: Array[Byte])
      : Option[(Int, Int, Double, Array[Float])] = {
    val img =
      try ImageIO.read(new ByteArrayInputStream(bytes))
      catch { case _: java.io.IOException => null }
    if (img == null) None
    else {
      val w = img.getWidth; val h = img.getHeight
      val grid = 4
      val cellSum = new Array[Double](grid * grid)
      val cellN = new Array[Long](grid * grid)
      var lumaSum = 0.0
      var y = 0
      while (y < h) {
        val cy = math.min(grid - 1, y * grid / h)
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          val luma = 0.299 * ((rgb >> 16) & 0xff) +
            0.587 * ((rgb >> 8) & 0xff) + 0.114 * (rgb & 0xff)
          lumaSum += luma
          val c = cy * grid + math.min(grid - 1, x * grid / w)
          cellSum(c) += luma; cellN(c) += 1
          x += 1
        }
        y += 1
      }
      val feat = Array.tabulate(grid * grid)(i =>
        if (cellN(i) == 0) 0.0f else (cellSum(i) / cellN(i)).toFloat)
      Some((w, h, lumaSum / (w.toLong * h), feat))
    }
  }

  /** Perceptual image hash (dHash [difference hash]): decode pixels,
    * average luma over a 9×8 grid, then one bit per horizontally
    * adjacent cell pair (left < right). Near-identical images — a
    * one-pixel edit, light recompression — move at most a few cells'
    * means, so their hashes sit within a small hamming distance, while
    * unrelated images land ~32 bits apart. 64 bits packed in row-major
    * (bit 63 = top-left comparison). None when not a decodable image.
    */
  private[graft] def imageDHash(bytes: Array[Byte]): Option[Long] = {
    val img =
      try ImageIO.read(new ByteArrayInputStream(bytes))
      catch { case _: java.io.IOException => null }
    if (img == null) None
    else Some(dHashOf(img))
  }

  /** dHash of an already-decoded frame — shared by the image hash above
    * and the per-frame video fold below.
    */
  private[graft] def dHashOf(img: BufferedImage): Long = {
    {
      val gw = 9; val gh = 8
      val w = img.getWidth; val h = img.getHeight
      val cellSum = new Array[Double](gw * gh)
      val cellN = new Array[Long](gw * gh)
      var y = 0
      while (y < h) {
        val cy = math.min(gh - 1, y * gh / h)
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          val luma = 0.299 * ((rgb >> 16) & 0xff) +
            0.587 * ((rgb >> 8) & 0xff) + 0.114 * (rgb & 0xff)
          val c = cy * gw + math.min(gw - 1, x * gw / w)
          cellSum(c) += luma; cellN(c) += 1
          x += 1
        }
        y += 1
      }
      def cell(cy: Int, cx: Int): Double = {
        val c = cy * gw + cx
        if (cellN(c) == 0) 0.0 else cellSum(c) / cellN(c)
      }
      var sig = 0L
      var cy = 0
      while (cy < gh) {
        var cx = 0
        while (cx < gw - 1) {
          sig = (sig << 1) | (if (cell(cy, cx) < cell(cy, cx + 1)) 1L else 0L)
          cx += 1
        }
        cy += 1
      }
      sig
    }
  }

  private[graft] val imageDHashUdf =
    udf((b: Array[Byte]) => imageDHash(b))

  /** 64-bit video content hash: dHash every frame of the REAL
    * multi-frame decode, then fold per bit by MAJORITY across frames
    * (ties → 0) — a one-frame edit moves at most the few bits whose
    * frame votes were balanced, while unrelated clips land ~32 apart.
    * None for undecodable or zero-frame payloads.
    */
  private[graft] def videoContentHash(bytes: Array[Byte]): Option[Long] =
    readVideoFrames(bytes).map { frames =>
      val hashes = frames.map(dHashOf)
      val n = hashes.length
      var sig = 0L
      var b = 0
      while (b < 64) {
        var c = 0
        hashes.foreach { h => if (((h >>> b) & 1L) == 1L) c += 1 }
        if (c * 2 > n) sig |= (1L << b)
        b += 1
      }
      sig
    }

  private[graft] val videoContentHashUdf =
    udf((b: Array[Byte]) => videoContentHash(b))

  /** Deterministic TEXTURED animated GIF: every pixel of every frame is
    * id-and-position-seeded pseudo-noise, so frame dHash bits are iid
    * and unrelated clips hash far apart (the two-band [[syntheticGif]]
    * frames carry too little gradient entropy to fingerprint). The
    * near-dup variant whitens one corner pixel of frame 0 — "same clip,
    * one-frame edit".
    */
  private[graft] def syntheticTexturedGif(id: Long, edit: Boolean = false,
      frames: Int = 4, w: Int = 16, h: Int = 16): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(out)
    val writer = ImageIO.getImageWritersByFormatName("gif").next()
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    var f = 0
    while (f < frames) {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val g = (mixIdSeg(id, f * 65536 + y * 256 + x) & 0xff).toInt
          img.setRGB(x, y, (g << 16) | (g << 8) | g)
          x += 1
        }
        y += 1
      }
      if (edit && f == 0) img.setRGB(0, 0, 0xFFFFFF)
      writer.writeToSequence(new javax.imageio.IIOImage(img, null, null),
        writer.getDefaultWriteParam)
      f += 1
    }
    writer.endWriteSequence()
    writer.dispose()
    ios.close()
    out.toByteArray
  }

  private[graft] val syntheticTexturedGifUdf =
    udf((id: Long) => syntheticTexturedGif(id))
  private[graft] val syntheticTexturedGifNearUdf =
    udf((id: Long) => syntheticTexturedGif(id, edit = true))

  /** A NEAR-duplicate of [[syntheticPng]]: identical except one corner
    * pixel forced to a fixed color — the "same image, one-pixel edit"
    * fixture for the perceptual-hash near-dup pipeline.
    */
  private[graft] def syntheticPngNear(id: Long, w: Int = 32, h: Int = 32)
      : Array[Byte] = {
    val img = ImageIO.read(new ByteArrayInputStream(syntheticPng(id, w, h)))
    img.setRGB(0, 0, 0xFFFFFF)
    val out = new ByteArrayOutputStream()
    ImageIO.write(img, "png", out)
    out.toByteArray
  }

  private[graft] val syntheticPngNearUdf =
    udf((id: Long) => syntheticPngNear(id))

  /** REAL audio decode: WAV/PCM samples → (sample rate, channel count,
    * sample frames, RMS amplitude, zero-crossing rate, 16-bin mean-|s|
    * envelope as a feature). Samples are normalized to [-1, 1);
    * multi-channel frames are averaged to one track before the stats.
    * Returns None when the payload is not decodable 16-bit PCM.
    */
  /** Decode a 16-bit PCM WAV payload to (sample rate, channel count,
    * normalized mono track) — per-frame channel average in [-1, 1].
    * None when the payload is not 16-bit signed PCM. Shared by the
    * stats decode (decodeWav) and the silence segmentation
    * (audioSegmentKernel).
    */
  private[graft] def wavTrack(bytes: Array[Byte])
      : Option[(Int, Int, Array[Double])] = {
    val in =
      try AudioSystem.getAudioInputStream(new ByteArrayInputStream(bytes))
      catch {
        case _: javax.sound.sampled.UnsupportedAudioFileException => null
        case _: java.io.IOException => null
      }
    if (in == null) None
    else {
      val fmt = in.getFormat
      if (fmt.getEncoding != AudioFormat.Encoding.PCM_SIGNED ||
          fmt.getSampleSizeInBits != 16) { in.close(); None }
      else {
        val raw = in.readAllBytes(); in.close()
        val ch = fmt.getChannels
        val n = raw.length / (2 * ch) // frames
        if (n == 0) None
        else {
          val big = fmt.isBigEndian
          // one normalized mono track: per-frame channel average
          val track = new Array[Double](n)
          var f = 0
          while (f < n) {
            var s = 0.0
            var c = 0
            while (c < ch) {
              val o = (f * ch + c) * 2
              val v =
                if (big) ((raw(o) << 8) | (raw(o + 1) & 0xff)).toShort
                else ((raw(o + 1) << 8) | (raw(o) & 0xff)).toShort
              s += v / 32768.0
              c += 1
            }
            track(f) = s / ch
            f += 1
          }
          Some((fmt.getSampleRate.toInt, ch, track))
        }
      }
    }
  }

  private[graft] def decodeWav(bytes: Array[Byte])
      : Option[(Int, Int, Int, Double, Double, Array[Float])] =
    wavTrack(bytes).map { case (rate, ch, track) =>
      val n = track.length
      var sq = 0.0; var crossings = 0L
      val bins = 16
      val env = new Array[Double](bins)
      val cnt = new Array[Long](bins)
      var i = 0
      while (i < n) {
        val v = track(i)
        sq += v * v
        if (i > 0 && (v >= 0) != (track(i - 1) >= 0)) crossings += 1
        val b = math.min(bins - 1, i * bins / n)
        env(b) += math.abs(v); cnt(b) += 1
        i += 1
      }
      val feat = Array.tabulate(bins)(b =>
        if (cnt(b) == 0) 0.0f else (env(b) / cnt(b)).toFloat)
      val zcr = if (n > 1) crossings.toDouble / (n - 1) else 0.0
      (rate, ch, n, math.sqrt(sq / n), zcr, feat)
    }

  /** REAL video (animated-GIF) decode: frames → (width, height, frame
    * count, mean luma across frames, 16-bin per-frame mean-luma envelope
    * as a feature). Frames map onto envelope bins by position, the same
    * binning the audio envelope uses over samples. Returns None when the
    * payload is not an ImageIO-readable multi-frame container.
    */
  private[graft] def decodeVideo(bytes: Array[Byte])
      : Option[(Int, Int, Int, Double, Array[Float])] =
    readVideoFrames(bytes).map { frames =>
      val n = frames.length
      val lumas = frames.map { img =>
        var s = 0.0
        var y = 0
        while (y < img.getHeight) {
          var x = 0
          while (x < img.getWidth) {
            val rgb = img.getRGB(x, y)
            s += 0.299 * ((rgb >> 16) & 0xff) +
              0.587 * ((rgb >> 8) & 0xff) + 0.114 * (rgb & 0xff)
            x += 1
          }
          y += 1
        }
        s / (img.getWidth.toLong * img.getHeight)
      }
      // resample the frame-luma sequence onto 16 bins: each bin averages
      // its frame range (≥ 1 frame, so short clips fill every bin)
      val bins = 16
      val feat = Array.tabulate(bins) { b =>
        val lo = b * n / bins
        val hi = math.max(lo + 1, (b + 1) * n / bins)
        (lumas.slice(lo, hi).sum / (hi - lo)).toFloat
      }
      (frames.head.getWidth, frames.head.getHeight, n, lumas.sum / n, feat)
    }

  /** All frames of an ImageIO-readable multi-frame payload (animated
    * GIF — the one video container the JDK decodes natively). None for
    * unreadable or zero-frame payloads.
    */
  private[graft] def readVideoFrames(bytes: Array[Byte])
      : Option[IndexedSeq[BufferedImage]] = {
    val iis =
      try ImageIO.createImageInputStream(new ByteArrayInputStream(bytes))
      catch { case _: java.io.IOException => null }
    if (iis == null) None
    else {
      val readers = ImageIO.getImageReaders(iis)
      if (!readers.hasNext) { iis.close(); None }
      else {
        val reader = readers.next()
        try {
          reader.setInput(iis)
          val n = reader.getNumImages(true)
          if (n <= 0) None
          else Some((0 until n).map(reader.read))
        } catch {
          case _: java.io.IOException => None
          case _: IndexOutOfBoundsException => None
        } finally {
          reader.dispose(); iis.close()
        }
      }
    }
  }

  /** Decode one asset. Byte stats (length/mean/FNV-1a checksum) are
    * always computed; `kind = image` additionally runs the REAL
    * javax.imageio pixel decode (feature = 4×4 grid-luma embedding),
    * `kind = audio` the REAL javax.sound.sampled WAV/PCM decode
    * (feature = 16-bin |amplitude| envelope), and `kind = video` the
    * REAL multi-frame GIF decode (feature = 16-bin frame-luma
    * envelope). Non-decodable payloads fall back to the STUB
    * featurization (mean of each length/16 byte stripe standing in for
    * decoded features) with `real_decode = false`.
    */
  private[graft] def decodeKernel(id: Long, kind: String,
      bytes: Array[Byte]): AssetFeatures = {
    var sum = 0L
    var crc = 1469598103934665603L // FNV-1a
    var i = 0
    while (i < bytes.length) {
      sum += bytes(i) & 0xff
      crc = (crc ^ (bytes(i) & 0xff)) * 1099511628211L
      i += 1
    }
    val meanByte =
      if (bytes.isEmpty) 0.0 else sum.toDouble / bytes.length
    val image = if (kind == "image") decodeImage(bytes) else None
    val audio = if (kind == "audio") decodeWav(bytes) else None
    val video = if (kind == "video") decodeVideo(bytes) else None
    (image, audio, video) match {
      case (Some((w, h, meanLuma, feat)), _, _) =>
        AssetFeatures(id, kind, bytes.length, meanByte, crc, feat,
          w, h, meanLuma, -1, -1, -1.0, -1, real_decode = true)
      case (_, Some((rate, _, n, rms, _, feat)), _) =>
        AssetFeatures(id, kind, bytes.length, meanByte, crc, feat,
          -1, -1, -1.0, rate, n, rms, -1, real_decode = true)
      case (_, _, Some((w, h, nf, meanLuma, feat))) =>
        AssetFeatures(id, kind, bytes.length, meanByte, crc, feat,
          w, h, meanLuma, -1, -1, -1.0, nf, real_decode = true)
      case _ =>
        val dim = 16
        val stripe = math.max(1, bytes.length / dim)
        val feat = Array.tabulate(dim) { j =>
          val from = j * stripe
          val until = math.min(bytes.length, from + stripe)
          if (from >= bytes.length) 0.0f
          else {
            var s = 0L; var k = from
            while (k < until) { s += bytes(k) & 0xff; k += 1 }
            (s.toDouble / (until - from)).toFloat
          }
        }
        AssetFeatures(id, kind, bytes.length, meanByte, crc, feat,
          -1, -1, -1.0, -1, -1, -1.0, -1, real_decode = false)
    }
  }

  /** Decode + feature-extract over asset batches: per-partition batched
    * iteration (the exact shape an Arrow-batched pandas UDF has —
    * batches of `batchSize` rows per call), narrow, no shuffle.
    */
  def decodeFeatures(assets: DataFrame, batchSize: Int = 64)
      : Dataset[AssetFeatures] = {
    val spark = assets.sparkSession
    import spark.implicits._
    assets.select(col("asset_id"), col("kind"), col("bytes"))
      .mapPartitions { rows: Iterator[Row] =>
        rows.grouped(batchSize).flatMap { batch =>
          // batch boundary = where a vectorized kernel would run once
          batch.iterator.map { r =>
            decodeKernel(r.getLong(0), r.getString(1),
              r.getAs[Array[Byte]](2))
          }
        }
      }
  }

  /** REAL image resize: decode, area-average rescale to newW×newH, and
    * re-encode as PNG — all JDK-native (javax.imageio + java.awt).
    * Returns None when the payload is not a decodable image.
    */
  private[graft] def resizeImage(bytes: Array[Byte], newW: Int, newH: Int)
      : Option[Array[Byte]] = {
    val img =
      try ImageIO.read(new ByteArrayInputStream(bytes))
      catch { case _: java.io.IOException => null }
    if (img == null) None
    else {
      val scaled = img.getScaledInstance(newW, newH,
        java.awt.Image.SCALE_AREA_AVERAGING)
      val out = new BufferedImage(newW, newH, BufferedImage.TYPE_INT_RGB)
      val g = out.createGraphics()
      g.drawImage(scaled, 0, 0, null)
      g.dispose()
      val baos = new ByteArrayOutputStream()
      ImageIO.write(out, "png", baos)
      Some(baos.toByteArray)
    }
  }

  /** Resize: images get the REAL javax.imageio decode→rescale→re-encode
    * path; non-decodable and non-image payloads get the STUB byte
    * subsample (every (w·h / newW·newH)-th byte — a stand-in for PCM
    * resample, which has no JDK codec). Returns the same asset schema
    * with updated metadata, so resize composes with decode/frameSample.
    */
  def resize(assets: DataFrame, newW: Int, newH: Int): DataFrame = {
    val spark = assets.sparkSession
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(assetSchema)
    assets.select("asset_id", "kind", "bytes", "meta").map { r =>
      val kind = r.getString(1)
      val bytes = r.getAs[Array[Byte]](2)
      val meta = r.getStruct(3)
      val out =
        (if (kind == "image") resizeImage(bytes, newW, newH) else None)
          .getOrElse {
            val w = meta.getInt(0); val h = meta.getInt(1)
            val step =
              math.max(1, (w.toLong * h / math.max(1, newW * newH)).toInt)
            bytes.grouped(step).map(_.head).toArray
          }
      Row(r.getLong(0), kind, out,
        Row(newW, newH, meta.getInt(2), meta.getInt(3)))
    }(enc)
  }

  /** Frame sampling: keep every `everyN`-th frame, one output row per
    * kept frame. Video payloads the JDK can decode (animated GIF) yield
    * REAL frames — each kept frame is pixel-decoded and re-encoded as a
    * standalone PNG, so downstream image operators (decode, resize)
    * compose directly on the output. Everything else falls back to the
    * STUB byte split (meta.n_frames equal chunks). Narrow either way —
    * per-partition decode, no shuffle.
    */
  def frameSample(assets: DataFrame, everyN: Int): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("asset_id", LongType, nullable = false),
      StructField("kind", StringType, nullable = false),
      StructField("frame_idx", IntegerType, nullable = false),
      StructField("frame", BinaryType, nullable = true)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(outSchema)
    assets
      .select(col("asset_id"), col("kind"), col("bytes"),
        col("meta.n_frames").as("nf"))
      .flatMap { r =>
        val id = r.getLong(0); val kind = r.getString(1)
        val bytes = r.getAs[Array[Byte]](2)
        val real =
          if (kind == "video") readVideoFrames(bytes) else None
        val frames: Seq[(Int, Array[Byte])] = real match {
          case Some(imgs) =>
            imgs.indices.filter(_ % everyN == 0).map { i =>
              val baos = new ByteArrayOutputStream()
              ImageIO.write(imgs(i), "png", baos)
              (i, baos.toByteArray)
            }
          case None =>
            val n = math.max(1, r.getInt(3))
            val size = math.max(1, bytes.length / n)
            (0 until n).filter(_ % everyN == 0).map { i =>
              (i, bytes.slice(i * size,
                math.min(bytes.length, i * size + size)))
            }
        }
        frames.map { case (i, b) => Row(id, kind, i, b) }
      }(enc)
  }

  // ----- SCENE CUTS ---------------------------------------------------

  /** Scene-change detection over a decodable multi-frame payload: per
    * frame a 4×4 grid of mean lumas (decodeImage's cells), then the
    * mean ABSOLUTE cell delta between consecutive frames; frame f is a
    * cut when its delta exceeds `threshold` luma levels. Cell-wise (not
    * whole-frame-mean) deltas so a content swap with equal average
    * brightness still registers. Returns (n_frames, cut frame indices,
    * max delta); None when the payload is not decodable video.
    */
  private[graft] def sceneCutKernel(bytes: Array[Byte], threshold: Double)
      : Option[(Int, Array[Int], Double)] =
    readVideoFrames(bytes).map { frames =>
      val grid = 4
      val grids = frames.map { img =>
        val w = img.getWidth; val h = img.getHeight
        val cellSum = new Array[Double](grid * grid)
        val cellN = new Array[Long](grid * grid)
        var y = 0
        while (y < h) {
          val cy = math.min(grid - 1, y * grid / h)
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            val c = cy * grid + math.min(grid - 1, x * grid / w)
            cellSum(c) += 0.299 * ((rgb >> 16) & 0xff) +
              0.587 * ((rgb >> 8) & 0xff) + 0.114 * (rgb & 0xff)
            cellN(c) += 1
            x += 1
          }
          y += 1
        }
        Array.tabulate(grid * grid)(i =>
          if (cellN(i) == 0) 0.0 else cellSum(i) / cellN(i))
      }
      val deltas = new Array[Double](math.max(0, frames.length - 1))
      var f = 1
      while (f < frames.length) {
        var s = 0.0; var i = 0
        while (i < grid * grid) {
          s += math.abs(grids(f)(i) - grids(f - 1)(i)); i += 1
        }
        deltas(f - 1) = s / (grid * grid)
        f += 1
      }
      val cuts = deltas.zipWithIndex.collect {
        case (dl, i) if dl > threshold => i + 1
      }
      (frames.length, cuts, if (deltas.isEmpty) 0.0 else deltas.max)
    }

  private def sceneCutUdf(threshold: Double) =
    udf((bytes: Array[Byte]) => sceneCutKernel(bytes, threshold))

  /** Scene-cut table: one row per video asset with frame count, cut
    * frame indices, and the largest inter-frame delta. Narrow
    * per-partition decode (the mm_decode_stats scale shape) — no
    * shuffle at all. The default threshold deliberately avoids
    * half-integer values: grid deltas of flat-band frames are exact
    * multiples of 0.5, and a threshold ON a representable delta would
    * make the > comparison hinge on double rounding.
    */
  def sceneCuts(assets: DataFrame, threshold: Double = 24.3): DataFrame =
    assets.filter(col("kind") === "video")
      .select(col("asset_id"),
        sceneCutUdf(threshold)(col("bytes")).as("sc"))
      .filter(col("sc").isNotNull)
      .select(col("asset_id"), col("sc._1").as("n_frames"),
        size(col("sc._2")).cast("long").as("n_cuts"),
        col("sc._2").as("cut_frames"),
        round(col("sc._3"), 6).as("max_delta"))

  // ----- AUDIO SILENCE SEGMENTATION -----------------------------------

  /** Silence segmentation: RMS per `win`-sample window of the decoded
    * mono track; a window below `silenceRms` is silent; segments are
    * maximal runs of non-silent windows (the units a speech pipeline
    * would ship to transcription). Returns (n_windows, n_silent,
    * n_segments, max window RMS); None when not 16-bit PCM.
    */
  private[graft] def audioSegmentKernel(bytes: Array[Byte], win: Int,
      silenceRms: Double): Option[(Int, Int, Int, Double)] =
    wavTrack(bytes).map { case (_, _, track) =>
      val nw = (track.length + win - 1) / win
      var silent = 0; var segments = 0; var maxRms = 0.0
      var inSeg = false
      var wi = 0
      while (wi < nw) {
        var sq = 0.0
        var i = wi * win
        val end = math.min(track.length, i + win)
        while (i < end) { sq += track(i) * track(i); i += 1 }
        val rms = math.sqrt(sq / (end - wi * win))
        if (rms > maxRms) maxRms = rms
        if (rms < silenceRms) { silent += 1; inSeg = false }
        else if (!inSeg) { segments += 1; inSeg = true }
        wi += 1
      }
      (nw, silent, segments, maxRms)
    }

  private def audioSegmentUdf(win: Int, silenceRms: Double) =
    udf((bytes: Array[Byte]) => audioSegmentKernel(bytes, win, silenceRms))

  /** Silence-segmentation table: one row per audio asset. Narrow
    * per-partition decode, no shuffle.
    */
  def audioSegments(assets: DataFrame, win: Int = 80,
      silenceRms: Double = 0.01): DataFrame =
    assets.filter(col("kind") === "audio")
      .select(col("asset_id"),
        audioSegmentUdf(win, silenceRms)(col("bytes")).as("ag"))
      .filter(col("ag").isNotNull)
      .select(col("asset_id"), col("ag._1").as("n_windows"),
        col("ag._2").as("n_silent"), col("ag._3").as("n_segments"),
        round(col("ag._4"), 6).as("max_rms"))
}
