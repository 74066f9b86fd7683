package graft

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream
import javax.imageio.ImageIO

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType

import graft.multimodal.Multimodal

class MultimodalSpec extends SparkSpec {

  lazy val assets = Multimodal.syntheticAssets(spark, sf)

  /** Encode a w×h image whose pixel (x,y) is `rgb(x, y)` as PNG bytes. */
  private def pngOf(w: Int, h: Int)(rgb: (Int, Int) => Int): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb(x, y))
    val out = new ByteArrayOutputStream()
    ImageIO.write(img, "png", out)
    out.toByteArray
  }

  test("synthetic assets conform to the canonical asset schema") {
    assert(assets.schema("bytes").dataType == BinaryType)
    // same field names/types (nullability differs: lit() is non-null)
    assert(assets.schema("meta").dataType.simpleString ==
      Multimodal.assetSchema("meta").dataType.simpleString)
    // image payloads are real PNGs, audio payloads real RIFF/WAVs,
    // video payloads real animated GIFs (magic bytes)
    val img = assets.filter(col("kind") === "image").head()
      .getAs[Array[Byte]]("bytes")
    assert((img(0) & 0xff) == 0x89 && img(1) == 'P' && img(2) == 'N' &&
      img(3) == 'G', "image payload must be a PNG")
    val wav = assets.filter(col("kind") === "audio").head()
      .getAs[Array[Byte]]("bytes")
    assert(wav(0) == 'R' && wav(1) == 'I' && wav(2) == 'F' &&
      wav(3) == 'F', "audio payload must be a WAV")
    val gif = assets.filter(col("kind") === "video").head()
      .getAs[Array[Byte]]("bytes")
    assert(gif(0) == 'G' && gif(1) == 'I' && gif(2) == 'F' &&
      gif(3) == '8', "video payload must be a GIF")
  }

  test("decodeFeatures is deterministic and narrow (no shuffle)") {
    val feats = Multimodal.decodeFeatures(assets)
    val plan = feats.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"decode pass must not shuffle:\n$plan")
    val a = feats.collect().sortBy(_.asset_id)
    val b = Multimodal.decodeFeatures(assets, batchSize = 7).collect()
      .sortBy(_.asset_id)
    assert(a.map(_.checksum).toSeq == b.map(_.checksum).toSeq,
      "batch size must not affect results")
    assert(a.forall(_.feature.length == 16))
    assert(a.forall(f => f.mean_byte > 0 && f.mean_byte < 256))
    // every image asset really pixel-decodes, every audio asset really
    // sample-decodes, and every video asset really frame-decodes with
    // the frame count its metadata promises
    assert(a.filter(_.kind == "image")
      .forall(f => f.real_decode && f.width == 32 && f.height == 32))
    assert(a.filter(_.kind == "audio")
      .forall(f => f.real_decode && f.sample_rate == 8000 &&
        f.n_samples == 800 && f.rms > 0))
    assert(a.filter(_.kind == "video")
      .forall(f => f.real_decode && f.width == 16 && f.height == 16 &&
        f.n_frames == (f.asset_id % 8 + 1).toInt))
  }

  test("image decode is real: known PNG pixels → known luma features") {
    // 4×4 PNG, left half black, right half white
    val png = pngOf(4, 4)((x, _) => if (x < 2) 0x000000 else 0xffffff)
    val f = Multimodal.decodeKernel(7L, "image", png)
    assert(f.real_decode && f.width == 4 && f.height == 4)
    // Rec.601 luma of pure white is exactly 255; mean over half/half
    assert(math.abs(f.mean_luma - 127.5) < 1e-9, s"mean_luma=${f.mean_luma}")
    // 4×4 grid: cell columns 0-1 black (0), 2-3 white (255)
    val expected = Array.tabulate(16)(i => if (i % 4 < 2) 0f else 255f)
    assert(f.feature.toSeq == expected.toSeq)
  }

  test("image decode matches the synthetic PNG generator pixel-for-pixel") {
    val id = 42L
    val f = Multimodal.decodeKernel(id, "image", Multimodal.syntheticPng(id))
    assert(f.real_decode && f.width == 32 && f.height == 32)
    // recompute expected mean luma straight from the generator formula
    var sum = 0.0
    for (y <- 0 until 32; x <- 0 until 32) {
      val r = (id * 31 + x * 7 + y * 13) & 0xff
      val g = (id * 17 + x * 11 + y * 5) & 0xff
      val b = (id * 23 + x * 3 + y * 19) & 0xff
      sum += 0.299 * r + 0.587 * g + 0.114 * b
    }
    assert(math.abs(f.mean_luma - sum / 1024) < 1e-9)
  }

  test("decode kernel: non-image payload falls back to byte-stats stub") {
    val f = Multimodal.decodeKernel(1L, "image", Array[Byte](0, 2, 4))
    assert(f.byte_len == 3 && f.mean_byte == 2.0)
    assert(!f.real_decode && f.width == -1 && f.mean_luma == -1.0)
  }

  /** Encode nSamples of mono 16-bit PCM (given as normalized doubles)
    * as WAV bytes via the same JDK writer production uses.
    */
  private def wavOf(sampleRate: Int, samples: Array[Double]): Array[Byte] = {
    val pcm = new Array[Byte](samples.length * 2)
    samples.zipWithIndex.foreach { case (s, i) =>
      val v = math.max(-32768, math.min(32767, math.round(s * 32768))).toInt
      pcm(2 * i) = (v & 0xff).toByte
      pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(sampleRate.toFloat, 16, 1,
      true, false)
    val in = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, samples.length.toLong)
    val out = new ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(in,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  test("audio decode is real: known waveform → known sample features") {
    // silence: rms and every envelope bin exactly 0
    val silent = Multimodal.decodeKernel(1L, "audio",
      wavOf(16000, Array.fill(320)(0.0)))
    assert(silent.real_decode && silent.sample_rate == 16000 &&
      silent.n_samples == 320)
    assert(silent.rms == 0.0 && silent.feature.forall(_ == 0.0f))
    // ±0.25 square wave, half-period 8: rms == 0.25 exactly, every
    // envelope bin == 0.25, zero-crossing every 8th sample
    val sq = Array.tabulate(320)(i => if ((i / 8) % 2 == 0) 0.25 else -0.25)
    val f = Multimodal.decodeKernel(2L, "audio", wavOf(8000, sq))
    assert(f.real_decode && f.sample_rate == 8000 && f.n_samples == 320)
    assert(math.abs(f.rms - 0.25) < 1e-4, s"rms=${f.rms}")
    assert(f.feature.forall(v => math.abs(v - 0.25f) < 1e-4))
  }

  test("audio decode matches the synthetic WAV generator sample-for-sample") {
    val id = 5L
    val f = Multimodal.decodeKernel(id, "audio", Multimodal.syntheticWav(id))
    assert(f.real_decode && f.sample_rate == 8000 && f.n_samples == 800)
    // recompute expected rms straight from the generator formula
    val amp = (8192 + (id % 3) * 4096) / 32768.0
    assert(math.abs(f.rms - amp) < 1e-4, s"rms=${f.rms} amp=$amp")
    assert(f.feature.forall(v => math.abs(v - amp) < 1e-4))
  }

  test("decode kernel: non-WAV audio payload falls back to byte-stats stub") {
    val f = Multimodal.decodeKernel(3L, "audio", Array[Byte](1, 3, 5, 7))
    assert(!f.real_decode && f.sample_rate == -1 && f.rms == -1.0)
  }

  test("video decode is real: known GIF frames → known luma features") {
    // id ≡ 1 (mod 8) ⇒ 2 frames; bands g1 = (37id + 11f) & 255,
    // g2 = (29id + 17f) & 255 — gray survives GIF palettization exactly
    val id = 9L
    val f = Multimodal.decodeKernel(id, "video", Multimodal.syntheticGif(id))
    assert(f.real_decode && f.width == 16 && f.height == 16 &&
      f.n_frames == 2)
    val lumas = (0 until 2).map { fr =>
      (((id * 37 + fr * 11) & 0xff) + ((id * 29 + fr * 17) & 0xff)) / 2.0
    }
    assert(math.abs(f.mean_luma - lumas.sum / 2) < 1e-9,
      s"mean_luma=${f.mean_luma} want=${lumas.sum / 2}")
    // 2 frames over 16 bins: bins 0-7 = frame 0, bins 8-15 = frame 1
    val expected = Array.tabulate(16)(b => lumas(b * 2 / 16).toFloat)
    assert(f.feature.toSeq == expected.toSeq)
  }

  test("video frame sampling extracts real frames as decodable PNGs") {
    import spark.implicits._
    val id = 12L // 5 frames
    val vid = Seq((id, "video", Multimodal.syntheticGif(id)))
      .toDF("asset_id", "kind", "bytes")
      .withColumn("meta", struct(lit(16).as("width"), lit(16).as("height"),
        lit(-1).as("sample_rate"), lit(5).as("n_frames")))
    val frames = Multimodal.frameSample(vid, 2).collect()
      .sortBy(_.getAs[Int]("frame_idx"))
    assert(frames.map(_.getAs[Int]("frame_idx")).toSeq == Seq(0, 2, 4))
    // each kept frame is a standalone PNG whose mean luma matches the
    // generator formula for THAT frame — frames compose with decode
    frames.foreach { r =>
      val fr = r.getAs[Int]("frame_idx")
      val d = Multimodal.decodeKernel(id, "image",
        r.getAs[Array[Byte]]("frame"))
      assert(d.real_decode && d.width == 16 && d.height == 16)
      val want = (((id * 37 + fr * 11) & 0xff) +
        ((id * 29 + fr * 17) & 0xff)) / 2.0
      assert(math.abs(d.mean_luma - want) < 1e-9,
        s"frame $fr luma ${d.mean_luma} want $want")
    }
  }

  test("frameSample keeps every Nth frame with correct payload split") {
    val frames = Multimodal.frameSample(assets, 2)
    val byAsset = frames.groupBy("asset_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = assets.select(col("asset_id"), col("meta.n_frames"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1) + 1) / 2).toLong)
      .toMap
    assert(byAsset == expected)
    // frame indices are the even ones
    val idx = frames.select("frame_idx").distinct().collect()
      .map(_.getInt(0)).toSet
    assert(idx.forall(_ % 2 == 0))
  }

  test("resize shrinks payload and rewrites metadata") {
    val out = Multimodal.resize(assets, 8, 8)
    val r = out.head()
    assert(r.getStruct(3).getInt(0) == 8 && r.getStruct(3).getInt(1) == 8)
    assert(r.getAs[Array[Byte]](2).length < 1024)
    // composes: decode runs on resized assets
    assert(Multimodal.decodeFeatures(out).count() == assets.count())
  }

  test("image resize is a real rescale: resized PNG decodes at new dims") {
    // uniform mid-gray image: area-average resize must preserve the level
    val png = pngOf(16, 16)((_, _) => 0x808080)
    val resized = Multimodal.resizeImage(png, 4, 4)
    assert(resized.isDefined)
    val f = Multimodal.decodeKernel(9L, "image", resized.get)
    assert(f.real_decode && f.width == 4 && f.height == 4)
    assert(math.abs(f.mean_luma - 128.0) < 0.5, s"mean_luma=${f.mean_luma}")
    // resized image assets in the pipeline keep decoding for real
    val outFeats = Multimodal
      .decodeFeatures(Multimodal.resize(assets, 8, 8))
      .filter(_.kind == "image").collect()
    assert(outFeats.nonEmpty &&
      outFeats.forall(f => f.real_decode && f.width == 8 && f.height == 8))
  }

  test("metadata-only query prunes the bytes column from the scan") {
    val metaOnly = assets.select("asset_id", "kind", "meta.n_frames")
    assert(metaOnly.count() > 0)
  }

  test("binaryFile ingest: real PNG files on disk decode end-to-end") {
    val dir = java.nio.file.Files.createTempDirectory("graft-assets")
    try {
      (1L to 3L).foreach { id =>
        java.nio.file.Files.write(dir.resolve(s"img_$id.png"),
          Multimodal.syntheticPng(id))
      }
      java.nio.file.Files.write(dir.resolve("clip.wav"),
        Multimodal.syntheticWav(4L))
      java.nio.file.Files.write(dir.resolve("noise.wav"),
        Array.fill[Byte](64)(7))
      val ingested = Multimodal.readAssets(spark, dir.toString)
      assert(ingested.schema.fieldNames.toSeq ==
        Seq("asset_id", "kind", "bytes", "meta"))
      val feats = Multimodal.decodeFeatures(ingested).collect()
      assert(feats.length == 5)
      val images = feats.filter(_.kind == "image")
      assert(images.length == 3 &&
        images.forall(f => f.real_decode && f.width == 32 && f.height == 32))
      // the real WAV decodes; the garbage .wav falls back to the stub
      val audio = feats.filter(_.kind == "audio")
      assert(audio.count(f => f.real_decode && f.sample_rate == 8000) == 1)
      assert(audio.count(!_.real_decode) == 1)
      // ids are path-derived and thus stable across re-reads
      val again = Multimodal.readAssets(spark, dir.toString)
        .select("asset_id").collect().map(_.getLong(0)).toSet
      assert(again == feats.map(_.asset_id).toSet)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("dHash: one-pixel edit stays within hamming 6, distinct images far") {
    val base = Multimodal.imageDHash(Multimodal.syntheticPng(7L)).get
    // identical bytes → identical hash
    assert(Multimodal.imageDHash(Multimodal.syntheticPng(7L)).get == base)
    // one-pixel edit → tiny hamming distance
    val near = Multimodal.imageDHash(Multimodal.syntheticPngNear(7L)).get
    assert(java.lang.Long.bitCount(base ^ near) <= 6,
      s"near twin drifted ${java.lang.Long.bitCount(base ^ near)} bits")
    // a different synthetic image → far (unrelated gradient signs)
    val other = Multimodal.imageDHash(Multimodal.syntheticPng(8L)).get
    assert(java.lang.Long.bitCount(base ^ other) > 6)
    // non-image bytes → None
    assert(Multimodal.imageDHash(Array[Byte](1, 2, 3)).isEmpty)
  }

  test("image near-dup: exactly the one-pixel twins among noise images") {
    import spark.implicits._
    // 10 unrelated noise images (hash-scrambled pixels → iid gradient
    // signs, so cross-image hamming ~32) + one-pixel twins for 3
    def noise(id: Long): Array[Byte] = pngOf(32, 32) { (x, y) =>
      val h = scala.util.hashing.MurmurHash3
        .productHash((id, x, y)) & 0xFFFFFF
      h
    }
    def onePixelEdit(b: Array[Byte]): Array[Byte] = {
      val img = ImageIO.read(new java.io.ByteArrayInputStream(b))
      img.setRGB(0, 0, 0xFFFFFF)
      val out = new ByteArrayOutputStream()
      ImageIO.write(img, "png", out)
      out.toByteArray
    }
    val base = (1L to 10L).map(i => (i, noise(i)))
    val twins = Seq(1L, 4L, 7L).map(i => (i + 100L, onePixelEdit(noise(i))))
    val sigs = (base ++ twins).toDF("doc_id", "bytes")
      .select(col("doc_id"), Multimodal.imageDHashUdf(col("bytes")).as("sig"))
    val got = queries.DedupQueries.hammingBandPairs(sigs, 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 101L), (4L, 104L), (7L, 107L)),
      s"expected exactly the planted twins, got $got")
  }

  test("scene cuts match the synthetic GIF's luma formula exactly") {
    val threshold = 24.3
    (1L to 16L).filter(_ % 8 >= 1).foreach { id => // ≥ 2 frames
      val n = (id % 8 + 1).toInt
      def g1(f: Int) = ((id * 37 + f * 11) & 0xff).toDouble
      def g2(f: Int) = ((id * 29 + f * 17) & 0xff).toDouble
      // two equal-width flat bands → mean |cell delta| is the band mean
      val deltas = (1 until n).map(f =>
        (math.abs(g1(f) - g1(f - 1)) + math.abs(g2(f) - g2(f - 1))) / 2)
      val want = deltas.zipWithIndex.collect {
        case (dl, i) if dl > threshold => i + 1
      }
      val Some((nf, cuts, maxd)) =
        Multimodal.sceneCutKernel(Multimodal.syntheticGif(id), threshold)
      assert(nf == n, s"id=$id")
      assert(cuts.toSeq == want, s"id=$id: got ${cuts.toSeq}, want $want")
      assert(math.abs(maxd - deltas.max) < 1e-9, s"id=$id")
    }
  }

  test("single-frame video has no cuts and zero max delta") {
    val Some((nf, cuts, maxd)) =
      Multimodal.sceneCutKernel(Multimodal.syntheticGif(8L), 24.3) // 8%8+1=1
    assert(nf == 1 && cuts.isEmpty && maxd == 0.0)
  }

  test("audio segmentation: planted silent spans → exact counts") {
    // 10 windows of 80 samples; windows 2,3,4 and 8 zeroed
    val samples = Array.tabulate(800) { i =>
      if ((i >= 160 && i < 400) || (i >= 640 && i < 720)) 0.0
      else if ((i / 8) % 2 == 0) 0.5 else -0.5
    }
    val Some((nw, silent, segs, maxRms)) =
      Multimodal.audioSegmentKernel(wavOf(8000, samples), 80, 0.01)
    assert(nw == 10)
    assert(silent == 4, s"silent=$silent")
    assert(segs == 3, s"segments=$segs") // windows 0-1, 5-7, 9
    assert(math.abs(maxRms - 0.5) < 1e-3)
  }

  test("scene-cut and audio-segment queries cover every asset of their kind") {
    val sc = queries.MultimodalQueries.queries("mm_scene_cuts")(spark, sf)
      .collect()
    assert(sc.length == assets.filter(col("kind") === "video").count())
    val ag = queries.MultimodalQueries.queries("mm_audio_segments")(spark, sf)
      .collect()
    assert(ag.length == assets.filter(col("kind") === "audio").count())
    // synthetic WAVs are constant-amplitude square waves: no silence,
    // exactly one segment each
    ag.foreach { r =>
      assert(r.getInt(2) == 0 && r.getInt(3) == 1, r.toString)
    }
  }

  test("image near-dup query catches every planted corpus twin") {
    val got = queries.MultimodalQueries.queries("mm_image_neardup")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val off = queries.MultimodalQueries.NearDupIdOffset
    val planted = assets.filter(col("kind") === "image")
      .filter(pmod(col("asset_id"), lit(10)) === 0)
      .select("asset_id").collect().map(_.getLong(0)).toSet
    assert(planted.nonEmpty)
    val pairs = got.map(p => (p._1, p._2)).toSet
    // every planted twin is caught (the synthetic corpus's linear
    // gradient patterns also yield some true structural near-dups —
    // legitimate dHash hits, so the result is a superset)
    planted.foreach { id =>
      assert(pairs((id, id + off)), s"missed planted twin of $id")
    }
    got.foreach { case (_, _, hm) => assert(hm <= 6) }
  }

  test("audio contour hash is gain-invariant and id-discriminating") {
    (1L to 8L).foreach { id =>
      val full = Multimodal.audioContourHash(
        Multimodal.syntheticMelodyWav(id)).get
      val quiet = Multimodal.audioContourHash(
        Multimodal.syntheticMelodyWav(id, ampScale = 0.6)).get
      assert(full == quiet, s"gain changed the contour for id $id")
    }
    // unrelated melodies: far apart in hamming space
    val sigs = (1L to 8L).map(id =>
      Multimodal.audioContourHash(Multimodal.syntheticMelodyWav(id)).get)
    for (i <- sigs.indices; j <- sigs.indices if i < j) {
      val hm = java.lang.Long.bitCount(sigs(i) ^ sigs(j))
      assert(hm > 10, s"melodies $i/$j too close: hamming $hm")
    }
  }

  test("video content hash separates edits from unrelated clips") {
    (1L to 6L).foreach { id =>
      val full = Multimodal.videoContentHash(
        Multimodal.syntheticTexturedGif(id)).get
      val edited = Multimodal.videoContentHash(
        Multimodal.syntheticTexturedGif(id, edit = true)).get
      assert(java.lang.Long.bitCount(full ^ edited) <= 4,
        s"one-frame edit moved id $id too far")
    }
    val sigs = (1L to 6L).map(id =>
      Multimodal.videoContentHash(Multimodal.syntheticTexturedGif(id)).get)
    for (i <- sigs.indices; j <- sigs.indices if i < j) {
      val hm = java.lang.Long.bitCount(sigs(i) ^ sigs(j))
      assert(hm > 10, s"clips $i/$j too close: hamming $hm")
    }
  }

  test("video near-dup query catches exactly the planted clip twins") {
    val got = queries.MultimodalQueries.queries("mm_video_neardup")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val off = queries.MultimodalQueries.NearDupIdOffset
    val planted = assets.filter(col("kind") === "video")
      .filter(pmod(col("asset_id"), lit(10)) === 2)
      .select("asset_id").collect().map(_.getLong(0)).toSet
    assert(planted.nonEmpty)
    assert(got.map(p => (p._1, p._2)).toSet ==
      planted.map(id => (id, id + off)))
    got.foreach { case (_, _, hm) => assert(hm <= 4) }
  }

  test("audio near-dup query catches exactly the planted melody twins") {
    val got = queries.MultimodalQueries.queries("mm_audio_neardup")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val off = queries.MultimodalQueries.NearDupIdOffset
    val planted = assets.filter(col("kind") === "audio")
      .filter(pmod(col("asset_id"), lit(10)) === 1)
      .select("asset_id").collect().map(_.getLong(0)).toSet
    assert(planted.nonEmpty)
    // amplitude-rescaled twins land at hamming 0; pseudo-random
    // contours make accidental ≤4-hamming pairs essentially impossible,
    // so unlike the image case this is an EXACT match
    assert(got.map(p => (p._1, p._2)).toSet ==
      planted.map(id => (id, id + off)))
    got.foreach { case (_, _, hm) => assert(hm == 0) }
  }

  test("AssetCache pins once per (session, dir) and evict unpersists") {
    import graft.queries.AssetCache
    val a = AssetCache.assets(spark, sf)
    a.count()
    assert(a.storageLevel.useMemory || a.storageLevel.useDisk,
      "cache entry should be persisted after use")
    // hit path returns the SAME pinned plan (no re-synthesis)
    assert(AssetCache.assets(spark, sf) eq a,
      "second lookup must be a cache hit")
    AssetCache.cache.evict(spark, sf)
    assert(a.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "evict must unpersist the asset table")
    // repopulate for any later suite that relies on the cache
    AssetCache.assets(spark, sf).count()
  }
}
