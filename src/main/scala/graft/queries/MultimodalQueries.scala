package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal

/** Multimodal pipeline surfaced as queries (rows-only driver check —
  * all three decode paths are REAL and JDK-native: image via
  * javax.imageio pixel decode, audio via javax.sound.sampled WAV/PCM
  * decode, video via multi-frame GIF decode with actual frame
  * extraction. None is SQL-expressible, so MultimodalSpec pins the
  * semantics against known payloads).
  */
object MultimodalQueries {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // decode/feature-extract pass: per-kind feature statistics. For
    // every kind n_decoded == n_assets (real pixel / sample / frame
    // decode); luma and rms stats are -1 sentinels for the kinds the
    // respective decoder doesn't apply to.
    "mm_decode_stats" -> ((s, d) => {
      Multimodal.decodeFeatures(AssetCache.assets(s, d))
        .toDF()
        .groupBy(col("kind"))
        .agg(count(lit(1)).as("n_assets"),
          sum(col("byte_len")).as("total_bytes"),
          round(avg(col("mean_byte")), 6).as("avg_mean_byte"),
          round(avg(col("mean_luma")), 6).as("avg_mean_luma"),
          round(avg(col("rms")), 6).as("avg_rms"),
          sum(when(col("real_decode"), 1L).otherwise(0L)).as("n_decoded"))
    }),
    // oracle-checked decode fixture (see `oracle` below): committed
    // PNG/WAV/GIF with designed content, decoded through the SAME
    // production kernels (decodeFeatures), scalar features compared
    // hash-exact against the independently computed expected.json.
    // Keyed by file NAME (not path hash) so the row set is stable
    // across checkouts.
    "mm_fixture_features" -> ((s, _) => {
      val raw = s.read.format("binaryFile").load(fixtureDir)
        .select(regexp_extract(col("path"), "([^/]+)$", 1).as("name"),
          col("content").as("bytes"))
        .withColumn("kind",
          when(col("name").endsWith(".png"), "image")
            .when(col("name").endsWith(".wav"), "audio")
            .otherwise("video"))
        .withColumn("asset_id", xxhash64(col("name")))
      val feats = Multimodal.decodeFeatures(
        raw.select(col("asset_id"), col("kind"), col("bytes"))).toDF()
      raw.select(col("name"), col("asset_id")).join(feats, "asset_id")
        .select(col("name"), col("kind").as("kind"),
          col("byte_len").cast("long").as("byte_len"),
          round(col("mean_byte"), 6).as("mean_byte"),
          col("checksum"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          round(col("mean_luma"), 6).as("mean_luma"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("n_samples").cast("long").as("n_samples"),
          round(col("rms"), 6).as("rms"),
          col("n_frames").cast("long").as("n_frames"),
          col("real_decode"))
    }),

    // frame-sampling pass: kept-frame counts per kind
    "mm_frame_sample" -> ((s, d) =>
      Multimodal.frameSample(AssetCache.assets(s, d), 2)
        .groupBy(col("kind"))
        .agg(count(lit(1)).as("n_frames"),
          sum(length(col("frame"))).as("frame_bytes"))),

    // Image near-dup: perceptual dHash (9×8 grid-luma difference bits
    // over REAL decoded pixels) + the SimHash family's hamming-band
    // machinery — the standard image-dedup pass, composing the
    // multimodal and dedup families. Every 10th image gains a
    // deterministic one-pixel-edited twin (id + NearDupIdOffset), so
    // the pipeline demonstrably catches planted near-dups on driver
    // data while unrelated images (hamming ~32) stay apart. Scale
    // shape: decode is narrow per-partition CPU work; the pair search
    // is ONE shuffle on (band, byte) buckets — never all-pairs.
    "mm_image_neardup" -> ((s, d) => {
      val imgs = AssetCache.assets(s, d)
        .filter(col("kind") === "image")
      val planted = imgs.filter(pmod(col("asset_id"), lit(10)) === 0)
        .select((col("asset_id") + lit(NearDupIdOffset)).as("asset_id"),
          Multimodal.syntheticPngNearUdf(col("asset_id")).as("bytes"))
      val sigs = imgs.select(col("asset_id"), col("bytes"))
        .unionByName(planted)
        .select(col("asset_id").as("doc_id"),
          Multimodal.imageDHashUdf(col("bytes")).as("sig"))
        .filter(col("sig").isNotNull)
      DedupQueries.hammingBandPairs(sigs, maxHamming = 6)
        .select(col("doc_a").as("asset_a"), col("doc_b").as("asset_b"),
          col("hamming"))
    }),

    // Audio near-dup: 64-bit pitch-contour fingerprint (zero-crossing
    // dHash over the REAL PCM decode — gain-invariant) + the same
    // hamming-band bucket join the image/SimHash families use. Audio
    // assets get id-seeded "melody" payloads; every 10th gains an
    // amplitude-rescaled twin (id + NearDupIdOffset) that must land at
    // hamming 0 while unrelated melodies sit near 32. One shuffle on
    // (band, byte) buckets — never all-pairs; decode is narrow.
    "mm_audio_neardup" -> ((s, d) => {
      val ids = AssetCache.assets(s, d)
        .filter(col("kind") === "audio")
        .select(col("asset_id"))
      val originals = ids
        .select(col("asset_id"),
          Multimodal.syntheticMelodyWavUdf(col("asset_id")).as("bytes"))
      val planted = ids.filter(pmod(col("asset_id"), lit(10)) === 1)
        .select((col("asset_id") + lit(NearDupIdOffset)).as("asset_id"),
          Multimodal.syntheticMelodyWavNearUdf(col("asset_id")).as("bytes"))
      val sigs = originals.unionByName(planted)
        .select(col("asset_id").as("doc_id"),
          Multimodal.audioContourHashUdf(col("bytes")).as("sig"))
        .filter(col("sig").isNotNull)
      DedupQueries.hammingBandPairs(sigs, maxHamming = 4)
        .select(col("doc_a").as("asset_a"), col("doc_b").as("asset_b"),
          col("hamming"))
    }),

    // Video near-dup: per-frame dHash over the REAL multi-frame decode,
    // majority-folded into one 64-bit clip signature, then the shared
    // hamming-band bucket join — completing the image/audio/video
    // near-dup triad. Clip payloads are id-seeded TEXTURED GIFs (the
    // flat two-band frames of the decode-stats fixtures carry too
    // little gradient entropy to fingerprint); every 10th clip gains a
    // one-frame-edited twin that must land within hamming 4 while
    // unrelated clips sit near 32.
    "mm_video_neardup" -> ((s, d) => {
      val ids = AssetCache.assets(s, d)
        .filter(col("kind") === "video")
        .select(col("asset_id"))
      val originals = ids
        .select(col("asset_id"),
          Multimodal.syntheticTexturedGifUdf(col("asset_id")).as("bytes"))
      val planted = ids.filter(pmod(col("asset_id"), lit(10)) === 2)
        .select((col("asset_id") + lit(NearDupIdOffset)).as("asset_id"),
          Multimodal.syntheticTexturedGifNearUdf(col("asset_id"))
            .as("bytes"))
      val sigs = originals.unionByName(planted)
        .select(col("asset_id").as("doc_id"),
          Multimodal.videoContentHashUdf(col("bytes")).as("sig"))
        .filter(col("sig").isNotNull)
      DedupQueries.hammingBandPairs(sigs, maxHamming = 4)
        .select(col("doc_a").as("asset_a"), col("doc_b").as("asset_b"),
          col("hamming"))
    }),

    // Video scene-change detection: per-frame 4×4 grid lumas over the
    // REAL multi-frame decode, cuts where the mean absolute cell delta
    // exceeds the threshold. Narrow per-partition decode, no shuffle;
    // MultimodalSpec replays the synthetic GIF's luma formula to pin
    // the exact cut indices.
    "mm_scene_cuts" -> ((s, d) =>
      Multimodal.sceneCuts(AssetCache.assets(s, d))
        .drop("cut_frames")),

    // Audio silence segmentation: per-80-sample-window RMS over the
    // REAL PCM decode; segments are maximal non-silent runs. Narrow,
    // no shuffle; MultimodalSpec pins exact window/segment counts on a
    // WAV with planted silent spans.
    "mm_audio_segments" -> ((s, d) =>
      Multimodal.audioSegments(AssetCache.assets(s, d)))
  )

  /** Planted near-dup twins carry asset_id + this offset. */
  val NearDupIdOffset = 10000000L

  /** Committed decode fixtures (round-10 verdict item 9): tiny PNG /
    * WAV / animated-GIF payloads with DESIGNED pixel/sample content
    * under `fixtures/mm/assets`, generated once by
    * `tools/make_mm_fixtures.py` alongside `expected.json` — feature
    * values computed by an INDEPENDENT stdlib-Python implementation of
    * the same accumulation loops. The fixtures root is resolved from
    * `-Dgraft.repo.root` / `$GRAFT_REPO_ROOT` when set (any clone
    * location, any cwd), else repo-root-relative against the cwd —
    * which is where sbt forks Verify/test JVMs. No machine-specific
    * absolute path is baked into the library.
    */
  private def repoRootCandidates: Seq[java.io.File] =
    (sys.props.get("graft.repo.root").toSeq ++
      sys.env.get("GRAFT_REPO_ROOT").toSeq :+ ".")
      .map(new java.io.File(_))

  private[graft] def fixtureDir: String =
    repoRootCandidates.map(new java.io.File(_, "fixtures/mm/assets"))
      .find(_.isDirectory)
      .getOrElse(sys.error("fixtures/mm/assets not found; set " +
        "GRAFT_REPO_ROOT (or -Dgraft.repo.root) to the checkout root, " +
        "or run from it; generate with tools/make_mm_fixtures.py"))
      .getAbsolutePath

  def oracle: Map[String, String] = Map(
    // the poor-man's decode oracle: DuckDB reads the committed
    // expected-feature JSON; Spark decodes the committed binaries
    // through the production kernels. A JDK decode regression (or a
    // luma-weight typo) now fails CORRECTNESS, not just ScalaTest.
    // The JSON path is resolved to an absolute path AT DUMP TIME
    // (Verify's cwd = the repo root of whatever checkout produced the
    // dump), so the SQL works from any clone location AND from a
    // DuckDB process with a different cwd — a hardcoded checkout path
    // would break other clones, a relative one would break the driver.
    "mm_fixture_features" ->
      s"""SELECT name, kind, CAST(byte_len AS BIGINT) AS byte_len,
        |  CAST(mean_byte AS DOUBLE) AS mean_byte,
        |  CAST(checksum AS BIGINT) AS checksum,
        |  CAST(width AS BIGINT) AS width,
        |  CAST(height AS BIGINT) AS height,
        |  CAST(mean_luma AS DOUBLE) AS mean_luma,
        |  CAST(sample_rate AS BIGINT) AS sample_rate,
        |  CAST(n_samples AS BIGINT) AS n_samples,
        |  CAST(rms AS DOUBLE) AS rms,
        |  CAST(n_frames AS BIGINT) AS n_frames, real_decode
        |FROM read_json_auto('$expectedJsonPath')"""
        .stripMargin)

  /** Absolute path of the expected-feature JSON, resolved against the
    * same repo-root candidates as [[fixtureDir]].
    */
  private def expectedJsonPath: String =
    repoRootCandidates.map(new java.io.File(_, "fixtures/mm/expected.json"))
      .find(_.isFile)
      .map(_.getAbsolutePath)
      .getOrElse("fixtures/mm/expected.json")
}

/** Session-pinned synthetic asset table — the shared input of the seven
  * `mm_*` synthetic entries. The cost of `syntheticAssets` is the
  * per-row ENCODE UDFs (ImageIO PNG write / WAV frame pack / per-frame
  * GIF write), measured ~1.5 s/pass at sf0.1 (OPTIMIZATION_r13.md,
  * "Retired dev probes") against a 9.5 MB pinned footprint; five of
  * the seven consumers read the bytes column (decode_stats,
  * frame_sample, image_neardup, scene_cuts, audio_segments — the two
  * remaining near-dup entries prune to asset_id and re-synthesize
  * their own payload variants), so the
  * bench's 2-runs-per-entry sweep makes ≥10 encode passes without the
  * pin — beyond the measured ~8-pass threshold (graft-build-discipline).
  *
  * Only the SYNTHETIC stand-in is pinned: `Multimodal.readAssets` (the
  * real binary-file ingest — at 100 TB the bytes stream through
  * executors and nothing is collected or pinned) is untouched; this
  * cache exists because the stand-in's encode UDFs are compute, not
  * scan, cost. Lifecycle: [[graft.SessionCache]].
  */
private[graft] object AssetCache {

  import org.apache.spark.storage.StorageLevel

  private[graft] val cache =
    new graft.SessionCache[Unit, DataFrame](_.unpersist())

  def assets(s: SparkSession, d: String): DataFrame =
    cache(s, d, ()) {
      Multimodal.syntheticAssets(s, d)
        .persist(StorageLevel.MEMORY_AND_DISK)
    }
}
