package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.functions.sketches._
import graft.functions.vectors._

/** Deduplication operators over `documents` / `embeddings` (SURVEY.md
  * §2.11 [EXT]): the LLM-data-pipeline surface. Five strategies:
  *
  *  - q20 exact:        sha2(text) grouping — one shuffle on the hash.
  *  - q21 MinHash+LSH:  shingle → 64 minhashes (double-hash derived) →
  *                      16 bands × 4 rows → band-bucket equi-join →
  *                      exact-Jaccard verify.
  *  - dedup_simhash:    64-bit sign-of-sum signature → 8-byte pigeonhole
  *                      bands (lossless for hamming ≤ 7, heuristic above)
  *                      → hamming ≤ 15 → exact-Jaccard verify. SimHash on
  *                      ~100-feature docs is noisy (a J≈0.97 pair can
  *                      land at hamming 16+), so this op is approximate
  *                      by nature: driver records rows-only; DedupSpec
  *                      pins precision=1 (output ⊆ exact pairs) and
  *                      recall ≥ 0.8 against q23.
  *  - dedup_simhash_w:  idf-weighted simhash (w = ln(1+N/df)) — same
  *                      banding tail, recall pinned ≥ 0.9.
  *  - q23 n-gram Jaccard: EXACT similarity join via inverted shingle
  *                      index (explode + self-equi-join + count), never
  *                      an all-pairs cross join.
  *  - q24 embedding cosine near-dup: exact pair join sharded by a
  *                      block-grid equi-join (codegen'd VectorCosine
  *                      kernel); the candidate-pruned scale path is
  *                      sim_ann_lsh (SimilarityQueries).
  *
  * q21 and q23 emit the same result set — pairs with true 3-gram shingle
  * Jaccard ≥ 0.5 — so the LSH strategy is verified against the exact one
  * by the driver's oracle AND against it in DedupSpec. LSH params (64
  * hashes, 16 bands × 4 rows) put miss probability at the observed
  * near-dup grade (J ≥ 0.9) around 4e-8.
  *
  * Scale notes (100 TB): every join here is an equi-join on a hash/band
  * key — shuffle-partitionable, no driver collection. The inverted-index
  * join's skew risk is hot shingles, bounded by the stop-shingle
  * frequency cap (ShingleFreqCap); q21's LSH is the fallback route.
  */
object DedupQueries {

  private val NumHashes = 64
  private val Bands = 16
  private val RowsPerBand = NumHashes / Bands
  private val JaccardThreshold = 0.5

  /** Stop-shingle document-frequency cap for the inverted-index join: a
    * shingle appearing in f docs contributes f(f-1)/2 join rows, so one
    * stop-shingle turns the equi-join quadratic in its frequency. Capping
    * df bounds the worst case at cap²/2 rows per shingle. The default sits
    * far above any df in the test corpora (max observed ≈ dup-cluster
    * size, < 40), so test output is byte-identical to the uncapped join;
    * at a real corpus scale the cap drops pairs whose ONLY shared
    * shingles are stop-shingles — pairs at J ≥ 0.5 still surface unless
    * more than half their shingles are corpus-stop-shingles.
    */
  private[graft] val ShingleFreqCap = 1000

  /** doc_id + distinct 3-gram word shingles; docs with < 3 tokens carry no
    * shingles and are excluded (both engines, see oracle). Session-cached
    * (ShingleCache) — the whole dedup family derives from this frame.
    */
  private[queries] def shingles(s: SparkSession, d: String): DataFrame =
    ShingleCache.arrays(s, d)

  /** (doc_id, h): exploded 64-bit shingle hashes — the shared input of
    * q21 / q23 / dedup_keep_min / dedup_simhash. Session-cached.
    */
  private def hashedShingles(s: SparkSession, d: String): DataFrame =
    ShingleCache.hashed(s, d)

  /** Within-bucket candidate-pair generation: group rows on the bucket
    * key, sort the member ids, explode the ordered combinations
    * (doc_a < doc_b by sort order). This REPLACES a bucket-key self-join:
    * one shuffle instead of two plus a join, and the (possibly expensive)
    * subtree below it is computed exactly once BY CONSTRUCTION — measured
    * on Spark 4.1, AQE does not reuse exchanges above a cached
    * InMemoryRelation (TableCacheQueryStage breaks stage-cache equality),
    * so the symmetric self-join formulation really ran its input twice.
    * Bucket membership is bounded by design (LSH buckets ≈ dup-cluster
    * size; shingle buckets ≤ ShingleFreqCap), so the collected member
    * list stays small.
    */
  private[graft] def bucketPairs(df: DataFrame, bucketKeys: Seq[String],
      idCol: String): DataFrame =
    df.groupBy(bucketKeys.map(col): _*)
      .agg(sort_array(collect_list(col(idCol))).as("ds"))
      .filter(size(col("ds")) >= 2)
      .select(explode(expr(
        """flatten(transform(ds, (a, i) ->
          |  transform(slice(ds, i + 2, size(ds)),
          |            b -> struct(a AS doc_a, b AS doc_b))))""".stripMargin))
        .as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))

  /** Exact-Jaccard verification of candidate pairs: join back the
    * per-doc SORTED 64-bit shingle hashes and keep pairs at/above the
    * threshold. The intersection is a codegen merge walk
    * ([[graft.functions.SortedIntersectCount]]) over long arrays —
    * `array_intersect` on the string arrays built a hash set and
    * re-hashed every shingle string per CANDIDATE (measured: the
    * dominant stage of the dup-saturated prefix-join smoke), and the
    * long arrays also shuffle ~3× narrower. Counting common shingles by
    * 64-bit-hash equality is the same identity q23's inverted index is
    * oracle-green under (distinct-per-doc xxhash64; a collision would
    * need ~2³² shingles per doc to matter).
    */
  /** The CONNECTIVITY pair graph for components/cluster profiling
    * (PairCache's builder) — round-10 verdict item 3. The full q23
    * common-count join explodes Σ_s C(df_s, 2) candidate rows, which on
    * a dup-saturated corpus is quadratic in cluster size (and on a
    * small-vocabulary corpus quadratic in hot-shingle df) — 52 s of the
    * 60 s q277 smoke, the first plan to fall over at 100×. Two exact
    * stages replace it, EXACT BY COMPOSITION OF TWO THEOREMS:
    *
    *  1. EXACT-DUP COLLAPSE. Group eligible docs (≥ 3 tokens, the
    *     ShingleCache criterion) by sha2(text); rep = min doc_id.
    *     (rep, member) star edges join each clique at J = 1 exactly;
    *     J(x, y) depends only on the shingle SETS, so substituting reps
    *     preserves every cross-cluster relation. Components over
    *     {star edges} ∪ {rep pairs} equal components over the full pair
    *     list — node set, partition, and min labels (DedupSpec pins it).
    *  2. PREFIX-FILTERED EXACT JACCARD over the representatives
    *     ([[jaccardPrefixJoinOver]]): the AllPairs/PPJoin theorem —
    *     rare-first prefixes of length n − ⌈t·n⌉ + 1 cannot all hide a
    *     qualifying overlap, length/positional bounds prune candidates
    *     without loss, and SortedIntersectCount verification restores
    *     exact scores — so the rep pair set is EVERY pair at J ≥ 0.5,
    *     no frequency cap, no probabilistic arm.
    *
    * This round first shipped the verdict-suggested pair-budget + LSH
    * spill design (df ≤ 32 buckets exact, hot buckets to the q21 band
    * arm). Order-unbiased A/B at the 10× smoke, fresh JVM per variant,
    * ShingleCache warm, 2 reps each: budget+LSH 10.5–12.1 s but
    * APPROXIMATE (79,209/79,211 rep pairs, a documented (1−J⁴)¹⁶ miss
    * tail for pairs whose every shared shingle is hot — and the 10×
    * cluster histogram visibly shifted); this prefix design 18.9–22.2 s
    * and EXACT (all 79,211; histogram identical to the full join's).
    * The ~2× build premium on a deliberately dup-saturated adversarial
    * corpus buys theorem-exactness on an ORACLE-GATED path — no miss
    * profile to defend, no tuning knob, no red-gate risk from a future
    * TESTDATA regeneration — so the exact design ships; a deployment
    * that prefers the speed can reassemble the budget arm from
    * [[lshBandCandidates]] + a df-capped [[bucketPairs]] in ten lines
    * (recipe and numbers: OPTIMIZATION_r13.md, "Retired dev probes").
    * Full q23 join for reference: 56–68 s on the same corpus; q277
    * end-to-end 63.5 s → ~30 s cold (including the session ShingleCache
    * build) / ~2.9 s cache-warm, cluster histogram byte-identical to the
    * exact baseline's.
    *
    * DedupSpec pins collapsed == full-graph components on a planted
    * dup-family corpus AND edge-set equality with q23's pair list on
    * the sf fixture; dedup_components / q277 / cluster_best oracle
    * hashes are byte-identical to the full-join build by the theorems.
    *
    * SCALING CURVE past 10× (round 11, fresh JVM per arm, ShingleCache
    * warm, make_scale_corpus family knob): at 30× — 3× the rows AND 3×
    * the cluster size (30-member families → 16 reps/family after
    * collapse vs 6 at 10×) — the exact build is 77.4 s / 637,055 edges
    * vs the budget arm's 11.7 s, i.e. the premium grows 2.2× → 6.6×
    * because rep-pair work is quadratic in post-collapse cluster size
    * (C(16,2)/C(6,2) = 8× pair volume for 3× rows — the observed ~5×
    * build growth matches). 77 s is well inside the ~5-minute bar the
    * round-10 verdict set for wiring the budget arm as a conf-gated
    * fallback, so exact remains the only shipped path; a corpus whose
    * post-collapse clusters are radically larger than its exact-dup
    * cliques is the signal to reassemble the budget arm (recipe and
    * measurements: OPTIMIZATION_r13.md, "Retired dev probes").
    */
  private[graft] def connectivityPairGraph(s: SparkSession, d: String)
    : DataFrame = {
    // stage 1: collapse. One narrow shuffle on the text hash (doc_id +
    // 64-char hash) shared by the rep election and the membership join.
    val eligible = graft.Tables(s, d, "documents")
      .filter(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"), sha2(col("text"), 256).as("k"))
    val mapping = eligible
      .join(eligible.groupBy(col("k")).agg(min(col("doc_id")).as("rep"))
        .hint("shuffle_hash"), "k")
      .select(col("doc_id"), col("rep"))
    val repIds = mapping.filter(col("doc_id") === col("rep"))
      .select(col("doc_id"))
    // star edges: rep < member by construction (rep = group min), so
    // the (doc_a < doc_b) orientation downstream consumers expect holds
    val starEdges = mapping.filter(col("doc_id") =!= col("rep"))
      .select(col("rep").as("doc_a"), col("doc_id").as("doc_b"))
    // rep-only shingle index: semi-join against the session-cached
    // exploded frame (shuffle_hash — repIds is corpus-sized, never
    // broadcast at scale)
    val exR = hashedShingles(s, d)
      .join(repIds.hint("shuffle_hash"), "doc_id")
    // stage 2: theorem-exact prefix join over the representatives
    jaccardPrefixJoinOver(exR, s, d)
      .select(col("doc_a"), col("doc_b"))
      .unionByName(starEdges)
  }

  /** MinHash-LSH band-bucket candidate pairs over an exploded
    * (doc_id, h) shingle-hash index — q21's candidate generator,
    * factored for reuse by any banded consumer. Signature via the
    * OphSigAgg TypedImperativeAggregate (one-permutation hashing):
    * each shingle hash updates ONE slot's min — O(1) per shingle vs
    * the 64 min-updates of classic minhash (MinHashSigAgg, kept as
    * the library's reference implementation); empty slots densified
    * at eval. Collision probability per slot is still ≈ Jaccard, so
    * the 16-bands-of-4 math is unchanged (band hash =
    * xxhash64(band, sig[4b..4b+3])). Candidate pairs = docs sharing
    * any band bucket: ONE shuffle on the bucket key + within-group
    * combination explode (bucketPairs) — the step that replaces the
    * O(n²) cross join, computing the signature pipeline exactly once.
    * May emit a pair once per shared band — callers dedup (q21's
    * distinct).
    */
  private[graft] def lshBandCandidates(ex: DataFrame): DataFrame = {
    val sig = ex.groupBy(col("doc_id"))
      .agg(oph_sig(col("h"), NumHashes).as("sig"))
    val bandCols: Seq[Column] = (0 until Bands).map { b =>
      xxhash64(lit(b) +: (0 until RowsPerBand)
        .map(r => element_at(col("sig"), b * RowsPerBand + r + 1)): _*)
    }
    bucketPairs(
      sig.select(col("doc_id"), posexplode(array(bandCols: _*)))
        .toDF("doc_id", "band", "bh"),
      Seq("band", "bh"), "doc_id")
  }

  private[graft] def verifyExact(cand: DataFrame, s: SparkSession,
      d: String): DataFrame = {
    val hs = ShingleCache.sortedHashes(s, d)
    val a = hs.select(col("doc_id").as("doc_a"), col("hs").as("hs_a"))
    val b = hs.select(col("doc_id").as("doc_b"), col("hs").as("hs_b"))
    cand.join(a, "doc_a").join(b, "doc_b")
      .withColumn("common",
        graft.functions.SortedIntersectCount(col("hs_a"), col("hs_b")))
      .withColumn("jaccard", col("common").cast("double") /
        (size(col("hs_a")) + size(col("hs_b")) - col("common")))
      .filter(col("jaccard") >= JaccardThreshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Dedup ARRIVALS against an already-ingested REFERENCE corpus with a
    * bloom prefilter — the continuous-ingest shape: most arrivals are
    * new, so the exact anti-join should not shuffle them all against a
    * reference that is 1000× larger. The bloom (KB-scale driver
    * metadata over the reference keys, the RuntimeFilter recipe) splits
    * arrivals inside their scan's codegen span: bloom-NEGATIVE rows are
    * DEFINITELY new (no false negatives) and skip the join entirely;
    * only bloom-positive rows (true dups + the fp-rate sliver) reach
    * the exact anti-join that removes false positives. Result is
    * EXACTLY the plain anti-join — which is what the driver oracle
    * checks — with the join's left side shrunk from |arrivals| to
    * |dups| + fp·|arrivals|.
    */
  private[graft] def bloomReferenceDedup(arrivals: DataFrame,
      reference: DataFrame, key: String,
      numBits: Int = 1 << 17, numHashes: Int = 6): DataFrame = {
    import graft.functions.bloom._
    val row = reference.agg(
      bloom_agg(xxhash64(col(key)), numBits, numHashes).as("b")).head()
    if (row.isNullAt(0)) arrivals // empty reference: everything is new
    else {
      val mayDup = bloom_contains(row.getAs[Array[Byte]](0),
        xxhash64(col(key)), numHashes)
      arrivals.filter(!mayDup).unionByName(
        arrivals.filter(mayDup).join(
          reference.select(col(key)).distinct(), Seq(key), "left_anti"))
    }
  }

  /** q259 maximal duplicated-RUN report — the pair-level diagnostic
    * behind a substring-dedup policy [Lee et al. ACL'22]: q70 counts a
    * document's duplicated `spanTokens`-token windows, but "how LONG
    * are the shared passages, and between whom?" decides whether to
    * splice spans (q114) or drop whole documents. For every
    * cross-document pair sharing at least one window: the longest
    * contiguous shared token run, the number of maximal runs, and the
    * shared window count.
    *
    * Plan: positional window hashes (narrow (doc, pos, long) rows) →
    * inverted index on the hash with a boilerplate df cap (positions
    * per window BETWEEN 2 AND `dfCap` — a window at more corpus
    * positions is boilerplate, the q23 stop-shingle argument) →
    * within-bucket ordered pair explosion (the bucketPairs shape,
    * ≤ C(dfCap, 2) pairs per bucket, never a self-join) → consecutive
    * matching positions collapse to maximal runs by gaps-and-islands
    * on the pair's DIAGONAL (pa − pb): within (a, b, diag), adjacent
    * windows of one run have consecutive pa, so pa − row_number() is
    * constant exactly along a run. The islands window partitions on
    * (pair, diag) — fine-grained keys, volume dup-bounded by the cap;
    * nothing corpus-sized sorts in one task. Integer-exact output; the
    * oracle replays the identical islands on raw window STRINGS (the
    * q70 hash-vs-text equivalence).
    *
    * Collision exposure (round-9 ADVICE, engineered down in round 11):
    * Spark buckets windows by hash while the oracle buckets the raw
    * strings, and unlike q70's counts this output is PAIR-level — a
    * cross-window collision would fabricate a spurious pair (and
    * perturb the df cap) on the Spark side only. The bucket key is
    * therefore (xxhash64, CHAR LENGTH of the window): a fabrication now
    * needs a 64-bit collision between two windows of identical length,
    * for 4 extra bytes through the shuffle. Residual
    * P ≈ W_len²/2⁶⁵ summed per length class (strictly below the old
    * W²/2⁶⁵, ~5·10⁻⁴ at a billion windows); DedupSpec mocks the
    * `windowHash` seam with a constant to prove length alone blocks
    * cross-length fabrications and to document the same-length
    * residual. A pipeline acting on single pairs should still
    * re-verify hits against the token arrays (the verifyExact pattern)
    * before splicing.
    */
  def dupSpanRuns(docs: DataFrame, spanTokens: Int = 8,
      dfCap: Int = 16,
      windowHash: Column => Column = xxhash64(_)): DataFrame = {
    val grams = docs
      .withColumn("tk", split(col("text"), " "))
      .filter(size(col("tk")) >= spanTokens)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, size(tk) - $spanTokens), " +
          s"i -> concat_ws(' ', slice(tk, i + 1, $spanTokens)))")))
      // the window STRING exists only inside this narrow projection —
      // what shuffles is (doc_id, pos, hash, char length): the length
      // joins the bucket key so a cross-window hash collision must ALSO
      // collide on length to fabricate a pair (round-10 verdict item 3;
      // windowHash is the injectable seam DedupSpec mocks to prove it)
      .select(col("doc_id"), col("pos"),
        windowHash(col("col")).as("h"), length(col("col")).as("wlen"))
    val pairs = grams.groupBy(col("h"), col("wlen"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("pos"))))
        .as("os"))
      .filter(size(col("os")).between(2, dfCap))
      .select(explode(expr(
        """flatten(transform(os, (a, i) ->
          |  transform(filter(slice(os, i + 2, size(os)),
          |                   b -> b.doc_id != a.doc_id),
          |    b -> struct(a.doc_id AS da, a.pos AS pa,
          |                b.doc_id AS db, b.pos AS pb))))""".stripMargin))
        .as("p"))
      .select(col("p.da").as("da"), col("p.pa").as("pa"),
        col("p.db").as("db"), col("p.pb").as("pb"))
    val iw = Window.partitionBy(col("da"), col("db"), col("diag"))
      .orderBy(col("pa"))
    pairs
      .withColumn("diag", col("pa") - col("pb"))
      .withColumn("isl", col("pa") - row_number().over(iw))
      .groupBy(col("da"), col("db"), col("diag"), col("isl"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("da").as("doc_a"), col("db").as("doc_b"))
      .agg((max(col("len")) + lit(spanTokens - 1)).as("max_run_tokens"),
        count(lit(1)).as("n_runs"),
        sum(col("len")).as("n_shared_grams"))
  }

  /** q261 content-defined chunking — the INSERT-ROBUST exact-dedup unit
    * [LBFS, Muthitacharoen SOSP'01; FastCDC, Xia ATC'16]: fixed-stride
    * chunking (q81) realigns every boundary after a single inserted
    * token, so near-identical revisions share nothing; CDC cuts where
    * the CONTENT says to (a rolling window hash hits a mask), so an
    * edit disturbs at most the chunks overlapping its ±window
    * neighborhood and everything else still dedups by exact hash.
    *
    * Boundary rule (token-level gear, GF(2) variant): cut after token i
    * (3 ≤ i < n) iff (4·g(tᵢ) + 2·g(tᵢ₋₁) + g(tᵢ₋₂)) mod 16 = 0, with
    * g = the 16-bit md5 bucket (md5 so DuckDB mirrors the hash — the
    * q94/q209 discipline; swap xxhash64 at production). Window 3 ⇒ a
    * one-token edit perturbs ≤ 3 cut decisions; mask 16 ⇒ ~16-token
    * expected chunks. Everything is a NARROW per-row expression —
    * boundaries, slices, and chunk hashes never leave the row until
    * the (doc, chunk-hash) explode.
    *
    * Returns the chunk table (doc_id, chunk_idx, s, e, h, clen); the
    * q261 entry aggregates the cross-document shared-chunk report on
    * top (one bounded shuffle on the 32-byte chunk hash — the q70
    * totals-stay-narrow shape).
    */
  private[graft] def cdcChunkTable(docs: DataFrame,
      keep: Seq[Column] = Seq(col("doc_id"))): DataFrame =
    docs
      .withColumn("tk", split(col("text"), " "))
      .withColumn("g", expr(
        "transform(tk, w -> cast(conv(substring(md5(w), 1, 4), 16, 10)" +
          " as int))"))
      .withColumn("cuts", expr(
        """filter(sequence(1, size(tk)), i ->
          |  i >= 3 AND i <= size(tk) - 1 AND
          |  (4 * try_element_at(g, i) + 2 * try_element_at(g, i - 1)
          |   + try_element_at(g, i - 2)) % 16 = 0)""".stripMargin))
      .withColumn("starts",
        expr("concat(array(1), transform(cuts, c -> c + 1))"))
      .withColumn("ends", expr("concat(cuts, array(size(tk)))"))
      .select(keep :+ posexplode(expr(
        """zip_with(starts, ends, (s, e) -> struct(
          |  s AS s, e AS e,
          |  md5(concat_ws(' ', slice(tk, s, e - s + 1))) AS h,
          |  cast(e - s + 1 as bigint) AS clen))""".stripMargin)): _*)
      .select(keep ++ Seq(col("pos").cast("long").as("chunk_idx"),
        col("col.s").as("s"), col("col.e").as("e"),
        col("col.h").as("h"), col("col.clen").as("clen")): _*)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // q241 reference dedup via bloom prefilter: the ingest ledger holds
    // the first 60% of doc_ids, the arriving batch is the last 60% —
    // the overlapping middle is re-delivered content the dedup must
    // drop (non-vacuous at EVERY SF by construction). The split
    // boundary is one max() scalar (boundary-literal pattern); the
    // oracle is the plain anti-join the bloom path must equal exactly.
    "q241_bloom_ref_dedup" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
        .filter(col("text").isNotNull)
      val m = docs.agg(max(col("doc_id"))).head().getLong(0)
      val hashed = docs.select(col("doc_id"),
        md5(col("text")).as("content_hash"))
      bloomReferenceDedup(
        hashed.filter(col("doc_id") * 10 >= lit(m * 4)),
        hashed.filter(col("doc_id") * 10 <= lit(m * 6))
          .select(col("content_hash")),
        "content_hash")
    }),

    // Exact dedup: content hash → keeper (min doc_id) + multiplicity.
    // One hash-partitioned aggregation; at 100 TB this is the standard
    // "exact dedup in one shuffle" shape (hash is 64 bytes/row, not the
    // document body).
    "q20_exact_dedup" -> ((s, d) =>
      Tables(s, d, "documents")
        .groupBy(sha2(col("text"), 256).as("fp"))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))),

    // q235 dedup impact report — the before/after accounting a curation
    // run publishes: per source, documents and whitespace tokens before
    // exact dedup vs after keeping one doc per content hash (the q20
    // keeper = min doc_id of each text group, chosen GLOBALLY so a
    // cross-source dup survives in exactly one source). Two grouped
    // passes (hash-group, then source rollup) — both map-side combined;
    // the keeper flag is a windowless min-comparison carried through
    // the hash aggregation. Everything is integer counting → the pct
    // divisions round once and hash-compare.
    "q235_dedup_impact" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("tok"),
          sha2(col("text"), 256).as("fp"))
      val keep = docs.groupBy(col("fp"))
        .agg(min(col("doc_id")).as("keeper"))
      docs.join(keep, "fp")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("docs_before"),
          sum(when(col("doc_id") === col("keeper"), 1L).otherwise(0L))
            .as("docs_after"),
          sum(col("tok")).as("tokens_before"),
          sum(when(col("doc_id") === col("keeper"), col("tok"))
            .otherwise(0L)).as("tokens_after"))
        .select(col("source"), col("docs_before"), col("docs_after"),
          col("tokens_before"), col("tokens_after"),
          round(lit(1.0) - col("tokens_after")
            / col("tokens_before").cast("double"), 6).as("token_cut_pct"))
    }),

    // MinHash + LSH banding near-dup join, exact-verified (see
    // lshBandCandidates for the banding machinery).
    "q21_minhash_lsh" -> ((s, d) =>
      verifyExact(lshBandCandidates(hashedShingles(s, d)).distinct(),
        s, d)),

    // Keeper assignment WITHOUT pair materialization — the output shape
    // for dup-heavy corpora where emitting all near-dup pairs is itself
    // quadratic (a doc with k copies yields k² pairs but only k keeper
    // rows). Each doc's keeper = min doc_id across its LSH band buckets
    // (single-link approximation of the near-dup cluster; one linear
    // pass: bucket-min + per-doc min, no joins on pairs). Approximate →
    // rows-only; DedupSpec pins keeper ≤ doc_id and that exact-verified
    // near-dup pairs (q23) agree on their keeper.
    "dedup_keep_min" -> ((s, d) => {
      // Half-size signature (32 hashes, 8 bands): keeper assignment only
      // needs ONE shared bucket per true pair (P ≈ 0.9998 at J ≥ 0.9),
      // not the full pair-recall of q21 — half the aggregation cost.
      val KmHashes = 32; val KmBands = 8
      val sig = hashedShingles(s, d).groupBy(col("doc_id"))
        .agg(oph_sig(col("h"), KmHashes).as("sig"))
      val bandCols: Seq[Column] = (0 until KmBands).map { b =>
        xxhash64(lit(b) +: (0 until RowsPerBand)
          .map(r => element_at(col("sig"), b * RowsPerBand + r + 1)): _*)
      }
      val bands = sig
        .select(col("doc_id"), posexplode(array(bandCols: _*)))
        .toDF("doc_id", "band", "bh")
      // bucket keeper = head of the sorted member list; per-doc keeper =
      // min over its buckets. Grouping + explode-with-head instead of a
      // bands⋈bucketMin self-join: one pass over bands, no join.
      bands.groupBy(col("band"), col("bh"))
        .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
        .select(element_at(col("ds"), 1).as("bucket_keeper"),
          explode(col("ds")).as("doc_id"))
        .groupBy(col("doc_id"))
        .agg(min(col("bucket_keeper")).as("keeper"))
        .withColumn("is_dup", col("keeper") < col("doc_id"))
    }),

    // SimHash near-dup: 64-bit signature, byte-banded candidates,
    // hamming-filtered, exact-verified. Approximate (rows-only check).
    // 64-bit signature (bit k = sign of Σ ±1 over member-hash bit k)
    // folded in ONE SimHashSigAgg buffer and returned pre-packed as a
    // single long: hamming is a codegen'd bit_count(xor).
    "dedup_simhash" -> ((s, d) =>
      simhashPairs(
        hashedShingles(s, d).groupBy(col("doc_id"))
          .agg(element_at(simhash_sig(col("h")), 1).as("sig")),
        s, d)),

    // Weighted SimHash near-dup: idf-weighted bit sums (w = ln(1+N/df)),
    // so ubiquitous shingles barely move the signature — the noise that
    // caps plain simhash's recall on ~100-feature docs. Same banding /
    // hamming / exact-verify tail. Approximate (rows-only check);
    // DedupSpec pins precision = 1 and recall ≥ 0.9 (plain: ≥ 0.8).
    // Cost vs plain: one df aggregation + an equi-join on the shingle
    // hash — both on the same key the index already shuffles on.
    "dedup_simhash_w" -> ((s, d) => {
      val ex = hashedShingles(s, d)
      val docFreq = ex.groupBy(col("h")).agg(count(lit(1)).as("df"))
      // corpus size: one count on the session-cached shingle frame —
      // driver-side scalar, same class of metadata as IVF's centroids
      val nDocs = shingles(s, d).count()
      val sigs = ex.join(docFreq.hint("shuffle_hash"), "h")
        .withColumn("w", log(lit(1.0) + lit(nDocs.toDouble) / col("df")))
        .groupBy(col("doc_id"))
        .agg(element_at(simhash_sig_w(col("h"), col("w")), 1).as("sig"))
      simhashPairs(sigs, s, d)
    }),

    // EXACT n-gram Jaccard similarity join (see ngramJaccard below);
    // stop-shingle df cap bounds the inverted-index join's worst case.
    "q23_ngram_jaccard" -> ((s, d) => ngramJaccard(s, d, ShingleFreqCap)),

    // prefix-filtered exact Jaccard — same oracle as q23 (the outputs
    // are defined identical), scale story on jaccardPrefixJoin.
    "dedup_jaccard_prefix" -> ((s, d) => jaccardPrefixJoin(s, d)),

    // q257 dedup threshold sweep — the "what threshold should I pick?"
    // report a curation pipeline reads before committing to a near-dup
    // cut: for each candidate Jaccard threshold ≥ the q23 floor, the
    // surviving pair count and the number of documents with at least
    // one duplicate at that strictness. Rides the SAME exact pair list
    // as q23 (identical machinery, df cap output-preserving at the 0.5
    // floor by the documented theorem), so the sweep costs one ≤5×
    // explode of the DUP-BOUNDED pair list — never a corpus pass per
    // band. Both measures are integers (no float accumulation);
    // jaccard-vs-threshold comparisons agree cross-engine because the
    // scores themselves hash-match (q23's green oracle).
    "q257_dedup_sweep" -> ((s, d) => {
      val bands = Seq(0.5, 0.6, 0.7, 0.8, 0.9)
      val b = ngramJaccard(s, d, ShingleFreqCap)
        .withColumn("threshold",
          explode(array(bands.map(lit(_)): _*)))
        .filter(col("jaccard") >= col("threshold"))
      val nPairs = b.groupBy(col("threshold"))
        .agg(count(lit(1)).as("n_pairs"))
      val nDocs = b.select(col("threshold"),
          explode(array(col("doc_a"), col("doc_b"))).as("doc"))
        .groupBy(col("threshold"))
        .agg(countDistinct(col("doc")).as("n_docs_dupped"))
      nPairs.join(nDocs, "threshold")
        .select(col("threshold"), col("n_pairs"), col("n_docs_dupped"))
    }),

    // q259 maximal duplicated-RUN report (scaladoc on dupSpanRuns)
    "q259_dup_span_runs" -> ((s, d) =>
      dupSpanRuns(Tables(s, d, "documents"))),

    // q261 CDC shared-chunk report (scaladoc on cdcChunkTable): per doc
    // the chunk count, token total, chunks whose hash appears in ≥ 2
    // docs, and the shared fraction — per-doc totals stay NARROW; only
    // the chunk-hash aggregation and the dup-hit semi join shuffle
    // (both keyed on the 32-byte hash), the q70 shape.
    "q261_cdc_chunks" -> ((s, d) => {
      val ch = cdcChunkTable(Tables(s, d, "documents"))
      val totals = ch.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"), sum(col("clen")).as("n_tokens"))
      val shared = ch.groupBy(col("h"))
        .agg(count_distinct(col("doc_id")).as("nd"))
        .filter(col("nd") >= 2).select(col("h"))
      val hits = ch.join(shared, Seq("h"), "left_semi")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("nsh"))
      totals.join(hits, Seq("doc_id"), "left")
        .withColumn("n_shared_chunks", coalesce(col("nsh"), lit(0L)))
        .select(col("doc_id"), col("n_chunks"), col("n_tokens"),
          col("n_shared_chunks"),
          round(col("n_shared_chunks") / col("n_chunks"), 6)
            .as("shared_frac"))
    }),

    // STREAMING CDC chunk-novelty monitor (rows-only;
    // StreamingDedupSpec): q261's insert-robust chunks per ARRIVING
    // window against the even-parity reference chunk index — see
    // streaming/CdcIngest. The entry feeds the odd-parity docs through
    // a REAL two-batch MemoryStream (synthetic day stamps off doc_id)
    // and REQUIRES streamed == the same aggregation batch-side before
    // returning; the pinned reference index is released on exit.
    "stream_cdc_inc" -> ((s, d) => {
      import graft.streaming.CdcIngest
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val docs = Tables(s, d, "documents")
      val ref = CdcIngest.refChunks(docs.filter(col("doc_id") % 2 === 0))
      try {
        val cur = docs.filter(col("doc_id") % 2 =!= 0)
          .select(timestamp_seconds(lit(1704067200L)
            + pmod(col("doc_id"), lit(20)) * 86400).as("ts"), col("text"))
        // HARNESS-SCALE feed (round-9 ADVICE): the collect only drives
        // the MemoryStream two-batch replay, FeedGuard-capped so a
        // production-sized input fails loudly; the CdcIngest monitor
        // itself is a real streaming consumer with bounded state —
        // production attaches it to a file/Kafka source.
        val feed = graft.streaming.FeedGuard.collectFeed(
          cur.as[(java.sql.Timestamp, String)], "stream_cdc_inc")
        val mid =
          if (feed.isEmpty) 0L
          else feed.map(_._1.getTime).sorted.apply(feed.size / 2)
        val stream = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(java.sql.Timestamp, String)]
        // Round-13 profile (JobProbe, steady rep 4.05 s): refChunks fill
        // 0.21 s, micro-batch aggregations 1.04 + 0.75 s, batch-side
        // check 0.25 s, the rest micro-batch orchestration (start/plan/
        // state-commit x2). Repartitioning the MemoryStream feed before
        // the chunk explode was A/B-tested and did NOT move the batch
        // jobs (1.02/0.71 s with the extra exchange) — the per-batch
        // cost is the stream-static join's static-side re-plan plus the
        // window-state commit, i.e. the structural floor of a 2-batch
        // stream-static monitor, not chunk parallelism. Left as is.
        val out = CdcIngest.novelty(
          stream.toDF().toDF("ts", "text"), ref, "5 days")
        val q = out.writeStream.format("memory")
          .queryName("stream_cdc_inc").outputMode("complete").start()
        stream.addData(feed.filter(_._1.getTime < mid))
        q.processAllAvailable()
        stream.addData(feed.filter(_._1.getTime >= mid))
        q.processAllAvailable()
        q.stop()
        val got = s.table("stream_cdc_inc").collect().toSet
        val batch = CdcIngest.novelty(cur, ref, "5 days").collect().toSet
        require(got == batch,
          s"streamed CDC novelty diverged from batch: " +
            s"${(got diff batch).take(3)} vs ${(batch diff got).take(3)}")
        s.table("stream_cdc_inc")
      } finally org.apache.spark.sql.graft.ColumnBridge
        .unpersistCheckpoint(ref)
    }),

    // q229 cross-source overlap matrix — the corpus-composition audit a
    // mixing pipeline runs before setting source weights: for every
    // source PAIR, the shared 3-gram vocabulary as Jaccard and as
    // containment (share of the smaller source's shingle set). Shingles
    // come from the session ShingleCache (one tokenize pass shared with
    // q23/q108/q129); the (source, shingle) relation is SOURCE-deduped
    // first, so the self-join on the shingle key fans out at most
    // |sources|² rows per shingle — bounded by the source catalog, not
    // by shingle frequency (contrast q23, which needs a df cap because
    // its unit is the document). Output is C(|sources|, 2) rows of
    // metadata. Counts exact; the two divisions round once.
    "q229_source_overlap" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
        .select(col("doc_id"), col("source"))
      val post = ShingleCache.hashed(s, d).join(docs, "doc_id")
        .select(col("source"), col("h")).distinct()
      val sizes = post.groupBy(col("source")).agg(count(lit(1)).as("n"))
      post.as("a").join(post.as("b"),
          col("a.h") === col("b.h") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("s1"), col("b.source").as("s2"))
        .agg(count(lit(1)).as("inter"))
        .join(broadcast(sizes.select(col("source").as("s1"),
          col("n").as("n1"))), "s1")
        .join(broadcast(sizes.select(col("source").as("s2"),
          col("n").as("n2"))), "s2")
        .select(col("s1"), col("s2"), col("inter"),
          round(col("inter") / least(col("n1"), col("n2")), 6)
            .as("containment"),
          round(col("inter") / (col("n1") + col("n2") - col("inter")), 6)
            .as("jaccard"))
    }),

    // Asymmetric containment (small-doc-inside-big-doc detection) —
    // see containmentPairs.
    "q108_containment" -> ((s, d) => containmentPairs(s, d, ShingleFreqCap)),

    // TF-IDF cosine similarity join over the shingle space — the
    // weighted counterpart of q23's set Jaccard: rare shared shingles
    // count more than common ones. Same inverted-index shape (postings
    // joined on the shingle key, df capped at ShingleFreqCap so no
    // posting list explodes; df=1 singletons pruned — they cannot form
    // a pair but would inflate norms identically in both engines only
    // if kept, so they are EXCLUDED from the vector space by
    // definition). Weights are idf rounded to 6 dp; dot products and
    // norms accumulate EXACTLY, so the only float ops (ln, sqrt, final
    // divide) run on identical values in both engines —
    // hash-comparable despite the self-join's nondeterministic
    // accumulation order. The exact accumulation runs on MICRO-SCALED
    // LONGS through [[graft.functions.Sum128]] (w·10^6 as a long;
    // products are exact integers ≤ ~3·10^14, summed in 128 bits, one
    // decimal divide per group) — bit-identical to the DECIMAL(18,6)
    // oracle arithmetic at long-multiply speed: the pair table is the
    // biggest relation this family aggregates, and a non-compact
    // decimal(38,12) sum buffer paid a BigDecimal allocation per pair
    // row (measured ~10× on this query at sf0.1).
    "q129_shingle_cosine" -> ((s, d) => {
      import org.apache.spark.sql.graft.ColumnBridge
      import graft.functions.Sum128
      def sum128(c: org.apache.spark.sql.Column) = ColumnBridge.column(
        Sum128(ColumnBridge.expression(c)).toAggregateExpression())
      val micro = 1000000L // w is idf rounded to 6 dp: exact in micros
      val micro2 = java.math.BigDecimal.valueOf(micro * micro)
      val nDocs = ShingleCache.arrays(s, d).count().toDouble
      val post = ShingleCache.hashed(s, d)
      val dfT = post.groupBy(col("h")).agg(count(lit(1)).as("df"))
        .filter(col("df").between(2, ShingleFreqCap))
      val w = post.join(dfT.hint("shuffle_hash"), "h")
        .select(col("doc_id"), col("h"),
          // decimal cast FIRST (same 6-dp value the oracle computes),
          // then an exact decimal·10^6 scale-up to integer micros —
          // scaling the raw double could truncate one ulp differently
          (round(log(lit(nDocs) / col("df").cast("double")), 6)
            .cast(DecimalType(18, 6)) * micro).cast("long").as("wm"))
      val nrm = w.groupBy(col("doc_id"))
        .agg(sqrt((sum128(col("wm") * col("wm")) / micro2).cast("double"))
          .as("nrm"))
      val dots = w.as("a")
        .join(w.as("b"),
          col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg((sum128(col("a.wm") * col("b.wm")) / micro2).cast("double")
          .as("dot"))
      val cosine = round(col("dot") / (col("na") * col("nb")), 6)
      dots
        .join(nrm.select(col("doc_id").as("doc_a"), col("nrm").as("na")),
          "doc_a")
        .join(nrm.select(col("doc_id").as("doc_b"), col("nrm").as("nb")),
          "doc_b")
        .filter(cosine >= 0.6)
        .select(col("doc_a"), col("doc_b"), cosine.as("cosine"))
    }),

    // Incremental dedup (see incrementalDedup below): the "don't
    // re-ingest what the corpus already holds" pass of a continuously
    // fed pipeline, over the q75 snapshot simulation.
    "q92_incremental_dedup" -> ((s, d) =>
      incrementalDedup(graft.Tables(s, d, "documents"))),

    // STREAMING incremental dedup: the q92 pass run CONTINUOUSLY — the
    // A snapshot seeds an exactly-once keeper ledger, the B delta
    // arrives as two real micro-batches through a foreachBatch pipeline
    // (graft.streaming.StreamingDedup), each deduped against everything
    // committed so far (seed + earlier batches' keepers). Rows-only by
    // nature (a streaming run, not one SQL statement); StreamingDedupSpec
    // pins streamed == q92 on the same split and replay suppression.
    "stream_dedup_inc" -> ((s, d) => {
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val docs = graft.Tables(s, d, "documents")
      val a = docs.filter(pmod(col("doc_id"), lit(7)) =!= 2)
        .select(col("doc_id"), col("text"), col("lang"), col("source"))
      val b = docs.filter(pmod(col("doc_id"), lit(11)) =!= 3)
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(13)) === 5,
            concat(col("text"), lit(" v2"))).otherwise(col("text"))
            .as("text"),
          col("lang"), col("source"))
      val bFeed = graft.streaming.FeedGuard.collectFeed(
        b.as[(Long, String, String, String)], "stream_dedup_inc")
      val base = java.nio.file.Files
        .createTempDirectory("graft-sdd").toString
      val root = s"$base/ledger"
      graft.streaming.StreamingDedup.seed(a, root)
      val stream = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String, String, String)]
      val q = graft.streaming.StreamingDedup.attach(
        stream.toDF().toDF("doc_id", "text", "lang", "source"),
        root, s"$base/ck")
      // two deliveries: the second must also dedup against the first's
      // committed keepers, not just the seed
      val (d1, d2) = bFeed.partition(_._1 % 2 == 0)
      stream.addData(d1); q.processAllAvailable()
      stream.addData(d2); q.processAllAvailable()
      q.stop()
      graft.streaming.StreamingDedup.ingested(s, root)
    }),

    // Exact transitive dedup clusters: connected components over the
    // near-dup pair graph (connectivityPairGraph — components-identical
    // to q23's exact pair list, see its scaladoc) via distributed
    // min-label propagation — the closure dedup_keep_min approximates
    // in one pass. Component id = min doc_id of the cluster. Oracle
    // replays the recursive closure over the FULL q23 pair list and
    // hash-matches, which is the theorem working.
    "dedup_components" -> ((s, d) => {
      // pair graph from the session cache: components and cluster_best
      // consume the same graph, so the expensive pair join runs once
      graft.operators.Components.connectedComponents(PairCache.pairs(s, d))
        .withColumnRenamed("node", "doc_id")
        .withColumnRenamed("comp", "component")
    }),

    // q277 dup-cluster profile — "how bad is the duplication,
    // structurally?": the near-dup graph's cluster-SIZE histogram
    // (size, n_clusters, n_docs) — a corpus of pairs is a different
    // cleanup job than a corpus of 500-document boilerplate blobs,
    // and this one report says which you have (and how many docs a
    // cluster-keeper pass will delete: n_docs − n_clusters). Rides
    // the session pair graph + the same min-label components as
    // dedup_components; the profile is two bounded aggregations on
    // top. Integer-exact; the oracle replays the recursive-CTE
    // closure and groups identically.
    "q277_dup_cluster_profile" -> ((s, d) =>
      graft.operators.Components
        .connectedComponents(PairCache.pairs(s, d))
        .groupBy(col("comp")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"),
          sum(col("sz")).as("n_docs"))),

    // Cluster-keeper by QUALITY: per exact dup cluster, keep the best
    // document instead of the smallest id — what a curation pipeline
    // actually wants (SemDeDup keeps one representative; which one
    // matters for training data). "Best" = longest doc, ties to the
    // smaller id, as a STRUCT-ordered arg-max (lexicographic on
    // (n_chars, -doc_id) in both engines) — the former single-BIGINT
    // encoding n_chars * 2^32 - doc_id silently mis-ordered once
    // doc_id ≥ 2^32, which a 100 TB corpus reaches. The per-doc
    // length join is one narrow column against the component labels;
    // the keeper choice is a single max_by aggregation per cluster —
    // no sort, no window over the corpus.
    "dedup_cluster_best" -> ((s, d) => {
      val comps = queries("dedup_components")(s, d)
      val len = graft.Tables(s, d, "documents")
        .select(col("doc_id"), col("n_chars"))
      comps.join(len, "doc_id")
        .groupBy(col("component"))
        .agg(expr("max_by(doc_id, struct(n_chars, -doc_id))")
          .as("keeper"),
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"))
    }),

    // Embedding-cosine near-dup, EXACT, via a block-grid pair join (the
    // semantics demand every pair, so the O(n²) compare count is
    // inherent — the design question is only how the work is sharded).
    // Each vector lands in one of B blocks; the B(B+1)/2 ordered block
    // pairs form an equi-join key, so the pair space shuffles evenly
    // across block-pair buckets — no BroadcastNestedLoopJoin, neither
    // side held in one executor's memory, and B grows with n at 100 TB
    // (B ∝ √(n²/target_pairs_per_task)). Replication cost: each row is
    // shipped ≤ B times (vs. n times for the naive broadcast). The
    // codegen'd VectorCosine kernel accumulates doubles in element
    // order — bit-deterministic and symmetric in its arguments, so the
    // (a,b) orientation inside a bucket doesn't matter. Pre-filtered
    // candidates at scale: sim_ann_lsh (SimilarityQueries).
    "q24_embedding_dedup" -> ((s, d) => {
      import s.implicits._
      val B = 8L
      val grid = (for (i <- 0L until B; j <- i until B) yield (i, j))
        .toDF("ba", "bb")
      val e = Tables(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"),
          pmod(col("vec_id"), lit(B)).as("blk"))
      // A side carries its block as ba replicated to every bb ≥ ba; B side
      // mirrors with bb replicated to every ba ≤ bb. Joining on (ba, bb)
      // meets each unordered pair exactly once, in bucket
      // (min(blk), max(blk)).
      val a = e.select(col("vec_id").as("ida"), col("embedding").as("ea"),
        col("blk").as("ba")).join(broadcast(grid), "ba")
      val b = e.select(col("vec_id").as("idb"), col("embedding").as("eb"),
        col("blk").as("bb")).join(broadcast(grid), "bb")
      a.join(b.hint("shuffle_hash"), Seq("ba", "bb"))
        .filter(col("ba") < col("bb") || col("ida") < col("idb"))
        .withColumn("sim", vec_cosine(col("ea"), col("eb")))
        .filter(col("sim") >= 0.4)
        .select(least(col("ida"), col("idb")).as("vec_a"),
          greatest(col("ida"), col("idb")).as("vec_b"),
          round(col("sim"), 6).as("sim"))
    })
  )

  /** Shared simhash tail: byte-band the packed 64-bit signature (8 bands
    * — lossless for hamming ≤ 7, heuristic above), generate candidate
    * pairs per bucket with the exact-hamming filter BEFORE the
    * distinct-pairs shuffle (band rows carry the signature, so the
    * signature aggregation is computed once by construction), then
    * exact-Jaccard verify.
    */
  /** Hamming-band candidate pairs over 64-bit signatures: 8 one-byte
    * pigeonhole bands (two signatures within hamming ≤ 7 MUST agree on
    * some band; above that, detection is heuristic), bucket-grouped
    * pair explode (one shuffle, no self-join), then the exact
    * bit_count(xor) ≤ maxHamming cut. Shared by the SimHash text family
    * and the perceptual-hash image near-dup. Returns (doc_a, doc_b,
    * hamming) with doc_a < doc_b.
    */
  private[graft] def hammingBandPairs(sigs: DataFrame,
      maxHamming: Int): DataFrame = {
    val bands = sigs
      .select(col("doc_id"), col("sig"), posexplode(array((0 until 8).map(
        j => shiftrightunsigned(col("sig"), j * 8).bitwiseAND(0xFFL)): _*)))
      .toDF("doc_id", "sig", "band", "bv")
    bands.groupBy(col("band"), col("bv"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("sig"))))
        .as("ds"))
      .filter(size(col("ds")) >= 2)
      .select(explode(expr(
        """flatten(transform(ds, (a, i) ->
          |  transform(slice(ds, i + 2, size(ds)),
          |            b -> struct(a.doc_id AS doc_a, a.sig AS sig_a,
          |                        b.doc_id AS doc_b, b.sig AS sig_b))))"""
          .stripMargin)).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"),
        bit_count(col("p.sig_a").bitwiseXOR(col("p.sig_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("doc_a", "doc_b")
  }

  private def simhashPairs(sigs: DataFrame, s: SparkSession,
      d: String): DataFrame =
    verifyExact(hammingBandPairs(sigs, 15).drop("hamming"), s, d)

  /** EXACT n-gram Jaccard similarity join via inverted shingle index:
    * explode → df-cap filter → self-equi-join on the shingle → count
    * common → sizes. (PPJoin prefix filtering [Xiao et al., WWW'08] was
    * implemented and MEASURED SLOWER here: this corpus's
    * shingle-frequency distribution is flat, so prefixes prune little
    * while per-candidate array verification costs more than the
    * streaming count-join. At real-corpus skew, prefix filtering bounds
    * the average; the df cap below bounds the worst case.)
    */
  private[graft] def ngramJaccard(s: SparkSession, d: String,
      cap: Int): DataFrame = {
    val sh = shingles(s, d)
    // join on the 64-bit hash of the shingle, not the string: the
    // equi-join + count only needs equality, and long keys keep the
    // 10^6-pair exchange/aggregate narrow.
    val ex = hashedShingles(s, d).withColumnRenamed("h", "s")
    // Stop-shingle cap: drop shingles whose document frequency exceeds
    // `cap` BEFORE the self-join (see ShingleFreqCap). The df count is a
    // map-side-combinable aggregation on the same key the self-join
    // shuffles on, so its exchange is shared with the join's, and the
    // semi-join output stays partitioned by `s` — no extra full shuffle.
    val kept = ex.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= cap).select(col("s"))
    val exCapped = ex.join(kept.hint("shuffle_hash"), "s")
    val sizes = sh.select(col("doc_id"), size(col("sh")).as("n"))
    // pairs per shared shingle via bucket grouping (one pass over the
    // capped index, partitioned by `s` already — no self-join); common
    // count = number of shingle buckets emitting the pair. Two-phase cap
    // (count first, then group) keeps a stop-shingle from ever building
    // an f-sized member list in a single aggregation buffer.
    val co = bucketPairs(exCapped, Seq("s"), "doc_id")
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("common"))
    // size lookups: NO broadcast hint — `sizes` is one row per DOCUMENT,
    // which AQE rightly broadcasts at test scale but must shuffle-join at
    // corpus scale (10⁹ docs ≈ GBs). Forcing broadcast here would pin a
    // corpus-sized table to every executor.
    co.join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .withColumn("jaccard", col("common").cast("double") /
        (col("na") + col("nb") - col("common")))
      .filter(col("jaccard") >= JaccardThreshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** PREFIX-FILTERED exact Jaccard join [Bayardo, Ma & Srikant,
    * WWW'07 "Scaling Up All Pairs Similarity Search"; Chaudhuri's
    * SSJoin] — the same output contract as [[ngramJaccard]] (every
    * pair at Jaccard ≥ t, exact scores) through a fundamentally better
    * scale shape. Order each document's shingle set by a GLOBAL
    * rare-first total order (ascending document frequency, ties on the
    * hash) and index only its PREFIX of length n − ⌈t·n⌉ + 1: any pair
    * with Jaccard ≥ t must share ≥ ⌈t·n⌉ tokens of each side, which
    * cannot all hide in a suffix of length ⌈t·n⌉ − 1 — so bucket-joining
    * prefixes alone loses nothing, and exact verification of the
    * (deduplicated) candidates restores the scores. Two wins over the
    * df-capped inverted index: the index holds only ~(1−t) of each
    * document's tokens, and stop-shingles sort to the END of the
    * rare-first order, so the hottest buckets never enter the index at
    * all — no frequency cap, no cap-correctness argument, EXACT by
    * construction at any scale. Cost: one df aggregation (map-side
    * combinable on the shingle key) + one per-document window to rank
    * the set (the shuffle q23 pays for its own dedup anyway).
    *
    * Round 8 adds PPJoin's candidate pruning [Xiao, Wang, Lin & Yu,
    * WWW'08] — the fix for the disclosed dup-SATURATED profile, where
    * AllPairs candidate volume grows with true-pair density: carry each
    * prefix token's POSITION and the document SIZE into the bucket
    * join, and bound every candidate's best-possible overlap BEFORE
    * the array-verify join. With α = ⌈t/(1+t)·(na+nb)⌉ (the minimum
    * overlap Jaccard ≥ t demands):
    *
    *  - length filter: overlap ≤ min(na, nb), so min(na, nb) < α
    *    kills the pair outright;
    *  - positional filter: let w₀ be the smallest shared prefix token
    *    in the global rare-first order. Any shared token u < w₀ would
    *    sit at positions below w₀'s in BOTH documents — hence inside
    *    both prefixes, contradicting w₀'s minimality. So every shared
    *    token is ≥ w₀ and overlap ≤ 1 + min(na − pos_a(w₀),
    *    nb − pos_b(w₀)); positions are monotone in the global order,
    *    so pos(w₀) = MIN(pos) over the pair's bucket hits — one
    *    min-aggregate where the dedup groupBy already ran.
    *
    * Both are pure pruning (upper bounds on the true overlap), so the
    * verified output — and q23's oracle hash — is unchanged by
    * theorem; ScaleSmoke measures the dup-saturated win.
    */
  private[graft] def jaccardPrefixJoin(s: SparkSession, d: String)
    : DataFrame =
    jaccardPrefixJoinOver(hashedShingles(s, d), s, d)

  /** [[jaccardPrefixJoin]] over an EXPLICIT (doc_id, h) index — the
    * seam [[connectivityPairGraph]] uses to run the identical theorem
    * (prefix + PPJoin pruning + exact verify) over the exact-dup
    * collapsed representative sub-corpus. Document frequencies are
    * computed on the GIVEN index, which is the correct semantics for
    * any sub-corpus: J(a, b) depends only on the two sets, and the
    * rare-first order is just a total order — any df source yields the
    * same verified output, only the prefix sizes shift.
    */
  private[graft] def jaccardPrefixJoinOver(ex: DataFrame,
      s: SparkSession, d: String): DataFrame = {
    val t = JaccardThreshold
    val dfreq = ex.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val wDoc = Window.partitionBy(col("doc_id"))
      .orderBy(col("df"), col("h"))
    val prefix = ex.join(dfreq, "h")
      .withColumn("pos", row_number().over(wDoc))
      .withColumn("n",
        count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      .filter(col("pos") <= col("n") - ceil(col("n") * lit(t)) + 1)
      .select(col("h"), col("doc_id"), col("pos"), col("n"))
    // bucket-grouped pair generation (the bucketPairs shape, carrying
    // (pos, n) per member); struct sort orders by doc_id first, so
    // doc_a < doc_b as before
    val pairs = prefix
      .groupBy(col("h"))
      .agg(sort_array(collect_list(
        struct(col("doc_id"), col("pos"), col("n")))).as("ds"))
      .filter(size(col("ds")) >= 2)
      .select(explode(expr(
        """flatten(transform(ds, (a, i) ->
          |  transform(slice(ds, i + 2, size(ds)),
          |    b -> struct(a.doc_id AS doc_a, b.doc_id AS doc_b,
          |                a.pos AS pos_a, b.pos AS pos_b,
          |                a.n AS na, b.n AS nb))))""".stripMargin))
        .as("p"))
      .select(col("p.*"))
    // dedup + w₀ positions in ONE aggregate (n is constant per doc, so
    // min() just picks it). α = ⌈t/(1+t)·(na+nb)⌉, nudged DOWN by 1e-9
    // before the ceil so a one-ulp-high double product can only ever
    // RELAX the prune — an upper-bound filter must never tighten past
    // the exact value (the verify join restores exact scores anyway).
    val alpha = ceil(lit(t / (1 + t)) * (col("na") + col("nb"))
      - lit(1e-9))
    val cand = pairs.groupBy(col("doc_a"), col("doc_b"))
      .agg(min(col("pos_a")).as("pa"), min(col("pos_b")).as("pb"),
        min(col("na")).as("na"), min(col("nb")).as("nb"))
      .filter(least(col("na"), col("nb")) >= alpha &&
        lit(1) + least(col("na") - col("pa"), col("nb") - col("pb"))
          >= alpha)
      .select(col("doc_a"), col("doc_b"))
    verifyExact(cand, s, d)
  }

  /** q108: shingle CONTAINMENT join — |A∩B| / |A| ≥ threshold, the
    * asymmetric cousin of q23's Jaccard. Jaccard misses the case a
    * training pipeline most wants caught: a small document living whole
    * inside a big one (quotations, boilerplate wrappers, page-of-a-book
    * extracts), where the union term drowns the overlap. Same machinery
    * and scale shape as q23 — shared shingle cache, df-capped inverted
    * index, bucket-grouped pair generation, per-doc size lookups — plus
    * one narrow explode emitting each qualifying direction. The ratio is
    * a single IEEE division of two ints, so both engines agree exactly.
    */
  private[graft] val ContainmentThreshold = 0.9
  private[graft] def containmentPairs(s: SparkSession, d: String,
      cap: Int): DataFrame = {
    val sh = shingles(s, d)
    val ex = hashedShingles(s, d).withColumnRenamed("h", "s")
    val kept = ex.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= cap).select(col("s"))
    val exCapped = ex.join(kept.hint("shuffle_hash"), "s")
    val sizes = sh.select(col("doc_id"), size(col("sh")).as("n"))
    val co = bucketPairs(exCapped, Seq("s"), "doc_id")
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("common"))
    co.join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .select(explode(array(
        struct(col("doc_a").as("contained"), col("doc_b").as("container"),
          (col("common").cast("double") / col("na")).as("containment")),
        struct(col("doc_b").as("contained"), col("doc_a").as("container"),
          (col("common").cast("double") / col("nb")).as("containment"))))
        .as("p"))
      .select(col("p.contained"), col("p.container"), col("p.containment"))
      .filter(col("containment") >= ContainmentThreshold)
  }

  /** q92: incremental dedup of a NEW snapshot against the EXISTING
    * corpus — the pass a continuously-fed pipeline runs on every
    * delivery. Snapshots reuse q75's deterministic simulation (A = the
    * corpus, B = the delivery with drops/edits); "incoming" = B rows
    * whose (id, content) pair is not already in A (added + changed).
    * Two dedup stages, mirroring the batch family:
    *
    *  1. EXACT: drop incoming docs whose content hash equals ANY corpus
    *     doc's (one anti-join on a 16-byte key).
    *  2. NEAR: drop incoming docs with 3-gram Jaccard ≥ 0.5 against ANY
    *     corpus doc, via a BIPARTITE inverted shingle-index join — the
    *     cross-corpus form of q23. Join volume per shingle is
    *     df_corpus × df_incoming, i.e. DELTA-bounded on one side (the
    *     property that makes incremental dedup cheap: the corpus side
    *     never self-joins). The q23 stop-shingle df cap applies
    *     unchanged at production scale; it is omitted here so the
    *     DuckDB oracle stays an exact replica (it never binds at test
    *     SFs — same reasoning as q23's oracle).
    *
    * Edited docs are near-dups of their own previous version, so an
    * edit that only appends a token does NOT re-ingest — exactly the
    * semantics a dedup-gated ingest wants. Docs with < 3 tokens carry
    * no shingles and pass the near stage (both engines).
    */
  private[graft] def incrementalDedup(docs: DataFrame): DataFrame = {
    val a = docs.filter(pmod(col("doc_id"), lit(7)) =!= 2)
      .select(col("doc_id"), col("text"))
    val b = docs.filter(pmod(col("doc_id"), lit(11)) =!= 3)
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(13)) === 5,
          concat(col("text"), lit(" v2"))).otherwise(col("text")).as("text"),
        col("lang"), col("source"))
    dedupAgainstCorpus(b, a).select(col("doc_id"), col("lang"), col("source"))
  }

  /** The q92 core over an EXPLICIT (delta, corpus) pair — the reusable
    * cross-corpus dedup primitive [[graft.streaming.StreamingDedup]]
    * routes every arriving micro-batch through. `b` (the delta) carries
    * (doc_id, text, lang, source); `a` (the committed corpus) carries
    * (doc_id, text). Keepers retain their TEXT so a caller can extend
    * the corpus with them; q92 projects it away to keep its oracle
    * shape. Delta rows are assumed id-unique within one call (the
    * snapshot/micro-batch contract — cross-delta dups are what the
    * corpus side catches).
    */
  private[graft] def dedupAgainstCorpus(b: DataFrame, a: DataFrame)
      : DataFrame = {
    val aHash = a.select(col("doc_id"), md5(col("text")).as("h"))
    val incoming = b.withColumn("h", md5(col("text")))
      .join(aHash, Seq("doc_id", "h"), "left_anti")
    val candidates = incoming
      .join(aHash.select(col("h")).distinct(), Seq("h"), "left_anti")
    // distinct STRING shingles per doc (q23/oracle parity), hashed to
    // 64-bit longs only for the index join
    def shingled(df: DataFrame, id: String): DataFrame =
      df.select(col("doc_id").as(id), split(col("text"), " ").as("tk"))
        .filter(size(col("tk")) >= 3)
        .select(col(id), expr(
          """array_distinct(transform(sequence(1, size(tk) - 2),
            |  i -> concat_ws(' ', element_at(tk, i), element_at(tk, i + 1),
            |                 element_at(tk, i + 2))))""".stripMargin).as("sh"))
        .select(col(id), size(col("sh")).as(s"n_$id"),
          explode(expr("transform(sh, v -> xxhash64(v))")).as("s"))
    // Pair aggregation keyed on (b_id, a_id) ONLY — the per-doc sizes
    // are functionally dependent on the keys, so they fold through
    // max() instead of widening the grouping key (grouping on all four
    // measured 6× slower: the wider exchange rows dominated). The
    // shuffle_hash hint keeps the postings join off the broadcast path
    // at any incoming-delta size — both sides shuffle on the shingle.
    val co = shingled(a, "a_id").hint("shuffle_hash")
      .join(shingled(candidates, "b_id"), "s")
      .groupBy(col("b_id"), col("a_id"))
      .agg(count(lit(1)).as("common"),
        max(col("n_a_id")).as("na"), max(col("n_b_id")).as("nb"))
    val nearDup = co
      .filter(col("common").cast("double")
        / (col("na") + col("nb") - col("common")) >= JaccardThreshold)
      .select(col("b_id").as("doc_id")).distinct()
    candidates.join(nearDup, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
  }

  /** The exact near-dup pair set (3-gram shingle Jaccard ≥ 0.5) — oracle
    * for q21 (LSH-found) and q23 (exact join).
    */
  private val exactPairsSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents
      |           WHERE len(string_split(text, ' ')) >= 3),
      |sh AS (SELECT doc_id, unnest(list_distinct(
      |         [tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
      |          FOR i IN range(1, len(tk) - 1)])) AS s FROM t),
      |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |co AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS c
      |       FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |       GROUP BY 1, 2)
      |SELECT da AS doc_a, db AS doc_b,
      |       CAST(c AS DOUBLE) / (x.n + y.n - c) AS jaccard
      |FROM co JOIN sz x ON da = x.doc_id JOIN sz y ON db = y.doc_id
      |WHERE CAST(c AS DOUBLE) / (x.n + y.n - c) >= 0.5""".stripMargin

  def oracle: Map[String, String] = Map(
    // the bloom path must equal the plain anti-join exactly (no false
    // negatives; positives removed by the confirm join)
    "q241_bloom_ref_dedup" ->
      """WITH mx AS (SELECT max(doc_id) m FROM documents
        |           WHERE text IS NOT NULL),
        |ref AS (SELECT DISTINCT md5(text) h FROM documents, mx
        |        WHERE text IS NOT NULL AND doc_id * 10 <= m * 6),
        |arr AS (SELECT doc_id, md5(text) h FROM documents, mx
        |        WHERE text IS NOT NULL AND doc_id * 10 >= m * 4)
        |SELECT a.doc_id, a.h AS content_hash FROM arr a
        |LEFT JOIN ref r ON a.h = r.h WHERE r.h IS NULL""".stripMargin,
    // exact closure of the near-dup pair graph: min reachable label per
    // node, via a recursive CTE over the bidirectional edge list —
    // upgrades dedup_components from rows-only to hash-checked.
    "dedup_components" ->
      s"""WITH RECURSIVE pr AS ($exactPairsSql),
         |edges AS (SELECT doc_a AS a, doc_b AS b FROM pr
         |          UNION SELECT doc_b, doc_a FROM pr),
         |walk(node, lbl) AS (
         |  SELECT a, a FROM edges
         |  UNION
         |  SELECT e.a, w.lbl FROM edges e JOIN walk w ON e.b = w.node)
         |SELECT node AS doc_id, min(lbl) AS component
         |FROM walk GROUP BY node""".stripMargin,
    // q277: the dedup_components closure + two grouping levels
    "q277_dup_cluster_profile" ->
      s"""WITH RECURSIVE pr AS ($exactPairsSql),
         |edges AS (SELECT doc_a AS a, doc_b AS b FROM pr
         |          UNION SELECT doc_b, doc_a FROM pr),
         |walk(node, lbl) AS (
         |  SELECT a, a FROM edges
         |  UNION
         |  SELECT e.a, w.lbl FROM edges e JOIN walk w ON e.b = w.node),
         |comp AS (SELECT node, min(lbl) AS c FROM walk GROUP BY node),
         |sz AS (SELECT c, CAST(count(*) AS BIGINT) AS sz FROM comp
         |       GROUP BY c)
         |SELECT sz AS cluster_size, CAST(count(*) AS BIGINT)
         |    AS n_clusters,
         |  CAST(sum(sz) AS BIGINT) AS n_docs
         |FROM sz GROUP BY sz""".stripMargin,
    "dedup_cluster_best" ->
      s"""WITH RECURSIVE pr AS ($exactPairsSql),
         |edges AS (SELECT doc_a AS a, doc_b AS b FROM pr
         |          UNION SELECT doc_b, doc_a FROM pr),
         |walk(node, lbl) AS (
         |  SELECT a, a FROM edges
         |  UNION
         |  SELECT e.a, w.lbl FROM edges e JOIN walk w ON e.b = w.node),
         |comp AS (SELECT node AS doc_id, min(lbl) AS component
         |         FROM walk GROUP BY node)
         |SELECT component,
         |  first(c.doc_id ORDER BY n_chars DESC, c.doc_id) AS keeper,
         |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
         |FROM comp c JOIN documents d ON c.doc_id = d.doc_id
         |GROUP BY component""".stripMargin,
    "q20_exact_dedup" ->
      """SELECT sha256(text) AS fp, min(doc_id) AS keeper,
        | count(*) AS n_copies
        |FROM documents GROUP BY sha256(text)""".stripMargin,
    "q21_minhash_lsh" -> exactPairsSql,
    "q23_ngram_jaccard" -> exactPairsSql,
    // the sweep bands q23's exact pair list; both measures are integers
    "q257_dedup_sweep" ->
      s"""WITH pr AS ($exactPairsSql),
        |bands AS (SELECT unnest([0.5, 0.6, 0.7, 0.8, 0.9]) AS threshold),
        |b AS (SELECT bands.threshold, pr.doc_a, pr.doc_b
        |      FROM pr, bands WHERE pr.jaccard >= bands.threshold),
        |g AS (SELECT threshold, COUNT(*) AS n_pairs FROM b GROUP BY 1),
        |d AS (SELECT threshold, COUNT(DISTINCT doc) AS n_docs_dupped
        |      FROM (SELECT threshold, doc_a AS doc FROM b
        |            UNION ALL SELECT threshold, doc_b FROM b)
        |      GROUP BY 1)
        |SELECT g.threshold, g.n_pairs, d.n_docs_dupped
        |FROM g JOIN d ON g.threshold = d.threshold""".stripMargin,
    // prefix filtering is EXACT (a theorem, not a tuning) — it earns
    // the identical oracle and a hash-checked row of its own
    "dedup_jaccard_prefix" -> exactPairsSql,
    // q261: the identical gear rule over DuckDB lists — the md5 bucket
    // is the q209 '0x'||substr cast, cuts/starts/ends mirror the Spark
    // arrays 1-based, and chunk hashes are md5 of the same joined text
    "q261_cdc_chunks" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk
        |           FROM documents),
        |gg AS (SELECT doc_id, tk, list_transform(tk, w ->
        |         CAST(('0x' || substr(md5(w), 1, 4)) AS INTEGER)) AS g
        |       FROM t),
        |cu AS (SELECT doc_id, tk,
        |         list_filter(range(1, len(tk) + 1), i ->
        |           i >= 3 AND i <= len(tk) - 1 AND
        |           (4 * g[i] + 2 * g[i - 1] + g[i - 2]) % 16 = 0) AS cuts
        |       FROM gg),
        |se AS (SELECT doc_id, tk,
        |         list_prepend(1, list_transform(cuts, c -> c + 1))
        |           AS starts,
        |         list_append(cuts, len(tk)) AS ends FROM cu),
        |ce AS (SELECT doc_id, unnest([struct_pack(
        |         h := md5(array_to_string(tk[starts[i]:ends[i]], ' ')),
        |         cl := ends[i] - starts[i] + 1)
        |         FOR i IN range(1, len(starts) + 1)]) AS p FROM se),
        |ck AS (SELECT doc_id, p.h AS h, p.cl AS cl FROM ce),
        |sh AS (SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS nd
        |       FROM ck GROUP BY h) WHERE nd >= 2)
        |SELECT ck.doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
        |  CAST(sum(ck.cl) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN sh.h IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_shared_chunks,
        |  round(CAST(sum(CASE WHEN sh.h IS NOT NULL THEN 1 ELSE 0 END)
        |    AS DOUBLE) / count(*), 6) AS shared_frac
        |FROM ck LEFT JOIN sh ON ck.h = sh.h
        |GROUP BY ck.doc_id""".stripMargin,
    // q259: identical islands on raw 8-token window STRINGS (the q70
    // hash-vs-text equivalence covers the xxhash64 bucketing)
    "q259_dup_span_runs" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk
        |           FROM documents WHERE len(string_split(text, ' ')) >= 8),
        |g AS (SELECT doc_id, unnest([struct_pack(pos := i - 1,
        |        s := array_to_string(tk[i:i+7], ' '))
        |        FOR i IN range(1, len(tk) - 6)]) AS e FROM t),
        |ge AS (SELECT doc_id, e.pos AS pos, e.s AS s FROM g),
        |ok AS (SELECT s FROM ge GROUP BY s
        |       HAVING count(*) BETWEEN 2 AND 16),
        |gg AS (SELECT ge.* FROM ge JOIN ok USING (s)),
        |pr AS (SELECT a.doc_id AS da, a.pos AS pa,
        |         b.doc_id AS db, b.pos AS pb
        |       FROM gg a JOIN gg b ON a.s = b.s AND a.doc_id < b.doc_id),
        |il AS (SELECT da, db, pa - pb AS diag, pa,
        |         pa - row_number() OVER (PARTITION BY da, db, pa - pb
        |                                 ORDER BY pa) AS isl
        |       FROM pr),
        |ru AS (SELECT da, db, diag, isl, count(*) AS len
        |       FROM il GROUP BY 1, 2, 3, 4)
        |SELECT da AS doc_a, db AS doc_b,
        |  CAST(max(len) + 7 AS BIGINT) AS max_run_tokens,
        |  CAST(count(*) AS BIGINT) AS n_runs,
        |  CAST(sum(len) AS BIGINT) AS n_shared_grams
        |FROM ru GROUP BY 1, 2""".stripMargin,
    "q235_dedup_impact" ->
      """WITH d AS (SELECT doc_id, source,
        |    len(string_split(text, ' ')) AS tok, sha256(text) AS fp
        |  FROM documents),
        |k AS (SELECT fp, MIN(doc_id) AS keeper FROM d GROUP BY 1)
        |SELECT d.source, COUNT(*) AS docs_before,
        |  CAST(SUM(CASE WHEN d.doc_id = k.keeper THEN 1 ELSE 0 END)
        |    AS BIGINT) AS docs_after,
        |  CAST(SUM(d.tok) AS BIGINT) AS tokens_before,
        |  CAST(SUM(CASE WHEN d.doc_id = k.keeper THEN d.tok ELSE 0 END)
        |    AS BIGINT) AS tokens_after,
        |  round(1.0 - CAST(SUM(CASE WHEN d.doc_id = k.keeper THEN d.tok
        |      ELSE 0 END) AS DOUBLE) / SUM(d.tok), 6) AS token_cut_pct
        |FROM d JOIN k ON d.fp = k.fp
        |GROUP BY 1""".stripMargin,
    // Replays q229 on raw shingle strings (the Spark side joins on
    // xxhash64 keys — same collision-free assumption as q23/q129).
    "q229_source_overlap" ->
      """WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS tk
        |           FROM documents
        |           WHERE len(string_split(text, ' ')) >= 3),
        |sh AS (SELECT DISTINCT source, unnest(list_distinct(
        |         [tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
        |          FOR i IN range(1, len(tk) - 1)])) AS g FROM t),
        |sz AS (SELECT source, COUNT(*) AS n FROM sh GROUP BY 1),
        |co AS (SELECT a.source AS s1, b.source AS s2, COUNT(*) AS inter
        |       FROM sh a JOIN sh b ON a.g = b.g AND a.source < b.source
        |       GROUP BY 1, 2)
        |SELECT s1, s2, inter,
        |  round(CAST(inter AS DOUBLE) / LEAST(x.n, y.n), 6)
        |    AS containment,
        |  round(CAST(inter AS DOUBLE) / (x.n + y.n - inter), 6) AS jaccard
        |FROM co JOIN sz x ON s1 = x.source JOIN sz y ON s2 = y.source"""
        .stripMargin,
    // Replays the idf-cosine on raw shingle strings (the Spark side
    // joins on xxhash64 keys — collision-free at any plausible shingle
    // vocabulary; same assumption as q23's postings).
    "q129_shingle_cosine" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents
        |           WHERE len(string_split(text, ' ')) >= 3),
        |sh AS (SELECT doc_id, unnest(list_distinct(
        |         [tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
        |          FOR i IN range(1, len(tk) - 1)])) AS s FROM t),
        |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM t),
        |df AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY s
        |       HAVING COUNT(*) BETWEEN 2 AND $ShingleFreqCap),
        |w AS (SELECT doc_id, sh.s,
        |        CAST(round(ln((SELECT n FROM nn) / CAST(df AS DOUBLE)), 6)
        |             AS DECIMAL(18,6)) AS w
        |      FROM sh JOIN df ON sh.s = df.s),
        |nrm AS (SELECT doc_id, sqrt(CAST(SUM(w * w) AS DOUBLE)) AS nrm
        |        FROM w GROUP BY doc_id),
        |dots AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |           CAST(SUM(a.w * b.w) AS DOUBLE) AS dot
        |         FROM w a JOIN w b ON a.s = b.s AND a.doc_id < b.doc_id
        |         GROUP BY 1, 2)
        |SELECT doc_a, doc_b, round(dot / (x.nrm * y.nrm), 6) AS cosine
        |FROM dots JOIN nrm x ON dots.doc_a = x.doc_id
        |          JOIN nrm y ON dots.doc_b = y.doc_id
        |WHERE round(dot / (x.nrm * y.nrm), 6) >= 0.6""".stripMargin,
    "q108_containment" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents
        |           WHERE len(string_split(text, ' ')) >= 3),
        |sh AS (SELECT doc_id, unnest(list_distinct(
        |         [tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
        |          FOR i IN range(1, len(tk) - 1)])) AS s FROM t),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |co AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS c
        |       FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |       GROUP BY 1, 2),
        |dirs AS (
        |  SELECT da AS contained, db AS container,
        |         CAST(c AS DOUBLE) / x.n AS containment
        |  FROM co JOIN sz x ON da = x.doc_id
        |  UNION ALL
        |  SELECT db, da, CAST(c AS DOUBLE) / y.n
        |  FROM co JOIN sz y ON db = y.doc_id)
        |SELECT contained, container, containment
        |FROM dirs WHERE containment >= 0.9""".stripMargin,
    "q92_incremental_dedup" ->
      """WITH a AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 2),
        |b AS (SELECT doc_id,
        |        CASE WHEN doc_id % 13 = 5 THEN text || ' v2'
        |             ELSE text END AS text,
        |        lang, source
        |      FROM documents WHERE doc_id % 11 <> 3),
        |inc AS (SELECT b.* FROM b
        |        WHERE NOT EXISTS (SELECT 1 FROM a
        |          WHERE a.doc_id = b.doc_id AND a.text = b.text)),
        |cand AS (SELECT * FROM inc
        |         WHERE md5(text) NOT IN (SELECT md5(text) FROM a)),
        |ash AS (SELECT doc_id AS a_id, unnest(list_distinct(
        |          [tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
        |           FOR i IN range(1, len(tk) - 1)])) AS s
        |        FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM a
        |              WHERE len(string_split(text, ' ')) >= 3)),
        |ish AS (SELECT doc_id AS b_id, unnest(list_distinct(
        |          [tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
        |           FOR i IN range(1, len(tk) - 1)])) AS s
        |        FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM cand
        |              WHERE len(string_split(text, ' ')) >= 3)),
        |sza AS (SELECT a_id, count(*) AS na FROM ash GROUP BY a_id),
        |szi AS (SELECT b_id, count(*) AS nb FROM ish GROUP BY b_id),
        |co AS (SELECT i.b_id, h.a_id, count(*) AS c
        |       FROM ish i JOIN ash h ON i.s = h.s GROUP BY i.b_id, h.a_id),
        |dup AS (SELECT DISTINCT co.b_id FROM co
        |        JOIN sza ON co.a_id = sza.a_id
        |        JOIN szi ON co.b_id = szi.b_id
        |        WHERE CAST(c AS DOUBLE) / (sza.na + szi.nb - c) >= 0.5)
        |SELECT doc_id, lang, source FROM cand
        |WHERE doc_id NOT IN (SELECT b_id FROM dup)""".stripMargin,
    "q24_embedding_dedup" ->
      """SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        | round(list_sum([CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)
        |                 FOR i IN range(1, len(a.embedding) + 1)])
        |  / (sqrt(list_sum([CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)
        |                    FOR i IN range(1, len(a.embedding) + 1)]))
        |   * sqrt(list_sum([CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)
        |                    FOR i IN range(1, len(b.embedding) + 1)]))), 6) AS sim
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_sum([CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)
        |                FOR i IN range(1, len(a.embedding) + 1)])
        |  / (sqrt(list_sum([CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)
        |                    FOR i IN range(1, len(a.embedding) + 1)]))
        |   * sqrt(list_sum([CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)
        |                    FOR i IN range(1, len(b.embedding) + 1)]))) >= 0.4""".stripMargin
  )
}

/** Session-scoped materialization of the shingle derivation shared by
  * q21 / q23 / dedup_keep_min / dedup_simhash (and, through q23,
  * dedup_components): all of them derive from the same (doc_id,
  * shingles) frame, and a curation run executes several of them in one
  * session — so the split + distinct (and the exploded shingle hash) is
  * computed and persisted ONCE per (session, dataset) instead of once
  * per query. This is the "tokenize the corpus once" stage of a 100 TB
  * pipeline: MEMORY_AND_DISK, partition-local, no shuffle to build.
  * Lifecycle: [[graft.SessionCache]].
  */
private[graft] object ShingleCache {

  import org.apache.spark.storage.StorageLevel

  private[graft] val cache =
    new graft.SessionCache[Unit, (DataFrame, DataFrame, DataFrame)]({
      case (a, h, hs) => a.unpersist(); h.unpersist(); hs.unpersist()
    })

  private def entry(s: SparkSession, d: String)
    : (DataFrame, DataFrame, DataFrame) =
    cache(s, d, ()) {
      val arrays = graft.Tables(s, d, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("tk"))
        .filter(size(col("tk")) >= 3)
        .select(col("doc_id"), expr(
          """array_distinct(transform(sequence(1, size(tk) - 2),
            |  i -> concat_ws(' ', element_at(tk, i), element_at(tk, i + 1),
            |                 element_at(tk, i + 2))))""".stripMargin).as("sh"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val hashed = arrays
        .select(col("doc_id"),
          explode(expr("transform(sh, v -> xxhash64(v))")).as("h"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      // sorted 64-bit shingle hashes per doc: the verify-join feed — a
      // long array merges in one allocation-free codegen walk
      // (SortedIntersectCount) and shuffles ~3× narrower than the
      // string form on ~3-word shingles
      val sorted = arrays
        .select(col("doc_id"),
          expr("array_sort(transform(sh, v -> xxhash64(v)))").as("hs"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      (arrays, hashed, sorted)
    }

  def arrays(s: SparkSession, d: String): DataFrame = entry(s, d)._1
  def hashed(s: SparkSession, d: String): DataFrame = entry(s, d)._2

  /** (doc_id, hs): ascending-sorted distinct xxhash64 shingle hashes —
    * [[graft.functions.SortedIntersectCount]]'s input contract.
    */
  def sortedHashes(s: SparkSession, d: String): DataFrame = entry(s, d)._3
}

/** Session-scoped materialization of the near-dup CONNECTIVITY pair
  * graph — the layer above ShingleCache's tokenize-once: a curation
  * session that clusters (dedup_components) and then picks keepers
  * (dedup_cluster_best) consumes the same pair graph twice, and at
  * corpus scale the pair join is the most expensive stage in the whole
  * family — so it is produced ONCE per (session, dataset).
  *
  * The graph is [[DedupQueries.connectivityPairGraph]] (round 10,
  * superseding the earlier budget+LSH arms in commit 3c19117):
  * exact-dup collapse (J=1 cliques → star edges) + prefix-filtered
  * exact Jaccard over the representatives — THEOREM-exact, so
  * components over it equal components over q23's full exact pair
  * list on EVERY corpus, not just the oracle ones (see the builder's
  * scaladoc for the proof sketch; DedupSpec pins byte-identity). The
  * superseded approximate budget+LSH recipe and its A/B numbers are
  * recorded in OPTIMIZATION_r13.md, "Retired dev probes".
  *
  * The pair LIST consumers (q21/q23/q257) deliberately do NOT read
  * this cache: they ARE the pair producers whose per-pair scores are
  * the contract; this cache serves the CONNECTIVITY consumers
  * (components / cluster_best / q277). Lifecycle:
  * [[graft.SessionCache]].
  */
private[graft] object PairCache {

  import org.apache.spark.storage.StorageLevel

  private[graft] val cache =
    new graft.SessionCache[Unit, DataFrame](_.unpersist())

  /** Connectivity pair graph (doc_a, doc_b), persisted on first use. */
  def pairs(s: SparkSession, d: String): DataFrame =
    cache(s, d, ()) {
      DedupQueries.connectivityPairGraph(s, d)
        .persist(StorageLevel.MEMORY_AND_DISK)
    }
}
