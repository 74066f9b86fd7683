package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Text-analysis operators over `documents` (SURVEY.md §2.11 [EXT]):
  * language-ID, quality scoring, token counting, fingerprinting — the
  * per-document scoring passes of an LLM training-data pipeline. All are
  * narrow (per-row) transforms + one aggregation: at 100 TB they are
  * embarrassingly parallel map work with no shuffle except the final
  * small group-by, and every expression is built-in/codegen'd.
  */
object TextAnalysis {

  private val enMarkers = Seq("the", "a", "of", "is", "and")
  private val esMarkers = Seq("el", "la", "de", "que", "y")
  private val deMarkers = Seq("der", "die", "das", "und", "ist")

  private def markerArray(ws: Seq[String]): String =
    ws.map(w => s"'$w'").mkString("array(", ", ", ")")

  /** q27's per-document heuristic prediction (doc_id, lang, pred_h) —
    * the shared seam between the q27 confusion matrix and q264's
    * classifier-agreement audit.
    */
  private[queries] def heuristicLang(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("tk"))
      .withColumn("s_en", expr(
        s"size(filter(tk, t -> array_contains(${markerArray(enMarkers)}, t)))"))
      .withColumn("s_es", expr(
        s"size(filter(tk, t -> array_contains(${markerArray(esMarkers)}, t)))"))
      .withColumn("s_de", expr(
        s"size(filter(tk, t -> array_contains(${markerArray(deMarkers)}, t)))"))
      .select(col("doc_id"), col("lang"),
        when(col("s_en") >= col("s_es") && col("s_en") >= col("s_de") &&
          col("s_en") > 0, "en")
          .when(col("s_es") >= col("s_de") && col("s_es") > 0, "es")
          .when(col("s_de") > 0, "de")
          .otherwise("und").as("pred_h"))

  /** DuckDB twin of [[heuristicLang]] over `documents` (q264 oracle). */
  private[queries] def heuristicLangSql: String =
    s"""SELECT doc_id, lang,
       |  CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en > 0 THEN 'en'
       |       WHEN s_es >= s_de AND s_es > 0 THEN 'es'
       |       WHEN s_de > 0 THEN 'de'
       |       ELSE 'und' END AS pred_h
       |FROM (SELECT doc_id, lang,
       |  len(list_filter(tk, t -> list_contains(${markerList(enMarkers)}, t))) AS s_en,
       |  len(list_filter(tk, t -> list_contains(${markerList(esMarkers)}, t))) AS s_es,
       |  len(list_filter(tk, t -> list_contains(${markerList(deMarkers)}, t))) AS s_de
       | FROM (SELECT doc_id, lang, string_split(text, ' ') AS tk
       |       FROM documents) t) sc""".stripMargin

  /** Minimum md5 over all character 8-grams of `c`. md5 (not xxhash64)
    * deliberately: it is the one hash both engines compute identically,
    * which keeps q30 oracle-checkable; at production scale swap in
    * xxhash64 for ~5× cheaper hashing. Texts shorter than 8 chars have
    * no 8-gram → NULL (unguarded, sequence() with stop < start DESCENDS
    * and would hash garbage substrings, where DuckDB's range() is empty
    * → NULL — an oracle mismatch on any short doc).
    */
  private[graft] def fingerprint(c: Column): Column =
    // codegen'd kernel, not array_min(transform(..., md5(substr(...)))):
    // higher-order lambdas run interpreted per gram with a substring +
    // digest allocation each (~500/doc; kernel hashes the buffer in
    // place — 2.1 -> 0.30 s at sf0.1); byte-identical by the
    // hex/digest-order argument on the kernel, pinned by
    // TextAnalysisSpec's equivalence test and the q30 oracle hash
    graft.functions.textkernels.min_gram_md5(c)

  /** The production form of [[fingerprint]] — xxhash64 instead of md5
    * (~5× cheaper per gram, the swap documented at q30 since round 2).
    * Same winnowing semantics: min over all character-8-gram hashes.
    * Not DuckDB-mirrorable (xxhash64 seed/impl is Spark's) → rows-only;
    * TextAnalysisSpec pins that it induces the SAME duplicate grouping
    * as the md5 gate form.
    */
  private[graft] def fingerprintXx(c: Column): Column =
    // kernel form (same rationale as fingerprint's MinGramMd5, and a
    // proportionally bigger win — xxhash64 is nearly free so the boxed
    // per-gram lambda WAS the cost); bit-identical longs via Spark's
    // own XxHash64Function, pinned by TextAnalysisSpec's equivalence
    graft.functions.textkernels.min_gram_xx(c)

  /** q263 vocabulary-coverage / OOV curve — the tokenizer-design
    * question "how big a vocabulary do I need?": for candidate vocab
    * sizes K (top-K corpus tokens by frequency), the share of corpus
    * token OCCURRENCES left out-of-vocabulary. Read the knee of the
    * curve before training a tokenizer (the Zipf fit q185 models the
    * same mass analytically; this is the exact measurement).
    *
    * Scale shape: one corpus tokenize → (w)-keyed count (vocab-sized,
    * map-side combined). The frequency ranking runs through
    * [[graft.operators.GlobalRank.withRank]] — at 100 TB the vocab
    * table is itself huge (billions of types), and a plain
    * `row_number() OVER (ORDER BY freq DESC)` is ONE task sorting the
    * whole vocabulary, exactly the coarse-group hazard the GlobalRank
    * scaladoc names (the oracle keeps the window form — DuckDB-side
    * only). The K-sweep then needs no second pass: each threshold is a
    * conditional sum in ONE aggregation over the ranked vocab. The
    * vocabulary is localCheckpoint'ed for this call before it is ranked:
    * the rank reads its input for a count, a sample and two branches,
    * and would tokenize the corpus again for each.
    */
  def vocabCoverage(docs: DataFrame,
      ks: Seq[Long] = Seq(256L, 1024L, 4096L, 16384L)): DataFrame = {
    val vocab = docs.select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .localCheckpoint(true)
    val ranked = graft.operators.GlobalRank.withRank(vocab, "rnk",
      col("freq").desc, col("w"))
    val agg = ranked.agg(sum(col("freq")).as("tot"),
      (count(lit(1)).as("nvocab") +:
        ks.map(k => sum(when(col("rnk") <= k, col("freq")))
          .as(s"c$k"))): _*)
    ks.map(k => agg.select(lit(k).as("vocab_size"),
        col("nvocab").as("n_vocab"),
        coalesce(col(s"c$k"), lit(0L)).as("covered_tokens"),
        round(lit(1.0) - coalesce(col(s"c$k"), lit(0L)) / col("tot"), 6)
          .as("oov_rate")))
      .reduce(_.unionByName(_))
  }

  /** q266 vocabulary-saturation / unseen-mass audit — "which source
    * still yields new vocabulary, and which is mined out?": per
    * source, the Turing estimate of the probability the NEXT sampled
    * token is a new type, P(unseen) = N₁/N (hapax share of token
    * occurrences) [Good, Biometrika 1953 — the simple Good-Turing
    * missing-mass estimator], beside the type/token ratio. A source
    * whose unseen mass has collapsed contributes volume, not
    * diversity — the q66/q262 mixing decisions read this first.
    *
    * Cost shape: one corpus tokenize → (source, w)-keyed count
    * (vocabulary×|sources|-bounded, map-side combined) → |sources|
    * output rows. Integer counts; the two ratios round once.
    */
  def unseenMass(docs: DataFrame): DataFrame =
    docs.select(col("source"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("f"))
      .groupBy(col("source"))
      .agg(sum(col("f")).as("n_tokens"), count(lit(1)).as("n_types"),
        sum(when(col("f") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("source"), col("n_tokens"), col("n_types"),
        col("n_hapax"),
        round(col("n_hapax") / col("n_tokens"), 6).as("unseen_mass"),
        round(col("n_types") / col("n_tokens"), 6).as("ttr"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q263_vocab_coverage" -> ((s, d) =>
      vocabCoverage(Tables(s, d, "documents"))),

    "q266_unseen_mass" -> ((s, d) =>
      unseenMass(Tables(s, d, "documents"))),

    // q201 class-distinctive terms (c-TF-IDF, the BERTopic labeling
    // scheme applied to the lang classes): per class, the terms with
    // the highest tf_class · ln(K / class_df), where class_df counts in
    // how many CLASSES the term appears — vocabulary-level idf over a
    // 5-row class axis, so every aggregate after the one corpus
    // tokenize pass is vocab-bounded. The score stays an exact BIGINT
    // (tf × ln-micros, the q189 discipline); the per-class top-10
    // window runs over vocab-sized input with a full (score, term)
    // ordering, so both engines rank identically.
    "q201_ctfidf" -> ((s, d) => {
      val tf = Tables(s, d, "documents")
        .select(col("lang"), explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy(col("lang"), col("w"))
        .agg(count(lit(1)).as("tf"))
      // class cardinality DERIVED from the data (q77's nd pattern — a
      // driver scalar, not a hardcoded corpus property): if the lang
      // axis ever changes, idf weights follow and the oracle (which
      // derives it the same way) still cross-checks
      val k = Tables(s, d, "documents")
        .agg(count_distinct(col("lang"))).head().getLong(0)
      val cdf = tf.groupBy(col("w")).agg(count(lit(1)).as("cdf"))
      val scored = tf.join(cdf, "w")
        // smoothed idf ln(1 + K/cdf) — BERTopic's form: strictly
        // positive even for a term present in every class, so the
        // ranking always has substance (the plain ln(K/cdf) zeroed the
        // whole sf corpus, where all 31 vocabulary terms span all 5
        // langs, and the driver gate compared two empty results)
        .withColumn("score_u", col("tf")
          * round(log(lit(1.0) + lit(k.toDouble) / col("cdf")) * lit(1e6), 0)
            .cast("long"))
        .filter(col("score_u") > 0)
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang"))
        .orderBy(col("score_u").desc, col("w"))
      scored.withColumn("rank", row_number().over(win))
        .filter(col("rank") <= 10)
        .select(col("lang"), col("rank"), col("w").as("term"),
          col("tf"), col("cdf"), col("score_u"))
    }),

    // Compression-ratio quality signal (the Gopher/RefinedWeb filter):
    // deflate each document's UTF-8 bytes with the custom codegen kernel
    // (functions.DeflateLen); boilerplate compresses too well (low
    // ratio), gibberish barely at all (ratio near 1), natural prose sits
    // in a middle band. Narrow map pass, zero shuffles. Rows-only: no
    // SQL engine exposes a compressor, so the kernel is pinned by
    // TextAnalysisSpec (known strings, determinism, codegen parity)
    // instead of a DuckDB oracle.
    "q78_compress_ratio" -> ((s, d) => {
      import graft.functions.textkernels._
      Tables(s, d, "documents")
        .select(col("doc_id"), octet_length(col("text")).as("orig_bytes"),
          deflate_len(col("text")).as("deflate_bytes"))
        .withColumn("ratio", round(
          col("deflate_bytes").cast("double") / col("orig_bytes"), 6))
    }),

    // q184 readability scoring (Flesch-reading-ease form): words from
    // whitespace tokens, sentences from [.!?] runs (min 1), syllables
    // approximated as vowel-group runs — all regexp counts that parse
    // identically under Java regex and RE2. The score evaluates as ONE
    // exact integer numerator (the Flesch constants ×1000) over one
    // double division — float-chained subtraction landed on a
    // round-half knife edge at sf0.1, integer-exact arithmetic cannot.
    // Narrow map pass, zero corpus shuffles — the quality-scoring
    // family (q28) extended with the classic readability screen.
    "q184_readability" -> ((s, d) =>
      Tables(s, d, "documents")
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("words"),
          greatest(regexp_count(col("text"), lit("[.!?]+")), lit(1))
            .cast("long").as("sentences"),
          greatest(regexp_count(lower(col("text")), lit("[aeiouy]+")),
            lit(1)).cast("long").as("syllables"))
        .select(col("doc_id"), col("words"), col("sentences"),
          col("syllables"),
          round((lit(206835L) * col("sentences") * col("words")
            - lit(1015L) * col("words") * col("words")
            - lit(84600L) * col("syllables") * col("sentences"))
            .cast("double")
            / (lit(1000.0) * col("sentences") * col("words")), 6)
            .as("flesch"))),

    // q185 Zipf's-law fit: log-log OLS of count against frequency rank
    // over the top-100 words — the corpus-statistics sanity check (a
    // natural corpus slopes near -1; synthetic/templated text drifts).
    // The word count is q0's shuffle; the rank window runs over the
    // TOP-100 rows (bounded), and every OLS moment reduces decimally
    // before the closed-form doubles, so the fit hash-compares.
    "q185_zipf_fit" -> ((s, d) => {
      val counts = Tables(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")
        .groupBy(col("word")).agg(count(lit(1)).as("n"))
      val top = counts.orderBy(col("n").desc, col("word")).limit(100)
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("n").desc, col("word"))))
      val m = top.select(log(col("rank").cast("double")).as("lx"),
          log(col("n").cast("double")).as("ly"))
        .agg(count(lit(1)).as("k"),
          sum(col("lx").cast("decimal(28,10)")).cast("double").as("sx"),
          sum(col("ly").cast("decimal(28,10)")).cast("double").as("sy"),
          sum((col("lx") * col("lx")).cast("decimal(28,10)"))
            .cast("double").as("sxx"),
          sum((col("lx") * col("ly")).cast("decimal(28,10)"))
            .cast("double").as("sxy"))
      m.select(col("k").as("n_words"),
        round((col("sxy") - col("sx") * col("sy") / col("k"))
          / (col("sxx") - col("sx") * col("sx") / col("k")), 6)
          .as("slope"),
        round((col("sy") - (col("sxy") - col("sx") * col("sy") / col("k"))
          / (col("sxx") - col("sx") * col("sx") / col("k")) * col("sx"))
          / col("k"), 6).as("intercept"))
    }),

    // Language-ID by stopword-marker frequency (n-gram-free heuristic):
    // score each candidate language by marker-token occurrences, pick the
    // argmax with a fixed precedence; confusion matrix vs the labeled
    // `lang` column as output. Per-doc predictions live in
    // [[heuristicLang]] (shared with q264's agreement audit).
    "q27_lang_id" -> ((s, d) =>
      heuristicLang(Tables(s, d, "documents"))
        .groupBy(col("lang"), col("pred_h").as("predicted"))
        .agg(count(lit(1)).as("n"))),

    // Per-document quality score: length, stopword ratio, mean token
    // length — weighted into [0,1].
    "q28_text_quality" -> ((s, d) =>
      Tables(s, d, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("tk"))
        .withColumn("n_tokens", size(col("tk")))
        .withColumn("stop_ratio", expr(
          s"""CAST(size(filter(tk, t -> array_contains(${markerArray(enMarkers)}, t)))
             | AS DOUBLE) / size(tk)""".stripMargin))
        .withColumn("avg_len", expr(
          "CAST(aggregate(transform(tk, t -> length(t)), 0, (acc, x) -> acc + x) AS DOUBLE) / size(tk)"))
        .withColumn("score", round(
          lit(0.5) * least(col("n_tokens") / 100.0, lit(1.0)) +
            lit(0.3) * (lit(1.0) - col("stop_ratio")) +
            lit(0.2) * least(col("avg_len") / 10.0, lit(1.0)), 6))
        .select(col("doc_id"), col("n_tokens"),
          round(col("stop_ratio"), 6).as("stop_ratio"),
          round(col("avg_len"), 6).as("avg_len"), col("score"))),

    // Token counting: whitespace tokens + regex (BPE-ish word/digit/punct
    // classes) tokens, aggregated per (lang, source).
    "q29_token_count" -> ((s, d) =>
      Tables(s, d, "documents")
        .withColumn("ws_tokens", size(split(col("text"), " ")))
        .withColumn("re_tokens",
          regexp_count(col("text"), lit("[a-z0-9]+")))
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ws_tokens")).as("sum_ws_tokens"),
          sum(col("re_tokens")).as("sum_re_tokens"),
          (sum(col("ws_tokens")).cast("double") / count(lit(1)))
            .as("avg_ws_tokens"))),

    // Document fingerprint: minimum md5 over all character 8-grams —
    // a winnowing-style rolling fingerprint, stable under content moves.
    "q30_fingerprint" -> ((s, d) =>
      Tables(s, d, "documents")
        .select(col("doc_id"), fingerprint(col("text")).as("fp"))),

    // the xxhash64 production twin of q30 (rows-only; see fingerprintXx)
    "text_fingerprint_xx" -> ((s, d) =>
      Tables(s, d, "documents")
        .select(col("doc_id"), fingerprintXx(col("text")).as("fp"))),

    // Heavy hitters: top-10 corpus tokens via the Misra-Gries
    // approx_top_k sketch (capacity 64). The test vocabulary is smaller
    // than the capacity, so the sketch is EXACT here and hash-checkable
    // against a plain count — while keeping the sketch's scale contract:
    // 64 counters per mapper is the whole shuffle payload regardless of
    // corpus size.
    "q46_freq_items" -> ((s, d) => {
      import graft.functions.sketches._
      Tables(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
        .agg(approx_top_k(col("w"), 64, 10).as("top"))
        .select(explode(col("top")).as("t"))
        .select(col("t.item").as("word"), col("t.cnt").as("n"))
    }),

    // q219 GROUPED heavy hitters: the Misra-Gries sketch as a real
    // per-group aggregate — top-5 tokens PER LANGUAGE in one
    // aggregation (TypedImperativeAggregate partial buffers merge per
    // group; the shuffle carries ≤ capacity counters per (lang,
    // mapper), never the token stream). Capacity 64 exceeds the test
    // vocabulary so the sketch is exact and hash-checkable against the
    // plain grouped count — q46's contract, held per group.
    "q219_freq_items_grouped" -> ((s, d) => {
      import graft.functions.sketches._
      Tables(s, d, "documents")
        .select(col("lang"), explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("lang"))
        .agg(approx_top_k(col("w"), 64, 5).as("top"))
        .select(col("lang"), posexplode(col("top")))
        .select(col("lang"), (col("pos") + 1).cast("long").as("rk"),
          col("col.item").as("word"), col("col.cnt").as("n"))
    }),

    // Exemplar selection: the highest-quality document per (lang, source)
    // stratum via max_by — one aggregation, no window sort. The ordering
    // key packs (score, doc_id) into one BIGINT (score·10⁶ ≤ 10⁶ and
    // doc_id < 2³² keep it exact) so ties break on min doc_id in both
    // engines deterministically.
    "q49_best_doc" -> ((s, d) => {
      val scored = Tables(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("source"),
          split(col("text"), " ").as("tk"))
        .withColumn("n_tokens", size(col("tk")))
        .withColumn("stop_ratio", expr(
          s"""CAST(size(filter(tk, t -> array_contains(${markerArray(enMarkers)}, t)))
             | AS DOUBLE) / size(tk)""".stripMargin))
        .withColumn("avg_len", expr(
          "CAST(aggregate(transform(tk, t -> length(t)), 0, (acc, x) -> acc + x) AS DOUBLE) / size(tk)"))
        .withColumn("score", round(
          lit(0.5) * least(col("n_tokens") / 100.0, lit(1.0)) +
            lit(0.3) * (lit(1.0) - col("stop_ratio")) +
            lit(0.2) * least(col("avg_len") / 10.0, lit(1.0)), 6))
        // round() before the long cast: Spark's cast truncates toward
        // zero while DuckDB's CAST rounds to nearest, so score·10⁶
        // landing at N-ε would otherwise yield different keys per engine
        .withColumn("okey",
          round(col("score") * 1000000).cast("long") * 4294967296L
            - col("doc_id"))
      scored.groupBy(col("lang"), col("source"))
        .agg(max_by(col("doc_id"), col("okey")).as("best_doc"),
          max(col("score")).as("best_score"),
          count(lit(1)).as("n_docs"))
    }),

    // Deterministic reproducible sampling: keep a document iff the first
    // hex byte of md5(doc_id) is below the threshold — ≈25% sample that
    // is IDENTICAL across engines, runs, and cluster sizes (md5 is the
    // shared hash; fixed-width lowercase hex compares lexicographically
    // as numerically). The reproducible train-subset primitive: no RNG
    // state, no seed drift, stable under repartitioning.
    "q50_deterministic_sample" -> ((s, d) =>
      Tables(s, d, "documents")
        .filter(substring(md5(col("doc_id").cast("string")), 1, 2) < "40")
        .select(col("doc_id"), col("lang"), col("source"))),

    // Token-budget packing: per language, keep the largest documents
    // until a token budget is hit — the "fill the training mix quota"
    // pass of a curation pipeline. One shuffle on lang + a running-sum
    // window; deterministic order (tokens desc, doc_id). At 100 TB the
    // per-language sort is the cost: if one language dominates, switch
    // to a two-pass threshold estimate (sample the token distribution,
    // cut at the quantile, exact-trim the boundary) instead of a full
    // sort — same output, no single giant partition sort. That form is
    // implemented as q56_quantile_budget (quantileTokenBudget below).
    "q40_token_budget" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("n_tokens").desc, col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
        .filter(col("cum_tokens") <= 5000)
    }),

    // Token-budget packing WITHOUT the full per-language sort — the
    // skew-safe form of q40 (same output, oracle-checked against the
    // same SQL). See quantileTokenBudget.
    "q56_quantile_budget" -> ((s, d) =>
      quantileTokenBudget(
        Tables(s, d, "documents")
          .select(col("doc_id"), col("lang"),
            size(split(col("text"), " ")).cast("long").as("n_tokens")),
        5000L)),

    "q54_full_curation" -> ((s, d) => fullCuration(s, d)),

    // Capstone: the curation pipeline end-to-end in ONE Catalyst plan —
    // quality-score filter → exact-dedup keeper selection → per-language
    // token budget. Each stage is a narrow transform or one shuffle; the
    // optimizer fuses the whole chain (this is R10's "multi-round MR
    // pipeline" as a single declarative query, applied to the engine's
    // real purpose).
    "q39_curation_pipeline" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("text"),
          split(col("text"), " ").as("tk"))
        .withColumn("n_tokens", size(col("tk")))
        .withColumn("stop_ratio", expr(
          s"""CAST(size(filter(tk, t -> array_contains(${markerArray(enMarkers)}, t)))
             | AS DOUBLE) / size(tk)""".stripMargin))
        .withColumn("avg_len", expr(
          "CAST(aggregate(transform(tk, t -> length(t)), 0, (acc, x) -> acc + x) AS DOUBLE) / size(tk)"))
        .withColumn("score",
          lit(0.5) * least(col("n_tokens") / 100.0, lit(1.0)) +
            lit(0.3) * (lit(1.0) - col("stop_ratio")) +
            lit(0.2) * least(col("avg_len") / 10.0, lit(1.0)))
        .filter(col("score") >= 0.5)
      // no hint on the keeper join: one keeper per DISTINCT text shrinks
      // with the dup rate but grows with the corpus, so AQE owns it
      val keepers = docs.groupBy(col("text").as("ktext"))
        .agg(min(col("doc_id")).as("keeper"))
      docs.join(keepers,
          docs("doc_id") === keepers("keeper") &&
            docs("text") === keepers("ktext"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          // order-independent mean: exact decimal sum, then one division
          round(sum(col("score").cast("decimal(20,12)")).cast("double")
            / count(lit(1)), 6).as("avg_score"))
    })
  )

  /** Skew-safe token-budget packing: q40's exact semantics (keep docs in
    * (n_tokens desc, doc_id) order per language while the running token
    * sum stays ≤ budget) WITHOUT sorting every document of a language in
    * one window partition.
    *
    * Two passes:
    *  1. Histogram: aggregate doc counts/token sums per (lang, n_tokens)
    *     — a map-side-combining shuffle on a bounded key space (token
    *     counts, not docs). A running sum over the tiny histogram finds
    *     each language's threshold: the smallest n_tokens whose group
    *     still starts inside the budget (prefix < budget).
    *  2. Exact trim: broadcast the per-lang thresholds back, keep only
    *     candidate docs (n_tokens ≥ threshold) — a set whose total token
    *     mass is ≤ budget + one boundary group — and run q40's window on
    *     just those. Running sums match the full sort's because every
    *     non-candidate sorts strictly after every candidate.
    *
    * At 100 TB with one dominant language, q40's window sorts that whole
    * language in one partition; here the big data only sees the
    * histogram group-by and a broadcast semi-filter, and the sort input
    * is bounded by the budget, not the corpus.
    */
  private[graft] def quantileTokenBudget(tokens: DataFrame, budget: Long)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = tokens.groupBy(col("lang"), col("n_tokens"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("n_tokens")).as("grp_tokens"))
    val wHist = Window.partitionBy(col("lang"))
      .orderBy(col("n_tokens").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // group's tokens start at `prefix` in the per-lang running order;
    // n_tokens ≥ 1, so the kept set is a strict prefix and at most one
    // group straddles the budget
    val thresholds = hist
      .withColumn("prefix",
        sum(col("grp_tokens")).over(wHist) - col("grp_tokens"))
      .filter(col("prefix") < budget)
      .groupBy(col("lang")).agg(min(col("n_tokens")).as("thr"))
      .withColumnRenamed("lang", "t_lang")
    val candidates = tokens
      .join(broadcast(thresholds),
        col("lang") === col("t_lang") && col("n_tokens") >= col("thr"))
      .select(col("doc_id"), col("lang"), col("n_tokens"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("n_tokens").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    candidates.withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= budget)
  }

  /** Capstone 2: the FULL curation chain in one Catalyst plan — quality
    * scoring → filter → exact-dedup keeper selection → deterministic
    * 50% sample (md5 threshold, q50's primitive) → per-language token
    * budget via the q56 TWO-PASS form (histogram threshold estimate +
    * exact boundary trim): the budget window runs over the
    * budget-bounded candidate set, never the corpus — a plain per-lang
    * cumulative here was the q40 coarse-group hazard (few langs → each
    * lang one corpus-sized sort task at 100 TB; round 9). Stage costs:
    * one narrow scoring pass, one dedup shuffle + keeper join, a free
    * filter, one bounded-histogram shuffle, one window over ≤ budget +
    * one-straddling-group rows.
    */
  private[graft] def fullCuration(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val budget = 4000L
    val scored = Tables(s, d, "documents")
      .select(col("doc_id"), col("lang"), col("text"),
        split(col("text"), " ").as("tk"))
      .withColumn("n_tokens", size(col("tk")).cast("long"))
      .withColumn("stop_ratio", expr(
        s"""CAST(size(filter(tk, t -> array_contains(${markerArray(enMarkers)}, t)))
           | AS DOUBLE) / size(tk)""".stripMargin))
      .withColumn("avg_len", expr(
        "CAST(aggregate(transform(tk, t -> length(t)), 0, (acc, x) -> acc + x) AS DOUBLE) / size(tk)"))
      .withColumn("score", round(
        lit(0.5) * least(col("n_tokens") / 100.0, lit(1.0)) +
          lit(0.3) * (lit(1.0) - col("stop_ratio")) +
          lit(0.2) * least(col("avg_len") / 10.0, lit(1.0)), 6))
      .filter(col("score") >= 0.4)
    val keepers = scored.groupBy(col("text").as("ktext"))
      .agg(min(col("doc_id")).as("keeper"))
    val deduped = scored.join(keepers,
        scored("doc_id") === keepers("keeper") &&
          scored("text") === keepers("ktext"))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("score"))
    val sampled = deduped
      .filter(substring(md5(col("doc_id").cast("string")), 1, 2) < "80")
    // q56's threshold trick: the per-(lang, n_tokens) histogram is
    // bounded by distinct doc lengths; its prefix walk finds the token
    // count at which each lang's budget crosses, and only docs at or
    // above that threshold (≤ budget tokens + the one straddling
    // group) reach the exact cumulative window
    val hist = sampled.groupBy(col("lang"), col("n_tokens"))
      .agg(sum(col("n_tokens")).as("grp_tokens"))
    val wHist = Window.partitionBy(col("lang"))
      .orderBy(col("n_tokens").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val thresholds = hist
      .withColumn("prefix",
        sum(col("grp_tokens")).over(wHist) - col("grp_tokens"))
      .filter(col("prefix") < budget)
      .groupBy(col("lang")).agg(min(col("n_tokens")).as("thr"))
      .withColumnRenamed("lang", "t_lang")
    val candidates = sampled
      .join(broadcast(thresholds),
        col("lang") === col("t_lang") && col("n_tokens") >= col("thr"))
      .drop("t_lang", "thr")
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("n_tokens").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    candidates.withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= budget)
  }

  private def markerList(ws: Seq[String]): String =
    ws.map(w => s"'$w'").mkString("[", ", ", "]")

  def oracle: Map[String, String] = Map(
    "q266_unseen_mass" ->
      """WITH tk AS (SELECT source,
        |    unnest(string_split(text, ' ')) AS w FROM documents),
        |tf AS (SELECT source, w, count(*) AS f FROM tk
        |       WHERE len(w) > 0 GROUP BY 1, 2),
        |a AS (SELECT source, CAST(sum(f) AS BIGINT) AS n_tokens,
        |    CAST(count(*) AS BIGINT) AS n_types,
        |    CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_hapax
        |  FROM tf GROUP BY source)
        |SELECT source, n_tokens, n_types, n_hapax,
        |  round(CAST(n_hapax AS DOUBLE) / n_tokens, 6) AS unseen_mass,
        |  round(CAST(n_types AS DOUBLE) / n_tokens, 6) AS ttr
        |FROM a""".stripMargin,
    // q263: the oracle keeps the plain window ranking (DuckDB-side
    // only); the engine's withRank is row_number-identical by spec
    "q263_vocab_coverage" -> {
      val ks = Seq(256L, 1024L, 4096L, 16384L)
      val sums = ks.map(k =>
        s"CAST(COALESCE(sum(freq) FILTER (rnk <= $k), 0) AS BIGINT)" +
          s" AS c$k").mkString(",\n        ")
      val rows = ks.map(k =>
        s"""SELECT CAST($k AS BIGINT) AS vocab_size, nvocab AS n_vocab,
           |  c$k AS covered_tokens,
           |  round(1.0 - CAST(c$k AS DOUBLE) / tot, 6) AS oov_rate
           |FROM a""".stripMargin).mkString("\nUNION ALL\n")
      s"""WITH tk AS (SELECT unnest(string_split(text, ' ')) AS w
         |            FROM documents),
         |t2 AS (SELECT w FROM tk WHERE len(w) > 0),
         |v AS (SELECT w, CAST(count(*) AS BIGINT) AS freq FROM t2
         |      GROUP BY w),
         |r AS (SELECT freq,
         |        row_number() OVER (ORDER BY freq DESC, w) AS rnk FROM v),
         |a AS (SELECT CAST(sum(freq) AS BIGINT) AS tot,
         |        CAST(count(*) AS BIGINT) AS nvocab,
         |        $sums
         |      FROM r)
         |$rows""".stripMargin
    },
    "q201_ctfidf" ->
      """WITH tok AS (SELECT lang, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |k AS (SELECT COUNT(DISTINCT lang) AS k FROM documents),
        |tf AS (SELECT lang, w, COUNT(*) AS tf FROM tok
        |  WHERE len(w) > 0 GROUP BY lang, w),
        |cdf AS (SELECT w, COUNT(*) AS cdf FROM tf GROUP BY w),
        |scored AS (SELECT tf.lang, tf.w, tf.tf, cdf.cdf,
        |    tf.tf * CAST(round(ln(1.0 + CAST(k.k AS DOUBLE) / cdf.cdf)
        |      * 1000000, 0) AS BIGINT) AS score_u
        |  FROM tf JOIN cdf ON tf.w = cdf.w, k),
        |r AS (SELECT lang, w, tf, cdf, score_u,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY score_u DESC, w) AS rank
        |  FROM scored WHERE score_u > 0)
        |SELECT lang, CAST(rank AS INTEGER) AS rank, w AS term, tf,
        |  CAST(cdf AS BIGINT) AS cdf, score_u
        |FROM r WHERE rank <= 10""".stripMargin,
    "q184_readability" ->
      """WITH c AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS words,
        |    CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
        |      AS BIGINT) AS sentences,
        |    CAST(greatest(len(regexp_extract_all(lower(text),
        |      '[aeiouy]+')), 1) AS BIGINT) AS syllables
        |  FROM documents)
        |SELECT doc_id, words, sentences, syllables,
        |  round(CAST(206835 * sentences * words - 1015 * words * words
        |      - 84600 * syllables * sentences AS DOUBLE)
        |    / (1000.0 * sentences * words), 6) AS flesch
        |FROM c""".stripMargin,
    "q185_zipf_fit" ->
      """WITH counts AS (SELECT word, COUNT(*) AS n
        |  FROM (SELECT unnest(string_split(text, ' ')) AS word
        |        FROM documents)
        |  WHERE word <> '' GROUP BY word),
        |top AS (SELECT n, row_number() OVER (ORDER BY n DESC, word)
        |    AS rank
        |  FROM counts ORDER BY n DESC, word LIMIT 100),
        |l AS (SELECT ln(CAST(rank AS DOUBLE)) AS lx,
        |    ln(CAST(n AS DOUBLE)) AS ly FROM top),
        |m AS (SELECT COUNT(*) AS k,
        |  CAST(SUM(CAST(lx AS DECIMAL(28,10))) AS DOUBLE) AS sx,
        |  CAST(SUM(CAST(ly AS DECIMAL(28,10))) AS DOUBLE) AS sy,
        |  CAST(SUM(CAST(lx * lx AS DECIMAL(28,10))) AS DOUBLE) AS sxx,
        |  CAST(SUM(CAST(lx * ly AS DECIMAL(28,10))) AS DOUBLE) AS sxy
        | FROM l)
        |SELECT k AS n_words,
        |  round((sxy - sx * sy / k) / (sxx - sx * sx / k), 6) AS slope,
        |  round((sy - (sxy - sx * sy / k) / (sxx - sx * sx / k) * sx)
        |    / k, 6) AS intercept
        |FROM m""".stripMargin,
    "q27_lang_id" ->
      s"""WITH t AS (SELECT lang, string_split(text, ' ') AS tk FROM documents),
         |sc AS (SELECT lang,
         |  len(list_filter(tk, t -> list_contains(${markerList(enMarkers)}, t))) AS s_en,
         |  len(list_filter(tk, t -> list_contains(${markerList(esMarkers)}, t))) AS s_es,
         |  len(list_filter(tk, t -> list_contains(${markerList(deMarkers)}, t))) AS s_de
         | FROM t)
         |SELECT lang,
         |  CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en > 0 THEN 'en'
         |       WHEN s_es >= s_de AND s_es > 0 THEN 'es'
         |       WHEN s_de > 0 THEN 'de'
         |       ELSE 'und' END AS predicted,
         |  count(*) AS n
         |FROM sc GROUP BY 1, 2""".stripMargin,
    "q28_text_quality" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
         |m AS (SELECT doc_id, len(tk) AS n_tokens,
         |  CAST(len(list_filter(tk, t -> list_contains(${markerList(enMarkers)}, t)))
         |    AS DOUBLE) / len(tk) AS stop_ratio,
         |  CAST(list_sum(list_transform(tk, t -> length(t))) AS DOUBLE)
         |    / len(tk) AS avg_len
         | FROM t)
         |SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
         |  round(stop_ratio, 6) AS stop_ratio, round(avg_len, 6) AS avg_len,
         |  round(0.5 * least(n_tokens / 100.0, 1.0)
         |      + 0.3 * (1.0 - stop_ratio)
         |      + 0.2 * least(avg_len / 10.0, 1.0), 6) AS score
         |FROM m""".stripMargin,
    "q29_token_count" ->
      """SELECT lang, source, count(*) AS n_docs,
        | CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_ws_tokens,
        | CAST(sum(len(regexp_extract_all(text, '[a-z0-9]+'))) AS BIGINT)
        |   AS sum_re_tokens,
        | CAST(sum(len(string_split(text, ' '))) AS DOUBLE) / count(*)
        |   AS avg_ws_tokens
        |FROM documents GROUP BY 1, 2""".stripMargin,
    "q30_fingerprint" ->
      """SELECT doc_id,
        | list_min([md5(substr(text, i, 8)) FOR i IN range(1, len(text) - 6)])
        |   AS fp
        |FROM documents""".stripMargin,
    "q54_full_curation" ->
      s"""WITH raw AS (
         |  SELECT doc_id, lang, text, CAST(len(tk) AS BIGINT) AS n_tokens,
         |    round(0.5 * least(len(tk) / 100.0, 1.0)
         |    + 0.3 * (1.0 - CAST(len(list_filter(tk, t ->
         |        list_contains(${markerList(enMarkers)}, t))) AS DOUBLE) / len(tk))
         |    + 0.2 * least((CAST(list_sum(list_transform(tk, t -> length(t)))
         |        AS DOUBLE) / len(tk)) / 10.0, 1.0), 6) AS score
         |  FROM (SELECT doc_id, lang, text, string_split(text, ' ') AS tk
         |        FROM documents)),
         |scored AS (SELECT * FROM raw WHERE score >= 0.4),
         |k AS (SELECT text AS ktext, min(doc_id) AS keeper
         |      FROM scored GROUP BY text),
         |dd AS (SELECT doc_id, lang, n_tokens, score
         |       FROM scored JOIN k
         |         ON scored.doc_id = k.keeper AND scored.text = k.ktext),
         |samp AS (SELECT * FROM dd
         |         WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '80'),
         |c AS (SELECT doc_id, lang, n_tokens, score,
         |  CAST(SUM(n_tokens) OVER (PARTITION BY lang
         |    ORDER BY n_tokens DESC, doc_id ROWS UNBOUNDED PRECEDING)
         |    AS BIGINT) AS cum_tokens FROM samp)
         |SELECT * FROM c WHERE cum_tokens <= 4000""".stripMargin,
    "q49_best_doc" ->
      s"""WITH m AS (SELECT doc_id, lang, source,
         |  round(0.5 * least(len(tk) / 100.0, 1.0)
         |  + 0.3 * (1.0 - CAST(len(list_filter(tk, t ->
         |      list_contains(${markerList(enMarkers)}, t))) AS DOUBLE) / len(tk))
         |  + 0.2 * least((CAST(list_sum(list_transform(tk, t -> length(t)))
         |      AS DOUBLE) / len(tk)) / 10.0, 1.0), 6) AS score
         |  FROM (SELECT doc_id, lang, source, string_split(text, ' ') AS tk
         |        FROM documents))
         |SELECT lang, source,
         |  arg_max(doc_id, CAST(round(score * 1000000) AS BIGINT) * 4294967296
         |                  - doc_id) AS best_doc,
         |  max(score) AS best_score,
         |  COUNT(*) AS n_docs
         |FROM m GROUP BY lang, source""".stripMargin,
    "q50_deterministic_sample" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '40'"""
        .stripMargin,
    "q46_freq_items" ->
      """SELECT word, n FROM (
        | SELECT word, COUNT(*) AS n FROM (
        |  SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        | WHERE word <> '' GROUP BY word)
        |ORDER BY n DESC, word LIMIT 10""".stripMargin,
    "q219_freq_items_grouped" ->
      """SELECT lang, CAST(rk AS BIGINT) AS rk, word, n FROM (
        | SELECT lang, word, n, ROW_NUMBER() OVER (PARTITION BY lang
        |     ORDER BY n DESC, word) AS rk
        | FROM (SELECT lang, word, COUNT(*) AS n FROM (
        |   SELECT lang, unnest(string_split(text, ' ')) AS word
        |   FROM documents)
        |  WHERE word <> '' GROUP BY lang, word))
        |WHERE rk <= 5""".stripMargin,
    "q40_token_budget" ->
      """WITH t AS (SELECT doc_id, lang,
        |  len(string_split(text, ' ')) AS n_tokens FROM documents),
        |c AS (SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(SUM(n_tokens) OVER (PARTITION BY lang
        |    ORDER BY n_tokens DESC, doc_id ROWS UNBOUNDED PRECEDING)
        |    AS BIGINT) AS cum_tokens FROM t)
        |SELECT * FROM c WHERE cum_tokens <= 5000""".stripMargin,
    // same semantics as q40 — the Spark side differs only in HOW (two-
    // pass histogram threshold instead of a full per-lang sort)
    "q56_quantile_budget" ->
      """WITH t AS (SELECT doc_id, lang,
        |  len(string_split(text, ' ')) AS n_tokens FROM documents),
        |c AS (SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(SUM(n_tokens) OVER (PARTITION BY lang
        |    ORDER BY n_tokens DESC, doc_id ROWS UNBOUNDED PRECEDING)
        |    AS BIGINT) AS cum_tokens FROM t)
        |SELECT * FROM c WHERE cum_tokens <= 5000""".stripMargin,
    "q39_curation_pipeline" ->
      s"""WITH scored AS (
         |  SELECT doc_id, lang, text, len(tk) AS n_tokens,
         |    0.5 * least(len(tk) / 100.0, 1.0)
         |    + 0.3 * (1.0 - CAST(len(list_filter(tk, t ->
         |        list_contains(${markerList(enMarkers)}, t))) AS DOUBLE) / len(tk))
         |    + 0.2 * least((CAST(list_sum(list_transform(tk, t -> length(t)))
         |        AS DOUBLE) / len(tk)) / 10.0, 1.0) AS score
         |  FROM (SELECT doc_id, lang, text, string_split(text, ' ') AS tk
         |        FROM documents)),
         |q AS (SELECT * FROM scored WHERE score >= 0.5),
         |k AS (SELECT text AS ktext, min(doc_id) AS keeper FROM q GROUP BY text)
         |SELECT lang, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         |  round(CAST(SUM(CAST(score AS DECIMAL(20,12))) AS DOUBLE)
         |        / count(*), 6) AS avg_score
         |FROM q JOIN k ON q.doc_id = k.keeper AND q.text = k.ktext
         |GROUP BY lang""".stripMargin
  )
}
