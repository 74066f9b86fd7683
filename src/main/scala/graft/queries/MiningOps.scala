package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Pattern-mining operators — the frequent-itemset and preference-query
  * surface (reference users run these as multi-round MapReduce chains;
  * here each is one Catalyst plan):
  *
  *  - q134 association rules: frequent token PAIRS over `documents`
  *    with support / confidence / lift, Apriori-pruned — items below
  *    min-support are dropped BEFORE the pair self-join, the classic
  *    anti-monotonicity cut [Agrawal & Srikant, VLDB'94] that bounds
  *    the join to frequent-item baskets only.
  *  - q138 skyline (Pareto frontier) of suppliers maximizing
  *    (best item price, item count): two-phase — a sound bucket-prune pass
  *    (per-bucket max cascades from the high-revenue side) shrinks the
  *    corpus-scale input to a skyline-biased candidate set, then an
  *    exact windowed pass runs over the survivors [Börzsönyi ICDE'01
  *    block-nested skyline, re-expressed as prune + window].
  *
  * Both are oracle-checked: the rule metrics are ratios of exact
  * BIGINTs (one IEEE division, bit-identical cross-engine) and the
  * skyline oracle is the quadratic NOT EXISTS dominance definition.
  */
object MiningOps {

  /** Pair support threshold as an exact fraction: n * DEN >= total * NUM
    * avoids a float threshold the two engines could round differently.
    * 5% of docs.
    */
  private val SupNum = 1L
  private val SupDen = 20L

  /** q275 pairwise source Jensen-Shannon divergence [Lin, IEEE-IT'91]
    * — the DISTRIBUTION-aware companion to q229's set-overlap matrix:
    * two sources can share most of their vocabulary (high Jaccard) yet
    * use it at wildly different rates; JSD over the unigram
    * distributions is symmetric, bounded by ln 2, and zero — up to the
    * ~1e-6 micro-rounding of the intersection mass sums below, which
    * can leave a few micros of phantom exclusive mass even for
    * identical mixes — iff the token mixes are identical; the pairwise
    * distance a mixing planner clusters sources by.
    *
    * Decomposition that avoids a full-outer word join: intersection
    * words contribute the usual ½p·ln(p/m) + ½q·ln(q/m); every word
    * EXCLUSIVE to one side contributes exactly ½·ln2 times its
    * probability mass (m = p/2 there), so the exclusive tail folds to
    * ½·ln2·(2 − Σ_int p − Σ_int q) — computable from the SAME
    * intersection join. Determinism: every per-word term AND the two
    * intersection mass sums round to integer MICROS before summing
    * (per-word contributions can be individually negative; both
    * engines round half-away identically), so the reductions are
    * order-free longs. Pairs sharing no vocabulary are absent by
    * construction (their JSD is exactly ln 2).
    *
    * Cost shape: one corpus tokenize → (source, w) counts → self-join
    * on the word key (fan-out ≤ |sources|² per word — bounded by the
    * source catalog, q229's argument) → |source-pairs| output rows.
    */
  def sourceJsd(docs: DataFrame): DataFrame = {
    val tf = docs
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
    val tot = tf.groupBy(col("source")).agg(sum(col("c")).as("n"))
    val st = tf.join(broadcast(tot), "source")
    val a = st.select(col("source").as("sa"), col("w"),
      col("c").as("ca"), col("n").as("na"))
    val b = st.select(col("source").as("sb"), col("w"),
      col("c").as("cb"), col("n").as("nb"))
    val p = col("ca").cast("double") / col("na")
    val q = col("cb").cast("double") / col("nb")
    val m = (p + q) / 2
    val contrib = round((lit(0.5) * p * log(p / m)
      + lit(0.5) * q * log(q / m)) * 1e6, 0).cast("long")
    val halfLn2 = lit(math.log(2.0) / 2)
    a.join(b, Seq("w")).filter(col("sa") < col("sb"))
      .groupBy(col("sa"), col("sb"))
      .agg(count(lit(1)).as("n_shared_words"),
        sum(contrib).as("jm"),
        sum(round(p * lit(1e6), 0).cast("long")).as("sam"),
        sum(round(q * lit(1e6), 0).cast("long")).as("sbm"))
      .select(col("sa").as("source_a"), col("sb").as("source_b"),
        col("n_shared_words"),
        round((col("jm") + round(halfLn2
          * (lit(2000000L) - col("sam") - col("sbm")), 0).cast("long"))
          / lit(1e6), 6).as("jsd_nats"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Map[String, (SparkSession, String) => DataFrame](
      "q134_assoc_rules" -> ((s, d) => assocRules(s, d)),
      "q138_skyline" -> ((s, d) => supplierSkyline(s, d)),
      "q190_pmi_collocations" -> ((s, d) => pmiCollocations(s, d)),
      "q207_freq_triples" -> ((s, d) => freqTriples(s, d)),
      "q275_source_jsd" -> ((s, d) =>
        sourceJsd(Tables(s, d, "documents"))))

  /** q207 frequent TRIPLES — the Apriori level-3 pass above q134's
    * pairs [VLDB'94]: candidate (a, b, c) baskets come from joining the
    * already-support-filtered PAIR hits with frequent-ITEM hits on the
    * doc key (the classic Lₖ₋₁ ⋈ L₁ candidate join — anti-monotonicity
    * means a frequent triple's (a, b) prefix must be a frequent pair,
    * so the join volume is bounded by surviving-pair density, never
    * tokens³). Counts are one grouped aggregation on the candidate
    * stream; the support cut is the same exact-fraction compare as
    * q134 (no float threshold).
    */
  private def freqTriples(s: SparkSession, d: String): DataFrame = {
    val b = baskets(s, d)
    val nDocs: Long = Tables(s, d, "documents").count()
    val df = b.groupBy("w").agg(count(lit(1)).as("df"))
    val frequent = df.filter(col("df") * SupDen >= lit(nDocs) * SupNum)
      .select("w")
    val fb = b.join(broadcast(frequent), "w")
    // frequent-pair HITS (doc-level), support-filtered via a semi join
    // against the pair list — the Apriori prune before the 3rd item
    val pairHits = fb.as("a")
      .join(fb.as("b"), col("a.doc_id") === col("b.doc_id") &&
        col("a.w") < col("b.w"))
      .select(col("a.doc_id").as("doc_id"), col("a.w").as("w1"),
        col("b.w").as("w2"))
    val freqPairs = pairHits.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") * SupDen >= lit(nDocs) * SupNum)
      .select(col("w1"), col("w2"))
    pairHits.join(freqPairs, Seq("w1", "w2"), "left_semi").as("p")
      .join(fb.as("c"), col("p.doc_id") === col("c.doc_id") &&
        col("c.w") > col("p.w2"))
      .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"),
        col("c.w").as("w3"))
      .agg(count(lit(1)).as("n_triple"))
      .filter(col("n_triple") * SupDen >= lit(nDocs) * SupNum)
  }

  private val basketCache =
    new graft.SessionCache[Unit, DataFrame](_.unpersist())

  /** Distinct (doc_id, token) baskets — whitespace tokenization, the
    * corpus-wide convention (TextAnalysis oracle parity). Session-
    * pinned ([[graft.SessionCache]]): q207 reads it ~4× and q134 ~3×
    * (the df aggregation plus every self-join side), well past the
    * measured ~8-pass pin threshold across the pair of entries; the
    * pinned relation is the post-distinct pair set, smaller than the
    * exploded stream it distills.
    */
  private[graft] def baskets(s: SparkSession, d: String): DataFrame =
    basketCache(s, d, ()) {
      Tables(s, d, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** Association rules over frequent token pairs.
    *
    * Scale shape: the basket explode is narrow; item df is a
    * vocabulary-sized aggregate; the Apriori cut (df*20 >= n_docs)
    * prunes infrequent items BEFORE the per-doc pair self-join, so the
    * join is co-partitioned on doc_id and generates only
    * frequent-item pairs (worst case k² per doc for k FREQUENT tokens
    * in the doc, not all tokens). Pair counts are a vocab²-bounded
    * aggregate; df sides join back on the pair's words (vocab-sized,
    * broadcast). All metrics are ratios of exact longs.
    */
  private def assocRules(s: SparkSession, d: String): DataFrame = {
    val b = baskets(s, d)
    val nDocs: Long = Tables(s, d, "documents").count()
    val df = b.groupBy("w").agg(count(lit(1)).as("df"))
    val frequent = df.filter(col("df") * SupDen >= lit(nDocs) * SupNum)
    val fb = b.join(broadcast(frequent), "w")
    val pairs = fb.as("a")
      .join(fb.as("b"), col("a.doc_id") === col("b.doc_id") &&
        col("a.w") < col("b.w"))
      .groupBy(col("a.w").as("w1"), col("b.w").as("w2"))
      .agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") * SupDen >= lit(nDocs) * SupNum)
    pairs
      .join(broadcast(frequent.select(col("w").as("w1"),
        col("df").as("df1"))), "w1")
      .join(broadcast(frequent.select(col("w").as("w2"),
        col("df").as("df2"))), "w2")
      .select(col("w1"), col("w2"), col("n_pair"), col("df1"), col("df2"),
        round(col("n_pair").cast("double") / lit(nDocs.toDouble), 4)
          .as("support"),
        round(col("n_pair").cast("double") / col("df1").cast("double"), 4)
          .as("conf_fwd"),
        round(col("n_pair").cast("double") / col("df2").cast("double"), 4)
          .as("conf_rev"),
        round((col("n_pair") * lit(nDocs)).cast("double") /
          (col("df1") * col("df2")).cast("double"), 4).as("lift"))
  }

  /** Exact 2-D skyline (maximize both columns) of a frame with columns
    * (key, rev, n): collapse each rev level to its max n (anything
    * below is dominated within the level), then a strictly-descending
    * running max over rev levels — a level survives iff its max n
    * strictly beats every higher-revenue level. Equal (rev, n) rows
    * are mutually non-dominating and all survive.
    *
    * The level window is global but runs over DISTINCT rev values of
    * the (already pruned) input — callers bound that input.
    */
  private[graft] def skyline2D(per: DataFrame): DataFrame = {
    val levels = per.groupBy(col("rev")).agg(max(col("n")).as("nmax"))
    val desc = Window.orderBy(col("rev").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val live = levels
      .withColumn("prev_max", max(col("nmax")).over(desc))
      .filter(col("prev_max").isNull || col("nmax") > col("prev_max"))
      .select(col("rev"), col("nmax"))
    per.join(broadcast(live), "rev").filter(col("n") === col("nmax"))
      .select(col("key"), col("rev"), col("n"))
  }

  /** Sound pre-prune for [[skyline2D]]: uniform-bucket rev, take each
    * bucket's max n, cascade the running max from strictly higher
    * buckets; any row whose n is strictly below its bucket's cascade
    * threshold is dominated by a point with >= rev and > n. Keeps the
    * exact global pass off corpus-scale input (worst case — all rev
    * equal, or n anti-correlated perfectly — degenerates to the naive
    * form, and the code stays correct, just unpruned).
    */
  private[graft] def skylinePrune(per: DataFrame, buckets: Int)
    : DataFrame = {
    val bounds = per.agg(min(col("rev").cast("double")).as("lo"),
      max(col("rev").cast("double")).as("hi")).head()
    val (lo, hi) = (bounds.getDouble(0), bounds.getDouble(1))
    if (hi <= lo) per
    else {
      val bucketed = per.withColumn("bkt",
        width_bucket(col("rev").cast("double"), lit(lo), lit(hi),
          lit(buckets)))
      val cascade = Window.orderBy(col("bkt").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val thr = bucketed.groupBy("bkt").agg(max(col("n")).as("bmax"))
        .withColumn("thr", max(col("bmax")).over(cascade))
        .select(col("bkt"), col("thr"))
      bucketed.join(broadcast(thr), "bkt")
        .filter(col("thr").isNull || col("n") >= col("thr"))
        .drop("bkt", "thr")
    }
  }

  /** Supplier Pareto frontier on (best single-item price, item count) —
    * two weakly-correlated axes, so the frontier is non-trivial (total
    * revenue vs count collapses to ~1 point: both are volume).
    * Decimal-exact price so the frontier comparison and the final
    * double cast match DuckDB bit-for-bit.
    */
  private def supplierSkyline(s: SparkSession, d: String): DataFrame = {
    val per = Tables(s, d, "lineitem")
      .groupBy(col("l_suppkey").as("key"))
      .agg(max(col("l_extendedprice").cast("decimal(18,2)")).as("rev"),
        count(lit(1)).as("n"))
    skyline2D(skylinePrune(per, 32))
      .select(col("key").as("suppkey"),
        col("rev").cast("double").as("best_price"),
        col("n").as("n_items"))
  }

  /** q190 PMI collocations — the information-theoretic twin of q134's
    * lift, over ADJACENT token pairs (collocations "stick together"
    * when p(xy) >> p(x)p(y) [Church & Hanks, CL 1990]): the standard
    * multiword-expression miner of an LLM tokenizer/phrase pipeline.
    *
    * Counts are exact longs from two grouped passes (bigrams; unigram
    * table, vocab-sized). The corpus totals arrive as driver scalars
    * (q77's nd pattern — a 1-row cross-join would plan a BNLJ), with
    * N_bigrams derived as N_tokens − N_docs (each doc emits len−1
    * bigrams) so no third corpus scan is needed. The PMI itself is a
    * FIXED-ORDER sum of logs of exact integers —
    * ln(c_xy) − ln(c_x) − ln(c_y) + 2·ln(N_u) − ln(N_b) — identical
    * IEEE evaluation in both engines, rounded once. Min-count 5 prunes
    * the unstable low-frequency tail before the unigram joins; output
    * is the deterministic top-25 (pmi, w1, w2) — TakeOrderedAndProject,
    * no global sort.
    */
  private def pmiCollocations(s: SparkSession, d: String): DataFrame = {
    val toks = Tables(s, d, "documents")
      .select(split(col("text"), " ").as("tk"))
    val uni = toks.select(explode(col("tk")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cu"))
    val nu = uni.agg(sum(col("cu"))).head().getLong(0)
    val nb = nu - Tables(s, d, "documents").count()
    // >= 2 tokens before the bigram transform: for a 1-token doc
    // sequence(1, 0) is the DESCENDING [1, 0], whose element_at(tk, 0)
    // throws — the q209 fuzzyPairs lesson; DuckDB's range(1, 1) is
    // simply empty, so the filter is also the oracle's semantics
    val bi = toks.filter(size(col("tk")) >= 2).select(explode(expr(
      """transform(sequence(1, size(tk) - 1),
        |  i -> struct(element_at(tk, i) AS w1,
        |              element_at(tk, i + 1) AS w2))""".stripMargin)).as("b"))
      .groupBy(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= 5)
    bi.join(uni.select(col("w").as("w1"), col("cu").as("cu1")), "w1")
      .join(uni.select(col("w").as("w2"), col("cu").as("cu2")), "w2")
      .select(col("w1"), col("w2"), col("n_pair"),
        round(log(col("n_pair")) - log(col("cu1")) - log(col("cu2"))
          + lit(2.0) * log(lit(nu.toDouble)) - log(lit(nb.toDouble)), 6)
          .as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(25)
  }

  def oracle: Map[String, String] = Map(
    "q275_source_jsd" ->
      """WITH tk AS (SELECT source,
        |    unnest(string_split(text, ' ')) AS w FROM documents),
        |tf AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c FROM tk
        |       WHERE len(w) > 0 GROUP BY 1, 2),
        |tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM tf
        |        GROUP BY 1),
        |st AS (SELECT tf.source, tf.w, tf.c, tot.n
        |       FROM tf JOIN tot USING (source)),
        |j AS (SELECT a.source AS sa, b.source AS sb,
        |    CAST(a.c AS DOUBLE) / a.n AS p,
        |    CAST(b.c AS DOUBLE) / b.n AS q
        |  FROM st a JOIN st b ON a.w = b.w AND a.source < b.source),
        |g AS (SELECT sa, sb, CAST(count(*) AS BIGINT) AS n_shared_words,
        |    CAST(sum(CAST(round((0.5 * p * ln(p / ((p + q) / 2))
        |      + 0.5 * q * ln(q / ((p + q) / 2))) * 1e6, 0) AS BIGINT))
        |      AS BIGINT) AS jm,
        |    CAST(sum(CAST(round(p * 1e6, 0) AS BIGINT)) AS BIGINT)
        |      AS sam,
        |    CAST(sum(CAST(round(q * 1e6, 0) AS BIGINT)) AS BIGINT)
        |      AS sbm
        |  FROM j GROUP BY 1, 2)
        |SELECT sa AS source_a, sb AS source_b, n_shared_words,
        |  round((jm + CAST(round(0.5 * ln(2)
        |    * (2000000 - sam - sbm), 0) AS BIGINT)) / 1e6, 6)
        |    AS jsd_nats
        |FROM g""".stripMargin,
    "q207_freq_triples" ->
      """WITH b AS (
        |  SELECT DISTINCT doc_id, w FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |    FROM documents) WHERE len(w) > 0),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |df AS (SELECT w, count(*) AS df FROM b GROUP BY w),
        |freq AS (SELECT w FROM df, n WHERE df * 20 >= n_docs),
        |fb AS (SELECT b.doc_id, b.w FROM b JOIN freq ON b.w = freq.w),
        |ph AS (SELECT a.doc_id, a.w AS w1, c.w AS w2
        |  FROM fb a JOIN fb c ON a.doc_id = c.doc_id AND a.w < c.w),
        |fp AS (SELECT w1, w2 FROM (
        |    SELECT w1, w2, count(*) AS n_pair FROM ph GROUP BY w1, w2) z,
        |    n WHERE n_pair * 20 >= n_docs),
        |cand AS (SELECT ph.doc_id, ph.w1, ph.w2, c.w AS w3
        |  FROM ph JOIN fp ON ph.w1 = fp.w1 AND ph.w2 = fp.w2
        |  JOIN fb c ON ph.doc_id = c.doc_id AND c.w > ph.w2),
        |t AS (SELECT w1, w2, w3, count(*) AS n_triple
        |  FROM cand GROUP BY w1, w2, w3)
        |SELECT w1, w2, w3, n_triple FROM t, n
        |WHERE n_triple * 20 >= n_docs""".stripMargin,
    "q190_pmi_collocations" ->
      """WITH tk AS (SELECT string_split(text, ' ') AS tk FROM documents),
        |uni AS (SELECT w, count(*) AS cu FROM (
        |    SELECT unnest(tk) AS w FROM tk) GROUP BY w),
        |nu AS (SELECT SUM(cu) AS nu FROM uni),
        |nd AS (SELECT count(*) AS nd FROM documents),
        |bi AS (SELECT w1, w2, count(*) AS n_pair FROM (
        |    SELECT unnest([{'w1': tk[i], 'w2': tk[i+1]}
        |                   FOR i IN range(1, len(tk))], recursive := true)
        |    FROM tk)
        |  GROUP BY w1, w2 HAVING count(*) >= 5)
        |SELECT w1, w2, n_pair,
        |  round(ln(n_pair) - ln(u1.cu) - ln(u2.cu)
        |    + 2.0 * ln(CAST(nu.nu AS DOUBLE))
        |    - ln(CAST(nu.nu - nd.nd AS DOUBLE)), 6) AS pmi
        |FROM bi JOIN uni u1 ON bi.w1 = u1.w
        |        JOIN uni u2 ON bi.w2 = u2.w, nu, nd
        |ORDER BY pmi DESC, w1, w2 LIMIT 25""".stripMargin,
    "q134_assoc_rules" ->
      """WITH b AS (
        |  SELECT DISTINCT doc_id, w FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |    FROM documents) WHERE len(w) > 0),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |df AS (SELECT w, count(*) AS df FROM b GROUP BY w),
        |freq AS (SELECT w, df FROM df, n WHERE df * 20 >= n_docs),
        |fb AS (SELECT b.doc_id, b.w FROM b JOIN freq ON b.w = freq.w),
        |pairs AS (
        |  SELECT a.w AS w1, c.w AS w2, count(*) AS n_pair
        |  FROM fb a JOIN fb c ON a.doc_id = c.doc_id AND a.w < c.w
        |  GROUP BY 1, 2),
        |keep AS (SELECT * FROM pairs, n WHERE n_pair * 20 >= n_docs)
        |SELECT w1, w2, n_pair, f1.df AS df1, f2.df AS df2,
        |  CAST(ROUND(CAST(n_pair AS DOUBLE) / CAST(n_docs AS DOUBLE), 4)
        |       AS DOUBLE) AS support,
        |  CAST(ROUND(CAST(n_pair AS DOUBLE) / CAST(f1.df AS DOUBLE), 4)
        |       AS DOUBLE) AS conf_fwd,
        |  CAST(ROUND(CAST(n_pair AS DOUBLE) / CAST(f2.df AS DOUBLE), 4)
        |       AS DOUBLE) AS conf_rev,
        |  CAST(ROUND(CAST(n_pair * n_docs AS DOUBLE) /
        |             CAST(f1.df * f2.df AS DOUBLE), 4) AS DOUBLE) AS lift
        |FROM keep JOIN freq f1 ON keep.w1 = f1.w
        |          JOIN freq f2 ON keep.w2 = f2.w""".stripMargin,
    "q138_skyline" ->
      """WITH per AS (
        |  SELECT l_suppkey AS suppkey,
        |    MAX(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev,
        |    count(*) AS n_items
        |  FROM lineitem GROUP BY 1)
        |SELECT suppkey, CAST(rev AS DOUBLE) AS best_price, n_items
        |FROM per p
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM per q
        |  WHERE q.rev >= p.rev AND q.n_items >= p.n_items
        |    AND (q.rev > p.rev OR q.n_items > p.n_items))""".stripMargin)
}
