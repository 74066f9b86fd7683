package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** Statistical cleaning + time-frame analytics over the event stream
  * (SURVEY.md §2.11 [EXT]):
  *
  *  - q102 group-wise outlier detection: per-event-type z-scores with
  *    |z| above a cutoff flagged — the "drop corrupt measurements"
  *    cleaning pass. Two stages: a tiny per-type moments aggregation
  *    (one row per event type — bounded vocabulary, broadcast back like
  *    q56's thresholds), then a narrow scoring map over the corpus.
  *    Mean/std derive from EXACT decimal sums (q61's discipline), so
  *    both engines compute bit-identical doubles and the cutoff compare
  *    never flakes.
  *  - q103 time-RANGE window frames: per-user trailing-7-day spend —
  *    `rangeBetween` over event-time MICROSECONDS (q32 covers ROWS
  *    frames; RANGE frames bound by TIME, not row count, are the other
  *    half of the frame surface). Ordering by `unix_micros` rather than
  *    seconds keeps the frame boundary exact — second-truncation would
  *    disagree with the oracle's full-precision interval arithmetic on
  *    events within 1 s of the boundary. One shuffle on user_id; frame
  *    state is per-user and time-bounded, the same boundedness argument
  *    as the streaming watermark ops.
  */
object StatsOps {

  private val dec = DecimalType(18, 4)

  /** Order statistics the q252 Hill estimator averages over (the top
    * k+1 values per group feed the estimate).
    */
  private[graft] val HillK = 50

  /** q102 cutoff: |z| above this is an outlier. */
  val ZCutoff = 2.5

  /** q103 trailing frame width in microseconds (7 days). */
  val FrameMicros = 7L * 24 * 3600 * 1000000

  /** Per-group z-score outliers; moments from exact Sum128 sums
    * (value is 2-dp exact — the scaled-long route equals the decimal
    * cast bit for bit).
    */
  def outliers(ev: DataFrame): DataFrame = {
    import graft.functions.Sum128.{sumExact, sumExactProduct}
    val m = ev.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"),
      sumExact(col("value"), 4).as("sx"),
      sumExactProduct(col("value"), col("value"), 2).as("sxx"))
      .filter(col("n") > 1)
      .select(col("event_type"), (col("sx") / col("n")).as("mean"),
        sqrt((col("sxx") - col("sx") * col("sx") / col("n"))
          / (col("n") - 1)).as("std"))
      // zero-variance groups: Spark's Divide yields NULL where DuckDB's
      // IEEE default yields ±inf — exclude the degenerate group in BOTH
      // engines so the oracle compare can't diverge on constant data
      .filter(col("std") > 0)
    ev.join(broadcast(m), "event_type")
      .withColumn("z", round((col("value") - col("mean")) / col("std"), 4))
      .filter(abs(col("z")) > ZCutoff)
      .select(col("event_id"), col("event_type"), col("value"), col("z"))
  }

  /** q106 bucket count for the equi-depth histogram. */
  val EqDepthBuckets = 10

  /** Accuracy knob for the approx_percentile twins (q112 /
    * stats_approx_eqdepth): the KLL-style sketch buffers O(accuracy)
    * entries per group REGARDLESS of input size and merges
    * associatively, vs the exact `percentile`'s value→count map of the
    * WHOLE input concentrated in one final merge — the one buffer in
    * this codebase that does not survive a 100× scale-up. Two escape
    * paths exist: these approx twins (bounded sketch, bounded error)
    * and the EXACT rank twins (stats_eqdepth_rank /
    * stats_winsorize_rank / stats_pctl_rank — order statistics via
    * GlobalRank, no buffer, no error). 10000 bounds rank error at
    * 1/accuracy = 0.01% of rows.
    */
  val ApproxAccuracy = 10000

  /** q106: equi-depth histogram — decile boundaries from exact
    * percentiles (rounded to 4 dp so both engines bucket on identical
    * doubles; the data has 2-dp prices, so a 4-dp boundary can't sit
    * ambiguously close to a value), then each row's bucket is "how many
    * boundaries are below it". The 9 boundary doubles are collected to
    * the driver and ride the scoring plan as an array LITERAL — the
    * q85-kmeans/IVF pattern for KB-scale metadata; a join (even a 1-row
    * broadcast) would plan a nested-loop node for no benefit. Scoring
    * is then a pure narrow pass + one bounded-key aggregation. The
    * exact `percentile` agg buffers a value-count map per partition; at
    * corpus scale swap `approx_percentile` (mergeable sketch, one
    * pass) — the boundary consumer doesn't change. Equi-depth via
    * global ntile would need a total sort; this form never sorts.
    */
  def eqDepthHistogram(df: DataFrame, valueCol: String,
      approx: Boolean = false): DataFrame = {
    val ps = (1 until EqDepthBuckets).map(_.toDouble / EqDepthBuckets)
    // ONE percentile aggregate with an array of percentages: nine scalar
    // percentile() calls each carry their own full value-count buffer
    // (9x the state and 9x the merge — measured 17 s vs 2 s at sf0.1);
    // the array form shares a single buffer across all boundaries.
    // approx=true swaps in the bounded-buffer approx_percentile sketch —
    // the form to run at corpus scale; exact stays the oracle gate.
    val pctAgg =
      if (approx) s"approx_percentile($valueCol, array(${ps.mkString(",")})," +
        s" $ApproxAccuracy)"
      else s"percentile($valueCol, array(${ps.mkString(",")}))"
    val bnds = df.agg(expr(
      s"transform($pctAgg, x -> round(x, 4))").as("bnds"))
      .head().getSeq[Double](0)
    bucketize(df, valueCol, bnds)
  }

  /** The shared q106 consumer: boundary literals → narrow bucket
    * assignment → bounded-key aggregation.
    */
  private def bucketize(df: DataFrame, valueCol: String,
      bnds: Seq[Double]): DataFrame =
    df.select(col(valueCol).as("v"),
        expr(s"size(filter(array(${bnds.mkString(",")}), " +
          s"x -> $valueCol > x))").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), min(col("v")).as("mn"),
        max(col("v")).as("mx"))

  /** The EXACT 100 TB form of q106 (stats_eqdepth_rank — earns q106's
    * oracle as its own hash row): decile boundaries from exact order
    * statistics via [[graft.operators.GlobalRank]] instead of the
    * `percentile` value-count buffer. The exact percentile aggregate
    * concentrates a map of every distinct value in one final merge —
    * the documented non-survivor at corpus scale; the approx twin
    * (stats_approx_eqdepth) trades exactness for a bounded sketch. This
    * form keeps EXACTNESS and scale: one range-partitioned rank pass
    * (no single-partition window, no corpus-sized buffer), a narrow
    * 18-rank filter, and the same driver-side interpolation
    * `lower + (higher − lower) · frac` Spark's Percentile applies —
    * boundaries equal the buffer form's bit for bit (StatsOpsSpec pins
    * it), so the oracle transfers. Ties need no tiebreaker: rows with
    * equal v are interchangeable at any rank, so rank→VALUE is
    * well-defined even where rank→row is not.
    */
  def eqDepthHistogramRank(df: DataFrame, valueCol: String): DataFrame =
    bucketize(df, valueCol, exactQuantilesByRank(df, valueCol,
      (1 until EqDepthBuckets).map(_.toDouble / EqDepthBuckets)))

  /** Spark Percentile's interpolation over the order statistics of `n`
    * values: quantile p sits at the 0-based position pos = p · (n − 1)
    * (DuckDB's quantile_cont agrees), so it needs the values at the
    * 1-based ranks floor(pos) + 1 and ceil(pos) + 1 ([[wanted]]), and
    * [[values]] assembles `lo + (hi − lo) · frac` rounded to 4 dp
    * HALF_UP via BigDecimal.valueOf (the shortest decimal
    * representation Spark's round(double, d) rounds, NOT the exact
    * binary expansion).
    */
  private final case class RankQuantiles(n: Long, ps: Seq[Double]) {
    private val positions = ps.map(p => p * (n - 1))
    val wanted: Seq[Long] = positions
      .flatMap(pos => Seq(math.floor(pos).toLong + 1,
        math.ceil(pos).toLong + 1)).distinct
    def values(atRank: Long => Double): Seq[Double] = positions.map { pos =>
      val lo = atRank(math.floor(pos).toLong + 1)
      val hi = atRank(math.ceil(pos).toLong + 1)
      BigDecimal(java.math.BigDecimal.valueOf(
          lo + (hi - lo) * (pos - math.floor(pos))))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
  }

  /** Exact percentiles of a double column via GLOBAL RANK — the shared
    * machinery behind the rank twins (stats_eqdepth_rank /
    * stats_winsorize_rank): one range-partitioned rank pass, a narrow
    * filter to the ≤ 2·|ps| order-statistic ranks, and Spark
    * Percentile's own interpolation assembled on the driver with the
    * 4-dp rounding the buffer forms apply ([[RankQuantiles]]).
    * Bit-identical to
    * `round(percentile(v, ps), 4)` with NO corpus-sized value-count
    * buffer anywhere. Ties need no tiebreaker: rows holding equal v are
    * interchangeable at any rank, so rank→VALUE is well-defined.
    */
  private[graft] def exactQuantilesByRank(df: DataFrame, valueCol: String,
      ps: Seq[Double]): Seq[Double] = {
    // VALUE-CLASS order statistics (round 8, the stats_pctl_rank
    // argument): rank→value is a class property, so one
    // map-side-combined (value, cnt) aggregation + a prefix-sum pass
    // over the CLASS table + a narrow wanted-rank filter replace the
    // per-row corpus rank pass — the corpus is touched once.
    val cls = df.select(col(valueCol).cast("double").as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true)
    // try/finally so the pinned class table is released even when the
    // empty-input require (or any downstream failure) throws — the
    // checkpoint otherwise leaks executor storage for the session
    try {
      // n and the class count in one aggregate: the prefix pass below
      // takes the class count instead of counting the table again
      val tot = cls.agg(sum(col("cnt")), count(lit(1))).head()
      val n = if (tot.isNullAt(0)) 0L else tot.getLong(0)
      val classCount = tot.getLong(1)
      require(n > 0, "exactQuantilesByRank needs a non-empty input")
      val q = RankQuantiles(n, ps)
      val pre = graft.operators.GlobalRank
        .withPrefixSumN(cls, "c", col("cnt"), Some(classCount), col("v"))
      // the class holding rank r satisfies c < r ≤ c + cnt
      val hit = q.wanted.map(r =>
        col("c") < lit(r) && lit(r) <= col("c") + col("cnt"))
        .reduce(_ || _)
      val classes = pre.filter(hit)
        .select(col("v"), col("c"), col("cnt")).collect()
        .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2)))
      q.values(r =>
        classes.find { case (_, c, cnt) => c < r && r <= c + cnt }.get._1)
    } finally org.apache.spark.sql.graft.ColumnBridge.unpersistCheckpoint(cls)
  }

  /** Per-GROUP exact percentiles from VALUE-CLASS order statistics —
    * the q47 counterpart of [[exactQuantilesByRank]]: rank→value is a
    * CLASS property (every row of a tied value is interchangeable at
    * any rank), so the order statistic at rank r is simply the class
    * whose exclusive prefix count C satisfies C < r ≤ C + cnt. ONE
    * map-side-combined aggregation reduces the corpus to the
    * (group, value, cnt) class table; a
    * `GlobalRank.withPrefixSumInGroups` pass over THAT table (pinned —
    * the machinery evaluates its input 4×) assigns the prefix counts
    * with no per-group value-count buffer and no giant per-group sort;
    * a broadcast wanted-rank range join picks the ≤ |groups|·2·|ps|
    * classes holding the order statistics; Percentile's own
    * interpolation runs on the driver. (The previous form ranked every
    * ROW — a corpus-wide rank pass and 5 corpus evaluations per call;
    * this touches the corpus once.) Returns group → rounded boundaries.
    * Group cardinality is assumed bounded (the boundaries are driver
    * metadata) — the q47 shape.
    */
  private[graft] def exactGroupQuantilesByRank(df: DataFrame,
      groupCol: String, valueCol: String, ps: Seq[Double])
      : Map[String, (Long, Seq[Double])] = {
    val spark = df.sparkSession
    import spark.implicits._
    val cls = df.select(col(groupCol).cast("string").as("g"),
        col(valueCol).cast("double").as("v"))
      .groupBy(col("g"), col("v")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true)
    // try/finally: release the pinned class table on ANY exit path
    try {
      val counts = cls.groupBy(col("g")).agg(sum(col("cnt")).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      // group totals are ALREADY driver metadata (bounded groups — the
      // q47 contract), so the prefix pass takes them as literals instead
      // of re-aggregating + broadcasting them (round-9 constant-factor
      // recovery); NULL group (none here) would sort first
      val sortedTotals: Seq[(Any, Long)] = counts.toSeq
        .sortWith((a, b) => a._1 == null || (b._1 != null && a._1 < b._1))
      val pre = graft.operators.GlobalRank
        .withPrefixSumInGroupsKnownTotals(cls, "c", col("cnt"), col("g"),
          sortedTotals, col("v"))
      val qs = counts.map { case (g, n) => g -> RankQuantiles(n, ps) }
      val wantedDf = qs.toSeq.flatMap { case (g, q) => q.wanted.map(g -> _) }
        .toDF("wg", "rk")
      val atRank = pre.join(broadcast(wantedDf),
          col("g") === col("wg") && col("rk") > col("c") &&
            col("rk") <= col("c") + col("cnt"))
        .select(col("g"), col("rk"), col("v"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
      qs.map { case (g, q) => g -> (q.n, q.values(r => atRank((g, r)))) }
    } finally org.apache.spark.sql.graft.ColumnBridge.unpersistCheckpoint(cls)
  }

  /** q202 / stats_approx_winsorize shared body — see the queries-map
    * comments; `approx` swaps the exact percentile boundary buffer for
    * the bounded approx_percentile sketch.
    */
  private def winsorize(li: DataFrame, approx: Boolean): DataFrame = {
    val pctAgg =
      if (approx) s"approx_percentile(l_extendedprice," +
        s" array(0.05, 0.95), $ApproxAccuracy)"
      else "percentile(l_extendedprice, array(0.05, 0.95))"
    val bnds = li.agg(expr(s"transform($pctAgg, x -> round(x, 4))").as("b"))
      .head().getSeq[Double](0)
    winsorizeWith(li, bnds(0), bnds(1))
  }

  /** The shared q202 clip consumer: boundary literals → narrow clip →
    * per-flag aggregation (clipped values are exact at 4 dp — the
    * boundaries' precision — so the means run the Sum128 fast path).
    */
  private def winsorizeWith(li: DataFrame, lo: Double, hi: Double)
      : DataFrame =
    li.select(col("l_returnflag"), col("l_extendedprice").as("x"))
      .withColumn("clipped",
        least(greatest(col("x"), lit(lo)), lit(hi)))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("x") < lo, 1L).otherwise(0L)).as("n_clip_lo"),
        sum(when(col("x") > hi, 1L).otherwise(0L)).as("n_clip_hi"),
        round(graft.functions.Sum128.sumExact(col("x"), 4)
          / count(lit(1)), 6).as("mean_raw"),
        round(graft.functions.Sum128.sumExact(col("clipped"), 4)
          / count(lit(1)), 6).as("mean_wins"))

  /** Count-Min sketch dimensions: 4 rows × 2048 counters = 64 KB of
    * state regardless of vocabulary size.
    */
  val CmDepth = 4
  val CmWidth = 2048

  /** est(key) = min over rows of sketch[i·w + idx_i(h)], with idx_i the
    * agg's xor-rotate index — pure column ops over the sketch literal,
    * so the probe stays inside whole-stage codegen.
    */
  private[graft] def cmEstimate(sketch: Seq[Long], h: org.apache.spark.sql.Column)
    : org.apache.spark.sql.Column = {
    def rotl(c: org.apache.spark.sql.Column, k: Int) =
      shiftleft(c, k).bitwiseOR(shiftrightunsigned(c, 64 - k))
    val sk = typedlit(sketch)
    least((0 until CmDepth).map { i =>
      element_at(sk,
        (h.bitwiseXOR(rotl(h, 11 * i + 5)).bitwiseAND(lit(CmWidth - 1L))
          + lit(i.toLong * CmWidth + 1L)).cast("int"))
    }: _*)
  }

  /** One-pass global Count-Min over the document token stream, probed
    * for the exact top-20 words: (word, exact n, estimate, abs error).
    * The sketch is a single-group mergeable aggregate (64 KB collected
    * — driver metadata, the k-means-centroid precedent); the probe side
    * is the vocabulary-bounded exact count table.
    */
  private[graft] def countMinTopWords(s: SparkSession, d: String): DataFrame = {
    val words = Tables(s, d, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
    val sketch: Seq[Long] = words
      .agg(graft.functions.sketches.count_min(xxhash64(col("w")),
        CmDepth, CmWidth).as("sk"))
      .head().getSeq[Long](0)
    words.groupBy("w").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w")).limit(20)
      .withColumn("est", cmEstimate(sketch, xxhash64(col("w"))))
      .withColumn("overcount", col("est") - col("n"))
  }

  /** Session-scoped lineitem-price percentile boundaries — q106/q202
    * and their approx twins each paid a full value-count-buffer (or
    * sketch) pass to probe the SAME distribution at different points.
    * One 19-point vector (p05..p95 in twentieths, each rounded to 4 dp
    * exactly as the entries always did) serves all four; keyed by the
    * approx flag, driver metadata only.
    */
  private val pricePercentiles =
    new graft.SessionCache[Boolean, Map[Int, Double]](_ => ())

  /** twentieth (1..19) -> exact-or-approx percentile of
    * lineitem.l_extendedprice, rounded to 4 dp.
    */
  private def priceBounds(s: SparkSession, d: String, approx: Boolean)
      : Map[Int, Double] =
    pricePercentiles(s, d, approx) {
      val ps = (1 until 20).map(_.toDouble / 20)
      val agg =
        if (approx) s"approx_percentile(l_extendedprice, " +
          s"array(${ps.mkString(",")}), $ApproxAccuracy)"
        else s"percentile(l_extendedprice, array(${ps.mkString(",")}))"
      val vs = Tables(s, d, "lineitem")
        .agg(expr(s"transform($agg, x -> round(x, 4))").as("b"))
        .head().getSeq[Double](0)
      (1 until 20).zip(vs).toMap
    }

  /** [[priceBounds]]' RANK-MACHINERY twin: the same 19-point vector
    * computed by [[exactQuantilesByRank]] (GlobalRank order statistics —
    * no value-count buffer), shared by stats_eqdepth_rank and
    * stats_winsorize_rank. Kept separate from the buffer-form cache on
    * purpose: the rank twins exist to EXERCISE the rank path, so they
    * must never silently read buffer-form values (StatsOpsSpec pins the
    * two paths bit-equal regardless).
    */
  private val rankQuantiles =
    new graft.SessionCache[Unit, Map[Int, Double]](_ => ())

  private def rankBounds(s: SparkSession, d: String): Map[Int, Double] =
    rankQuantiles(s, d, ()) {
      val ps = (1 until 20).map(_.toDouble / 20)
      (1 until 20).zip(exactQuantilesByRank(
        Tables(s, d, "lineitem"), "l_extendedprice", ps)).toMap
    }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Map[String, (SparkSession, String) => DataFrame](
      "q102_outliers" -> ((s, d) => outliers(Tables(s, d, "events"))),

      // q252 Hill tail-index per event type [Hill, Ann. Stat. 1975] —
      // the heavy-tail detector a corpus pipeline runs on length/value
      // distributions before trusting means and budgets: γ̂ = (1/k)
      // Σ_{i≤k} (ln x₍ᵢ₎ − ln x₍ₖ₊₁₎) over the k+1 LARGEST values,
      // tail exponent α = 1/γ̂ (α ≤ 2 → infinite variance). Scale
      // shape: the ONLY corpus work is one TopKAgg aggregation —
      // (k+1)-bounded sorted buffers with map-side combine, shuffle
      // carries ≤ k+1 rows per (type, mapper), no per-group sort, no
      // window (q6's window form would single-task each type at 100
      // TB). Everything after runs on |types|·(k+1) values. Ties are
      // harmless (the top-(k+1) VALUE multiset is deterministic);
      // ln terms are rounded once to 8 dp then summed DECIMALLY, so
      // the fold is order-independent and both engines hash-agree.
      // Types with ≤ k positive values carry no tail estimate and are
      // excluded (both engines).
      "q252_hill_tail" -> ((s, d) => {
        val k = HillK
        val top = Tables(s, d, "events")
          .filter(col("value") > 0)
          .select(col("event_type"), col("value"))
          .groupBy(col("event_type"))
          .agg(graft.functions.topk.top_k(
            struct((-col("value")).as("nv")), k + 1).as("t"))
        top
          .select(col("event_type"),
            expr("transform(t, x -> -x.nv)").as("vs"))
          .filter(size(col("vs")) === k + 1)
          .withColumn("g",
            expr(s"""CAST(aggregate(slice(vs, 1, $k),
                 |  CAST(0 AS DECIMAL(28, 8)),
                 |  (acc, v) -> CAST(acc + CAST(round(
                 |      ln(v) - ln(element_at(vs, ${k + 1})), 8)
                 |    AS DECIMAL(18, 8)) AS DECIMAL(28, 8)))
                 |AS DOUBLE)""".stripMargin) / k)
          .select(col("event_type"),
            round(col("g"), 6).as("hill_gamma"),
            round(lit(1.0) / col("g"), 6).as("tail_alpha"))
      }),

      // q106/q202 and their approx twins all probe ONE lineitem-price
      // percentile buffer, just at different points (deciles vs
      // [p05, p95]) — percentile()'s per-point answers are independent
      // of which other points share the array, so the four entries read
      // a session-cached 19-point boundary vector (priceBounds,
      // one buffer pass per (session, dir, exact|approx) instead of
      // four). Specs that histogram crafted frames keep using
      // eqDepthHistogram/winsorize, which never touch the cache.
      "q106_eqdepth_hist" -> ((s, d) => {
        val b = priceBounds(s, d, approx = false)
        bucketize(Tables(s, d, "lineitem"), "l_extendedprice",
          (1 until EqDepthBuckets).map(i => b(2 * i)))
      }),

      // q202 winsorization — the clip-don't-drop outlier treatment
      // (q102/q111 FLAG outliers; training pipelines usually CLIP): cap
      // values at the exact global [p05, p95], report per-flag clip
      // counts and the mean before/after. Boundaries follow the q106
      // pattern (one shared percentile buffer → two rounded doubles →
      // scoring-plan literals); the clip pass is narrow and the means
      // reduce decimally, so the oracle hash-compares. The
      // approx_percentile swap documented at q106 applies unchanged at
      // corpus scale.
      "q202_winsorize" -> ((s, d) => {
        val b = priceBounds(s, d, approx = false)
        winsorizeWith(Tables(s, d, "lineitem"), b(1), b(19))
      }),

      // the 100 TB form of q202: identical clip consumer, boundaries
      // from the mergeable approx_percentile sketch instead of the
      // exact value-count buffer (the q106 ⇄ stats_approx_eqdepth
      // pairing). Approximate → rows-only; StatsOpsSpec pins clip
      // counts within 1% of exact and means within 1e-3 at sf0.001.
      "stats_approx_winsorize" -> ((s, d) => {
        val b = priceBounds(s, d, approx = true)
        winsorizeWith(Tables(s, d, "lineitem"), b(1), b(19))
      }),

      // The 100 TB form of q106: identical consumer (boundaries →
      // narrow bucket assignment → bounded-key agg), boundaries from the
      // mergeable approx_percentile sketch instead of the exact
      // value-count buffer. Approximate by nature → rows-only for the
      // driver; StatsOpsSpec pins per-bucket depth within 1% of exact
      // at sf0.1.
      "stats_approx_eqdepth" -> ((s, d) => {
        val b = priceBounds(s, d, approx = true)
        bucketize(Tables(s, d, "lineitem"), "l_extendedprice",
          (1 until EqDepthBuckets).map(i => b(2 * i)))
      }),

      // The EXACT scale form of q106 (see eqDepthHistogramRank): order
      // statistics by GlobalRank — no corpus-sized percentile buffer,
      // no accuracy trade. Same oracle as q106: exact == exact. The
      // rank twins share ONE rank pass over the same 19-point vector
      // (rankBounds — rank machinery, deliberately NOT the
      // buffer-form priceBounds: the twin's identity is the
      // rank path; the spec pins rank == buffer bit-equality anyway).
      "stats_eqdepth_rank" -> ((s, d) => {
        val b = rankBounds(s, d)
        bucketize(Tables(s, d, "lineitem"), "l_extendedprice",
          (1 until EqDepthBuckets).map(i => b(2 * i)))
      }),

      // The EXACT scale form of q47 (per-GROUP percentiles): boundaries
      // from ONE grouped global-rank pass instead of a per-group
      // value-count buffer. Same oracle as q47: exact == exact. The
      // bounded-group boundaries are driver metadata assembled to the
      // same (priority, p50, p90, n) surface.
      "stats_pctl_rank" -> ((s, d) => {
        import s.implicits._
        val b = exactGroupQuantilesByRank(Tables(s, d, "orders"),
          "o_orderpriority", "o_totalprice", Seq(0.5, 0.9))
        b.toSeq.map { case (g, (n, qs)) => (g, qs(0), qs(1), n) }
          .toDF("o_orderpriority", "p50", "p90", "n")
      }),

      // The EXACT scale form of q202: the same [p05, p95] clip with
      // boundaries from rank-based order statistics instead of the
      // percentile buffer. Same oracle as q202: exact == exact.
      "stats_winsorize_rank" -> ((s, d) => {
        val b = rankBounds(s, d)
        winsorizeWith(Tables(s, d, "lineitem"), b(1), b(19))
      }),

      // The 100 TB form of q47: same per-group (p50, p90, n) surface via
      // ONE shared approx_percentile sketch per group (array form), so
      // group state is O(accuracy), not O(group size). Rows-only;
      // StatsOpsSpec pins relative quantile error ≤ 1% vs q47 at sf0.1.
      "q112_approx_percentiles" -> ((s, d) =>
        Tables(s, d, "orders")
          .groupBy(col("o_orderpriority"))
          .agg(expr(s"approx_percentile(o_totalprice, array(0.5, 0.9), " +
            s"$ApproxAccuracy)").as("ps"),
            count(lit(1)).as("n"))
          .select(col("o_orderpriority"),
            round(element_at(col("ps"), 1), 4).as("p50"),
            round(element_at(col("ps"), 2), 4).as("p90"), col("n"))),

      // Count-Min heavy-key counts: the O(d·w)-state frequency
      // complement to q46's Misra-Gries TOP-K — CMS answers "how often
      // does key X occur" for ANY key after one pass, mergeable across
      // partitions, state independent of cardinality (the 100 TB
      // requirement). Estimates are upward-biased only; rows-only for
      // the driver, SketchSpec pins est ≥ exact, the ε·N bound, and
      // partition-merge invariance. The estimator mirrors the agg's
      // xor-rotate indexing in pure codegen'd column ops over the
      // KB-sized sketch literal (no UDF).
      "stats_countmin" -> ((s, d) => countMinTopWords(s, d)),

      // Robust outlier statistics — the MAD complement to q102's
      // z-scores: median and median-absolute-deviation are unmoved by
      // the very outliers being hunted, where one extreme value drags a
      // mean/std enough to mask its peers. Three passes by definition
      // (deviation needs the median; the flag needs the MAD), each the
      // q102 shape: a per-type scalar table broadcast back over a
      // narrow corpus scan — no corpus shuffle anywhere. Medians/MADs
      // rounded to 4 dp before reuse so both engines subtract identical
      // constants (q47's proven percentile-interpolation parity).
      "q111_mad_outliers" -> ((s, d) => {
        val ev = Tables(s, d, "events")
        val med = ev.groupBy(col("event_type"))
          .agg(round(expr("percentile(value, 0.5)"), 4).as("med"))
        val mad = ev.join(broadcast(med), "event_type")
          .groupBy(col("event_type"))
          .agg(first(col("med")).as("med"),
            round(expr("percentile(abs(value - med), 0.5)"), 4).as("mad"))
        ev.join(broadcast(mad), "event_type")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            first(col("med")).as("median"), first(col("mad")).as("mad"),
            sum(when(abs(col("value") - col("med")) > col("mad") * 3, 1L)
              .otherwise(0L)).as("n_outliers"))
      }),

      // Rolling distinct users per trailing 7-day window — COUNT
      // (DISTINCT) is not window-able and the exact form needs a
      // day×events range self-join that rescans the corpus per day.
      // The mergeable-sketch form is the 100 TB answer: ONE pass builds
      // a daily HLL sketch (one row per day — corpus-independent
      // metadata, like the IVF centroids), then the window merges 7
      // tiny sketches per row. Approximate by nature → rows-only for
      // the driver; StatsOpsSpec pins relative error < 5% against the
      // exact self-join at test scale.
      // Audience-overlap matrix, sketch form: |users(t1) ∩ users(t2)|
      // for every event-type pair by HLL inclusion-exclusion
      // (est A + est B − est A∪B). The corpus contributes ONE sketch
      // aggregation; the pair join runs over the |types|-row sketch
      // table — bounded metadata, and sketches union without rescanning
      // (the property that lets 100 TB overlap matrices come from
      // per-segment sketches). Estimates → rows-only; StatsOpsSpec pins
      // <5% error against the exact q151 twin.
      "stats_hll_overlap" -> ((s, d) => {
        val sk = Tables(s, d, "events")
          .groupBy(col("event_type"))
          .agg(expr("hll_sketch_agg(user_id)").as("sk"))
        sk.as("a").join(sk.as("b"),
            col("a.event_type") < col("b.event_type"))
          .select(col("a.event_type").as("type_a"),
            col("b.event_type").as("type_b"),
            (expr("hll_sketch_estimate(a.sk)")
              + expr("hll_sketch_estimate(b.sk)")
              - expr("hll_sketch_estimate(hll_union(a.sk, b.sk))"))
              .as("est_overlap"))
      }),

      // Exact twin of stats_hll_overlap — oracle-checked: distinct
      // (type, user) pairs self-join on the user, so fan-out is the
      // per-user type count (≤ |types|), one shuffle on user_id.
      "q151_overlap_exact" -> ((s, d) => {
        val du = Tables(s, d, "events")
          .select(col("event_type"), col("user_id")).distinct()
        du.as("a").join(du.as("b"),
            col("a.user_id") === col("b.user_id")
              && col("a.event_type") < col("b.event_type"))
          .groupBy(col("a.event_type").as("type_a"),
            col("b.event_type").as("type_b"))
          .agg(count(lit(1)).as("n_shared"))
      }),

      "q107_rolling_distinct" -> ((s, d) => {
        val daily = Tables(s, d, "events")
          .select(to_date(col("ts")).as("day"), col("user_id"))
          .groupBy(col("day"))
          .agg(expr("hll_sketch_agg(user_id)").as("sk"),
            count_distinct(col("user_id")).as("users_1d"))
        val w = Window.orderBy(col("dn")).rangeBetween(-6, Window.currentRow)
        daily
          .withColumn("dn", datediff(col("day"), lit("1970-01-01")))
          .withColumn("sk7", expr("hll_union_agg(sk)").over(w))
          .withColumn("users_7d", expr("hll_sketch_estimate(sk7)"))
          .select(col("day"), col("users_1d"), col("users_7d"))
      }),

      // Exact twin of q107 — oracle-checked: each event is exploded to
      // the 7 trailing windows it contributes to (a narrow 7× map, no
      // non-equi join → no BroadcastNestedLoopJoin), then ONE distinct
      // aggregation per (day). users_1d rides the same pass via a
      // conditional distinct. The semi join restricts output to days
      // that exist in the data (q107's domain); the distinct-days set is
      // date-cardinality metadata, broadcast. This rescans nothing per
      // day — but the distinct state per day is the full 7-day user set,
      // which is why the HLL sketch form (q107) is the 100 TB default
      // and this exact form is the gate that pins it.
      "q113_rolling_distinct_exact" -> ((s, d) => {
        val ev = Tables(s, d, "events")
          .select(to_date(col("ts")).as("eday"), col("user_id"))
        val days = ev.select(col("eday").as("day")).distinct()
        ev.select(col("eday"), col("user_id"),
            explode(expr("sequence(eday, date_add(eday, 6))")).as("day"))
          .join(broadcast(days), Seq("day"), "left_semi")
          .groupBy(col("day"))
          .agg(count_distinct(when(col("eday") === col("day"),
            col("user_id"))).as("users_1d"),
            count_distinct(col("user_id")).as("users_7d"))
      }),

      // Moving MEDIAN — an order statistic as a WINDOW aggregate (sum/
      // count frames are q103; rank fns are q62; this is the remaining
      // case: a TypedImperativeAggregate evaluated per frame). The
      // trailing 7-ROW frame bounds per-row state at 7 values, so the
      // exact percentile buffer that is a hazard globally (q47 note) is
      // constant-size here — frame-bounded exactness is the one place
      // the exact form IS the 100 TB answer. One shuffle on user_id.
      // q171 weighted median (robust-estimator family, next to q111's
      // MAD): smallest value whose cumulative weight reaches half the
      // group's total — quantity-weighted l_extendedprice per return
      // flag. The cumulative weights are DECIMAL window sums ordered by
      // (value, row key), so the 2·cw ≥ tw cut is exact in both
      // engines. Scale note: the ordered cumsum sorts each group in one
      // task — the q47 exact-percentile class; at 100 TB the same cut
      // comes from the q106 two-pass histogram threshold, with this
      // exact form as the oracle gate.
      "q171_weighted_median" -> ((s, d) => {
        val w = Window.partitionBy(col("f"))
          .orderBy(col("x"), col("l_orderkey"), col("l_linenumber"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wt = Window.partitionBy(col("f"))
        Tables(s, d, "lineitem")
          .select(col("l_returnflag").as("f"),
            col("l_extendedprice").as("x"),
            col("l_quantity").cast(dec).as("w"),
            col("l_orderkey"), col("l_linenumber"))
          .withColumn("cw", sum(col("w")).over(w))
          .withColumn("tw", sum(col("w")).over(wt))
          .filter(col("cw") * 2 >= col("tw"))
          .groupBy(col("f").as("l_returnflag"))
          .agg(min(col("x")).as("wmedian"))
      }),

      // The 100 TB form of q171 — the trade carried since round 4
      // session 3, now CODE: exact weighted median with NO per-group
      // corpus sort. Pass 1 builds a per-flag 64-bucket equi-width
      // weight histogram (one map-side-combined shuffle); the
      // cumulative walk over the (flags × 64)-row table locates each
      // flag's median BUCKET with its exclusive prefix weight — bounded
      // metadata, broadcast back. Pass 2 re-scans only the located
      // buckets' rows (≈1/64 of the corpus), applies q171's exact
      // (x, keys) ordering + 2·(prefix+cum) ≥ total cut inside that
      // small set. The answer is BIT-IDENTICAL to q171 (weights below
      // the bucket enter as the exact decimal prefix), which
      // StatsOpsSpec pins — two passes replace the group-wide sort.
      "stats_wmedian_2pass" -> ((s, d) => {
        val li = Tables(s, d, "lineitem")
          .select(col("l_returnflag").as("f"),
            col("l_extendedprice").as("x"),
            col("l_quantity").cast(dec).as("w"),
            col("l_orderkey"), col("l_linenumber"))
        val mm = li.agg(min(col("x")), max(col("x"))).head()
        val (lo, hi) = (mm.getDouble(0), mm.getDouble(1))
        val nb = 64
        val bucket: org.apache.spark.sql.Column =
          if (hi <= lo) lit(0)
          else least(floor((col("x") - lit(lo)) / lit((hi - lo) / nb)),
            lit(nb - 1.0)).cast("int")
        val wtw = Window.partitionBy(col("f"))
        val wcum = Window.partitionBy(col("f")).orderBy(col("b"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val tgt = li.groupBy(col("f"), bucket.as("b"))
          .agg(sum(col("w")).as("bw"))
          .withColumn("tw", sum(col("bw")).over(wtw))
          .withColumn("prefix",
            coalesce(sum(col("bw")).over(wcum), lit(0).cast(dec)))
          .filter(col("prefix") * 2 < col("tw")
            && (col("prefix") + col("bw")) * 2 >= col("tw"))
          .select(col("f").as("tf"), col("b").as("tb"),
            col("prefix"), col("tw"))
        val inBucket = Window.partitionBy(col("f"))
          .orderBy(col("x"), col("l_orderkey"), col("l_linenumber"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        li.withColumn("b", bucket)
          .join(broadcast(tgt),
            col("f") === col("tf") && col("b") === col("tb"))
          .withColumn("cw", sum(col("w")).over(inBucket))
          .filter((col("prefix") + col("cw")) * 2 >= col("tw"))
          .groupBy(col("f").as("l_returnflag"))
          .agg(min(col("x")).as("wmedian"))
      }),

      "q125_moving_median" -> ((s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(-6, Window.currentRow)
        Tables(s, d, "events")
          .select(col("event_id"), col("user_id"), col("ts"), col("value"))
          .withColumn("med_7", round(expr("percentile(value, 0.5)").over(w), 4))
          .drop("ts")
      }),

      "q103_range_window" -> ((s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("us"))
          .rangeBetween(-FrameMicros, Window.currentRow)
        Tables(s, d, "events")
          .select(col("event_id"), col("user_id"), col("ts"), col("value"),
            unix_micros(col("ts")).as("us"))
          .withColumn("n_7d", count(lit(1)).over(w))
          .withColumn("sum_7d",
            sum(col("value").cast(dec)).over(w).cast("double"))
          .select(col("event_id"), col("user_id"), col("value"),
            col("n_7d"), round(col("sum_7d"), 4).as("sum_7d"))
      }))

  def oracle: Map[String, String] = Map(
    // row_number's tiebreak at the boundary is arbitrary in BOTH
    // engines, but the top-(k+1) VALUE multiset it selects is not —
    // ties are interchangeable, so the estimate hash-agrees
    "q252_hill_tail" ->
      s"""WITH pos AS (SELECT event_type, value FROM events
         |  WHERE value > 0),
         |r AS (SELECT event_type, value, row_number() OVER (
         |    PARTITION BY event_type ORDER BY value DESC) AS rk
         |  FROM pos),
         |t AS (SELECT event_type, value, rk FROM r
         |  WHERE rk <= ${HillK + 1}),
         |n AS (SELECT event_type, COUNT(*) AS nt,
         |    MAX(CASE WHEN rk = ${HillK + 1} THEN value END) AS xk
         |  FROM t GROUP BY 1),
         |h AS (SELECT t.event_type,
         |    CAST(SUM(CAST(round(ln(t.value) - ln(n.xk), 8)
         |      AS DECIMAL(18, 8))) AS DOUBLE) / ${HillK} AS g
         |  FROM t JOIN n USING (event_type)
         |  WHERE t.rk <= ${HillK} AND n.nt = ${HillK + 1}
         |  GROUP BY t.event_type)
         |SELECT event_type, round(g, 6) AS hill_gamma,
         |  round(1.0 / g, 6) AS tail_alpha
         |FROM h""".stripMargin,
    "q202_winsorize" ->
      """WITH b AS (SELECT
        |    round(quantile_cont(l_extendedprice, 0.05), 4) AS lo,
        |    round(quantile_cont(l_extendedprice, 0.95), 4) AS hi
        |  FROM lineitem)
        |SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(COUNT(*) FILTER (l_extendedprice < lo) AS BIGINT)
        |    AS n_clip_lo,
        |  CAST(COUNT(*) FILTER (l_extendedprice > hi) AS BIGINT)
        |    AS n_clip_hi,
        |  round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)))
        |    AS DOUBLE) / COUNT(*), 6) AS mean_raw,
        |  round(CAST(SUM(CAST(least(greatest(l_extendedprice, lo), hi)
        |    AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 6) AS mean_wins
        |FROM lineitem, b GROUP BY l_returnflag""".stripMargin,
    // the grouped-rank form is boundary-identical to q47 by
    // construction (the StatsOpsSpec pin), so it earns the same oracle
    "stats_pctl_rank" ->
      """SELECT o_orderpriority,
        | round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
        | round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
        | COUNT(*) AS n
        |FROM orders GROUP BY o_orderpriority""".stripMargin,
    // the rank form's boundaries are bit-identical to q202's by
    // construction (the StatsOpsSpec pin), so it earns the same oracle
    "stats_winsorize_rank" ->
      """WITH b AS (SELECT
        |    round(quantile_cont(l_extendedprice, 0.05), 4) AS lo,
        |    round(quantile_cont(l_extendedprice, 0.95), 4) AS hi
        |  FROM lineitem)
        |SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(COUNT(*) FILTER (l_extendedprice < lo) AS BIGINT)
        |    AS n_clip_lo,
        |  CAST(COUNT(*) FILTER (l_extendedprice > hi) AS BIGINT)
        |    AS n_clip_hi,
        |  round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)))
        |    AS DOUBLE) / COUNT(*), 6) AS mean_raw,
        |  round(CAST(SUM(CAST(least(greatest(l_extendedprice, lo), hi)
        |    AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 6) AS mean_wins
        |FROM lineitem, b GROUP BY l_returnflag""".stripMargin,
    "q171_weighted_median" ->
      """WITH t AS (SELECT l_returnflag f, l_extendedprice x,
        |   CAST(l_quantity AS DECIMAL(18,4)) w, l_orderkey, l_linenumber
        | FROM lineitem),
        |c AS (SELECT f, x,
        |   SUM(w) OVER (PARTITION BY f
        |     ORDER BY x, l_orderkey, l_linenumber
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
        |   SUM(w) OVER (PARTITION BY f) AS tw FROM t)
        |SELECT f AS l_returnflag, MIN(x) AS wmedian FROM c
        |WHERE cw * 2 >= tw GROUP BY f""".stripMargin,
    // the 2-pass form is BIT-IDENTICAL to q171 by construction (the
    // StatsOpsSpec pin), so it earns the same oracle — a hash-checked
    // row instead of rows-only
    "stats_wmedian_2pass" ->
      """WITH t AS (SELECT l_returnflag f, l_extendedprice x,
        |   CAST(l_quantity AS DECIMAL(18,4)) w, l_orderkey, l_linenumber
        | FROM lineitem),
        |c AS (SELECT f, x,
        |   SUM(w) OVER (PARTITION BY f
        |     ORDER BY x, l_orderkey, l_linenumber
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
        |   SUM(w) OVER (PARTITION BY f) AS tw FROM t)
        |SELECT f AS l_returnflag, MIN(x) AS wmedian FROM c
        |WHERE cw * 2 >= tw GROUP BY f""".stripMargin,
    "q151_overlap_exact" ->
      """WITH du AS (SELECT DISTINCT event_type, user_id FROM events)
        |SELECT a.event_type AS type_a, b.event_type AS type_b,
        |  COUNT(*) AS n_shared
        |FROM du a JOIN du b
        |  ON a.user_id = b.user_id AND a.event_type < b.event_type
        |GROUP BY a.event_type, b.event_type""".stripMargin,
    "q125_moving_median" ->
      """SELECT event_id, user_id, value,
        |  round(quantile_cont(value, 0.5) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id
        |     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS med_7
        |FROM events""".stripMargin,
    "q113_rolling_distinct_exact" ->
      """WITH e AS (SELECT CAST(ts AS DATE) AS eday, user_id FROM events),
        |days AS (SELECT DISTINCT eday AS day FROM e)
        |SELECT day,
        |  CAST(COUNT(DISTINCT CASE WHEN eday = day THEN user_id END)
        |    AS BIGINT) AS users_1d,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users_7d
        |FROM days JOIN e ON e.eday BETWEEN day - 6 AND day
        |GROUP BY day""".stripMargin,
    "q111_mad_outliers" ->
      """WITH med AS (SELECT event_type,
        |    round(quantile_cont(value, 0.5), 4) AS med
        |  FROM events GROUP BY event_type),
        |mad AS (SELECT e.event_type, ANY_VALUE(med) AS med,
        |    round(quantile_cont(abs(value - med), 0.5), 4) AS mad
        |  FROM events e JOIN med ON e.event_type = med.event_type
        |  GROUP BY e.event_type)
        |SELECT e.event_type, COUNT(*) AS n, ANY_VALUE(m.med) AS median,
        |  ANY_VALUE(m.mad) AS mad,
        |  CAST(COUNT(*) FILTER (WHERE abs(value - m.med) > m.mad * 3)
        |    AS BIGINT) AS n_outliers
        |FROM events e JOIN mad m ON e.event_type = m.event_type
        |GROUP BY e.event_type""".stripMargin,
    "q106_eqdepth_hist" ->
      """WITH b AS (SELECT [round(quantile_cont(l_extendedprice, 0.1), 4),
        |  round(quantile_cont(l_extendedprice, 0.2), 4),
        |  round(quantile_cont(l_extendedprice, 0.3), 4),
        |  round(quantile_cont(l_extendedprice, 0.4), 4),
        |  round(quantile_cont(l_extendedprice, 0.5), 4),
        |  round(quantile_cont(l_extendedprice, 0.6), 4),
        |  round(quantile_cont(l_extendedprice, 0.7), 4),
        |  round(quantile_cont(l_extendedprice, 0.8), 4),
        |  round(quantile_cont(l_extendedprice, 0.9), 4)] AS bnds
        | FROM lineitem)
        |SELECT CAST(len(list_filter(bnds, x -> l_extendedprice > x))
        |    AS INTEGER) AS bucket,
        |  COUNT(*) AS n, MIN(l_extendedprice) AS mn,
        |  MAX(l_extendedprice) AS mx
        |FROM lineitem, b GROUP BY 1""".stripMargin,
    // the rank form is boundary-identical to q106 by construction (the
    // StatsOpsSpec pin), so it earns the same oracle — a hash-checked
    // row instead of rows-only
    "stats_eqdepth_rank" ->
      """WITH b AS (SELECT [round(quantile_cont(l_extendedprice, 0.1), 4),
        |  round(quantile_cont(l_extendedprice, 0.2), 4),
        |  round(quantile_cont(l_extendedprice, 0.3), 4),
        |  round(quantile_cont(l_extendedprice, 0.4), 4),
        |  round(quantile_cont(l_extendedprice, 0.5), 4),
        |  round(quantile_cont(l_extendedprice, 0.6), 4),
        |  round(quantile_cont(l_extendedprice, 0.7), 4),
        |  round(quantile_cont(l_extendedprice, 0.8), 4),
        |  round(quantile_cont(l_extendedprice, 0.9), 4)] AS bnds
        | FROM lineitem)
        |SELECT CAST(len(list_filter(bnds, x -> l_extendedprice > x))
        |    AS INTEGER) AS bucket,
        |  COUNT(*) AS n, MIN(l_extendedprice) AS mn,
        |  MAX(l_extendedprice) AS mx
        |FROM lineitem, b GROUP BY 1""".stripMargin,
    "q102_outliers" ->
      """WITH m AS (SELECT event_type, COUNT(*) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(value * value AS DECIMAL(18,4))) AS DOUBLE) AS sxx
        |  FROM events GROUP BY event_type HAVING COUNT(*) > 1),
        |s AS (SELECT event_type, sx / n AS mean,
        |    SQRT((sxx - sx * sx / n) / (n - 1)) AS std FROM m)
        |SELECT event_id, e.event_type, value,
        |  ROUND((value - mean) / std, 4) AS z
        |FROM events e JOIN s ON e.event_type = s.event_type
        |WHERE std > 0
        |  AND ABS(ROUND((value - mean) / std, 4)) > 2.5""".stripMargin,
    "q103_range_window" ->
      """SELECT event_id, user_id, value,
        | COUNT(*) OVER w AS n_7d,
        | ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE), 4)
        |   AS sum_7d
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)""".stripMargin)
}
