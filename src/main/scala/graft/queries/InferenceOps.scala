package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** Statistical inference over event streams (SURVEY.md §2.11 [EXT]) —
  * the hypothesis-testing layer of an experimentation / data-quality
  * pipeline, built on the same decimal-exact moment discipline as
  * q61/q126 (explicit DECIMAL sums make the shuffle reduction order-
  * independent, so the final double arithmetic is bit-identical across
  * engines and the oracle hash-compares):
  *
  *  - q136 Welch two-sample t-test per event_type (A/B arms split on
  *    user_id parity): t statistic and Welch-Satterthwaite degrees of
  *    freedom from one grouped pass with conditional sums — ONE
  *    map-side-combined shuffle regardless of corpus size.
  *  - q137 chi-square independence cells: event_type x user-bucket
  *    contingency table with expected counts and per-cell (o-e)^2/e
  *    contributions. Cell counts are one grouped aggregation; marginals
  *    come from windows over the CELL table (5 types x 3 buckets = 15
  *    rows — bounded metadata, same pattern as q110's share-of-total).
  *  - q142 autocorrelation function: per event_type, Pearson ACF of the
  *    daily-sum series at lags 1..3 — the seasonality probe. Daily sums
  *    are decimal-exact; the lag pairing is a per-series window (keyed
  *    by event_type, days per series bounded by the calendar), and the
  *    correlation reduces the paired moments decimally once more.
  */
object InferenceOps {

  private val dec = DecimalType(18, 4)

  /** ACF lags computed by q142. */
  private val Lags = Seq(1, 2, 3)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // q225 deterministic day-block bootstrap CI for the daily mean of
    // `value` per event_type — the uncertainty quantifier the t-test
    // family can't give for non-normal series. Classic bootstrap is
    // unusable under the cross-engine gate (RNG) and at scale
    // (row-level resampling multiplies the corpus); this is the
    // m-out-of-n BLOCK subsample bootstrap: the corpus first reduces
    // to the calendar-bounded daily table (ONE map-side-combined
    // shuffle), then each of 200 replicas keeps a day iff an md5 bit
    // of (replica, day) says so — the q50 deterministic-sampling
    // primitive, identical in both engines. Replica means divide
    // DECIMAL sums once; the 95% interval is an ORDER-STATISTIC pick
    // (ceil-rank in integer arithmetic, q171's discipline), not a
    // float quantile. Replica volume = types × days × 200 rows of
    // METADATA regardless of corpus size.
    "q225_bootstrap_ci" -> ((s, d) => {
      val b = 200
      val dly = Tables(s, d, "events")
        .groupBy(col("event_type"), dayofmonth(col("ts")).as("day"))
        .agg(sum(col("value").cast(dec)).as("sv"), count(lit(1)).as("n"))
      val rep = dly
        .withColumn("b", explode(sequence(lit(0), lit(b - 1))))
        .filter(
          conv(substring(md5(concat(col("b").cast("string"), lit("_"),
            col("day").cast("string"))), 1, 15), 16, 10)
            .cast("long") % 2 === 0)
      val means = rep.groupBy(col("event_type"), col("b"))
        .agg((sum(col("sv")).cast("double") / sum(col("n"))).as("m"))
      val tw = Window.partitionBy(col("event_type"))
      val ranked = means
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("event_type"))
            .orderBy(col("m"), col("b"))))
        .withColumn("r", count(lit(1)).over(tw))
      val full = dly.groupBy(col("event_type"))
        .agg(round(sum(col("sv")).cast("double") / sum(col("n")), 6)
          .as("mean"))
      ranked
        .filter(col("rk") === floor((col("r") * 25 + 999) / lit(1000))
          || col("rk") === floor((col("r") * 975 + 999) / lit(1000)))
        .groupBy(col("event_type"))
        .agg(max(col("r")).as("n_reps"),
          round(min(col("m")), 6).as("ci_lo"),
          round(max(col("m")), 6).as("ci_hi"))
        .join(full, "event_type")
        .select(col("event_type"), col("n_reps"), col("mean"),
          col("ci_lo"), col("ci_hi"))
    }),

    // q188 Kolmogorov-Smirnov two-sample test per event_type (A/B arms
    // on user_id parity) — the distribution-level complement to q136's
    // mean test and q186's rank test: D = sup |F_A(v) - F_B(v)|. The
    // corpus reduces to per-(type, value) arm counts in ONE grouped
    // pass; the CDF walk then runs over the value-cardinality table
    // and the supremum is computed in INTEGER cross-products
    // (|cumA·nB − cumB·nA|, exact — the division to a double happens
    // once, after the max), so the oracle hash-compares without any
    // float-accumulation discipline. Scale: the window sorts each
    // type's distinct values in one task on continuous values — the
    // EXACT 100 TB form is stats_ks_rank below (packed two-arm prefix
    // sum, bit-identical, same oracle); this window form stays as the
    // oracle-shaped original, the q186/q187 twin discipline.
    "q188_ks_test" -> ((s, d) => {
      val vc = Tables(s, d, "events")
        .groupBy(col("event_type"), col("value"))
        .agg(sum(when(col("user_id") % 2 === 0, 1L).otherwise(0L)).as("ca"),
          sum(when(col("user_id") % 2 =!= 0, 1L).otherwise(0L)).as("cb"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("value"))
      val tw = Window.partitionBy(col("event_type"))
      vc.withColumn("cuma", sum(col("ca")).over(w))
        .withColumn("cumb", sum(col("cb")).over(w))
        .withColumn("na", sum(col("ca")).over(tw))
        .withColumn("nb", sum(col("cb")).over(tw))
        .groupBy(col("event_type"))
        .agg(max(col("na")).as("na"), max(col("nb")).as("nb"),
          max(abs(col("cuma") * col("nb") - col("cumb") * col("na")))
            .as("dnum"))
        .select(col("event_type"), col("na"), col("nb"),
          round(col("dnum").cast("double") / (col("na") * col("nb")), 6)
            .as("ks_d"))
    }),

    // The 100 TB form of q188 — same oracle: the supremum only ever
    // consumes the two INCLUSIVE cumulatives at each distinct value,
    // and both ride ONE range-partitioned prefix pass by packing the
    // per-class arm counts into a single long (w = ca·2^32 + cb): each
    // arm's running count stays < 2^31 through ~2·10⁹ rows per arm —
    // the q250 long-bound argument — so the packed running sum never
    // carries between the two 32-bit fields and unpacks exactly
    // (shift/mask). No per-type corpus-sized sort task anywhere; the
    // per-type totals ride the same withPrefixSumInGroupsKnownTotals
    // literals the drift scaffold uses. Bit-identical to q188
    // (InferenceSpec) and hash-shares its oracle.
    "stats_ks_rank" -> ((s, d) => {
      // class table pinned (rfm checkpoint discipline): the prefix
      // machinery evaluates its input several times
      val cls = Tables(s, d, "events")
        .groupBy(col("event_type"), col("value"))
        .agg(sum(when(col("user_id") % 2 === 0, 1L).otherwise(0L)).as("ca"),
          sum(when(col("user_id") % 2 =!= 0, 1L).otherwise(0L)).as("cb"))
        .localCheckpoint(true)
      val packedW = col("ca") * lit(1L << 32) + col("cb")
      val totals: Seq[(Any, Long)] = cls.groupBy(col("event_type"))
        .agg(sum(packedW).as("t")).collect()
        .map(r => r.get(0) -> r.getLong(1)).toSeq
        .sortWith((a, b) => a._1 == null || (b._1 != null &&
          a._1.asInstanceOf[String] < b._1.asInstanceOf[String]))
      val naExpr = totals.foldLeft(lit(0L)) { case (acc, (g, t)) =>
        if (g == null) acc
        else when(col("event_type") === lit(g), lit(t >>> 32)).otherwise(acc)
      }
      val nbExpr = totals.foldLeft(lit(0L)) { case (acc, (g, t)) =>
        if (g == null) acc
        else when(col("event_type") === lit(g),
          lit(t & ((1L << 32) - 1))).otherwise(acc)
      }
      val out = graft.operators.GlobalRank
        .withPrefixSumInGroupsKnownTotals(cls, "ps", packedW,
          col("event_type"), totals, col("value"))
        // inclusive cumulatives: exclusive prefix + the class's own arm
        // counts, unpacked by shift/mask
        .withColumn("cuma", shiftright(col("ps"), 32) + col("ca"))
        .withColumn("cumb",
          col("ps").bitwiseAND(lit((1L << 32) - 1)) + col("cb"))
        .withColumn("na", naExpr).withColumn("nb", nbExpr)
        .groupBy(col("event_type"))
        .agg(max(col("na")).as("na"), max(col("nb")).as("nb"),
          max(abs(col("cuma") * col("nb") - col("cumb") * col("na")))
            .as("dnum"))
        .select(col("event_type"), col("na"), col("nb"),
          round(col("dnum").cast("double") / (col("na") * col("nb")), 6)
            .as("ks_d"))
        .localCheckpoint(true) // |types| rows
      org.apache.spark.sql.graft.ColumnBridge.unpersistCheckpoint(cls)
      out
    }),

    // q254 split conformal prediction intervals [Vovk et al. 2005;
    // Lei et al., JASA 2018] — the distribution-free uncertainty
    // quantifier an ML-serving pipeline wraps around ANY point model:
    // train an OLS on slice 0 (the q127 Sum128 moment pass, grouped by
    // return flag), take the ⌈(n+1)(1−α)⌉-th smallest absolute
    // residual on the DISJOINT calibration slice 1 as the interval
    // half-width q̂ (a finite-sample ≥1−α coverage guarantee needing
    // only exchangeability), then AUDIT the guarantee empirically on
    // held-out slice 2. Slices are a deterministic key mod (the q50
    // family). Exactness: slope/intercept round at 6 dp off exact
    // moments (q127's proven parity), residuals are then the identical
    // IEEE expression in both engines, q̂ is a pure ORDER-STATISTIC
    // pick (comparison-only — no float accumulation; rounded once at
    // 6 dp before the coverage compare so both engines gate on the
    // same literal), and coverage is an integer count over one double
    // division. Scale: train is one moment pass; the per-group k-th
    // order statistic rides the residual CLASS table + the
    // range-partitioned prefix sum (never a per-group corpus sort —
    // the stats_pctl_rank machinery); test is a broadcast-model narrow
    // pass with q̂ as literals.
    "q254_conformal" -> ((s, d) => conformalFrom(conformalFitCached(s, d))),

    // q255 conformal-coverage drift — q254's fixed interval audited
    // per ship month on the held-out slice: coverage collapsing in a
    // period means the feature/label relationship moved (the
    // MODEL-centric drift alarm beside q220/q250's data-centric ones).
    // Same fit, same exactness; degraded gates at 1 − α − 0.05.
    "q255_conformal_drift" -> ((s, d) =>
      conformalDriftFrom(conformalFitCached(s, d))),

    // STREAMING conformal coverage (rows-only; StreamingDriftSpec):
    // the q255 audit per ARRIVING window — the batch fit's model/q̂
    // broadcast into one windowed aggregation with 2 counters of state
    // per (window, flag). The entry feeds the held-out slice through a
    // REAL two-batch MemoryStream split at the median ship date and
    // REQUIRES streamed == the same aggregation run batch-side before
    // returning (plain DataFrame code — the DriftMonitor contract).
    "stream_conformal" -> ((s, d) => {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val (base, model, ks, picked) = conformalFitCached(s, d)
      val mdf = model.collect().map(r =>
          (r.getString(0), r.getDouble(1), r.getDouble(2),
            picked(r.getString(0))))
        .toSeq.toDF("f", "slope", "intercept", "q_hat")
      val cur = base.filter(col("slice") === 2)
        .filter(col("f").isin(ks.map(_._1): _*))
        .select(col("ship"), col("f"), col("x"), col("y"))
      val feed = graft.streaming.FeedGuard.collectFeed(
        cur.as[(java.sql.Timestamp, String, Double, Double)],
        "stream_conformal")
      val mid =
        if (feed.isEmpty) new java.sql.Timestamp(0L)
        else feed.map(_._1).sortBy(_.getTime).apply(feed.size / 2)
      val stream = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(java.sql.Timestamp, String, Double, Double)]
      val out = graft.streaming.ConformalMonitor.coverage(
        stream.toDF().toDF("ts", "f", "x", "y"), mdf, "30 days")
      // bounded-domain state: (window × flag) rows — size the stateful
      // exchange to the domain, not the session (StateSizing, round 13)
      val q = graft.streaming.StateSizing.withBoundedState(s) {
        out.writeStream.format("memory")
          .queryName("stream_conformal").outputMode("complete").start()
      }
      stream.addData(feed.filter(_._1.getTime < mid.getTime))
      q.processAllAvailable()
      stream.addData(feed.filter(_._1.getTime >= mid.getTime))
      q.processAllAvailable()
      q.stop()
      val got = s.table("stream_conformal").collect().toSet
      // batch side of the require gate on the DISTRIBUTED slice (the
      // same rows the feed collected): a 200k-row LocalRelation costs
      // ~1.2 s of serial driver encoding per invocation (round 13),
      // where the pinned base computes the same aggregation in ~0.2 s
      val batch = graft.streaming.ConformalMonitor.coverage(
        cur.toDF("ts", "f", "x", "y"), mdf, "30 days").collect().toSet
      require(got == batch,
        s"streamed conformal coverage diverged from batch: " +
          s"${(got diff batch).take(3)} vs ${(batch diff got).take(3)}")
      s.table("stream_conformal")
    }),

    // q186 Mann-Whitney U (the nonparametric twin of q136's t-test):
    // ranks come from a per-type row_number with unique tiebreaks, tied
    // VALUES then share their mean rank — which is always .0 or .5
    // (consecutive integers), so the DECIMAL(18,2) rank sums are exact
    // and the U statistic hash-compares. One rank window + one grouped
    // pass; the normal approximation's z is one rounded division.
    "q186_mann_whitney" -> ((s, d) =>
      mannWhitneyFromRanks(Tables(s, d, "events")
        .select(col("event_type"), col("value"),
          (col("user_id") % 2 === 0).as("arm_a"), col("event_id"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("event_type"))
            .orderBy(col("value"), col("event_id"))).cast("long")))),

    // The 100 TB form of q186 — same oracle: the U statistic only ever
    // consumes ranks through their TIE-MEAN over (type, value), and the
    // mean rank of a value class is pure arithmetic on the class counts
    // (exclusive prefix count C + (cnt+1)/2 — the average of the
    // consecutive ranks C+1..C+cnt, whatever tiebreak dealt them). So
    // no per-row ranking at all: ONE map-side-combined aggregation to
    // the (type, value) class table (with per-arm counts), a
    // distributed prefix sum over that table (withPrefixSumInGroups —
    // never a corpus/|types| single-task window), and a class-weighted
    // fold. Rank sums are the same exact decimals the per-row form
    // produced, so the hash matches q186's oracle bit-for-bit.
    "stats_mwu_rank" -> ((s, d) => {
      // the class table is pinned (rfm checkpoint discipline): the
      // prefix-sum machinery evaluates its input 4× (count, sample, two
      // branches) — each would re-run the corpus aggregation otherwise
      val cls = Tables(s, d, "events")
        .groupBy(col("event_type"), col("value"))
        .agg(count(lit(1)).as("cnt"),
          sum(when(col("user_id") % 2 === 0, 1L).otherwise(0L)).as("ca"))
        .localCheckpoint(true)
      // per-type totals as literal offsets (round 9 — the spearman
      // known-totals rationale): one bounded collect off the pinned
      // class table instead of the goffs subtree
      val totals: Seq[(Any, Long)] = cls.groupBy(col("event_type"))
        .agg(sum(col("cnt")).as("n")).collect()
        .map(r => r.get(0) -> r.getLong(1)).toSeq
        .sortWith((a, b) => a._1 == null || (b._1 != null &&
          a._1.asInstanceOf[String] < b._1.asInstanceOf[String]))
      val mr = graft.operators.GlobalRank
        .withPrefixSumInGroupsKnownTotals(cls, "cum", col("cnt"),
          col("event_type"), totals, col("value"))
        .withColumn("mean_rank",
          ((col("cum") * 2 + col("cnt") + 1).cast(DecimalType(18, 2)) / 2)
            .cast(DecimalType(18, 2)))
      val out = mr.groupBy(col("event_type"))
        .agg(sum(col("ca")).as("na"),
          sum(col("cnt") - col("ca")).as("nb"),
          sum(col("ca") * col("mean_rank")).cast("double").as("ra"))
        .select(col("event_type"), col("na"), col("nb"),
          round(col("ra") - col("na") * (col("na") + lit(1.0)) / 2, 2)
            .as("u_stat"),
          round((col("ra") - col("na") * (col("na") + lit(1.0)) / 2
            - col("na") * col("nb") / lit(2.0))
            / sqrt(col("na") * col("nb")
              * (col("na") + col("nb") + lit(1.0)) / 12), 6).as("z"))
        .localCheckpoint(true) // |types| rows
      org.apache.spark.sql.graft.ColumnBridge.unpersistCheckpoint(cls)
      out
    }),

    // q187 Spearman rank correlation per return flag: Pearson over the
    // two columns' mean ranks (same .0/.5-exact rank discipline as
    // q186), moments reduced decimally — the monotone-association
    // screen next to q126's linear correlations.
    "q187_spearman" -> ((s, d) => {
      val rn = Tables(s, d, "lineitem")
        .select(col("l_returnflag").as("f"), col("l_quantity").as("q"),
          col("l_extendedprice").as("p"), col("l_orderkey"),
          col("l_linenumber"))
        .withColumn("rnq", row_number().over(
          Window.partitionBy(col("f"))
            .orderBy(col("q"), col("l_orderkey"), col("l_linenumber")))
          .cast("long"))
        .withColumn("rnp", row_number().over(
          Window.partitionBy(col("f"))
            .orderBy(col("p"), col("l_orderkey"), col("l_linenumber")))
          .cast("long"))
      spearmanFromRanks(rn)
    }),

    // The 100 TB form of q187 — same oracle: Spearman only ever sees
    // ranks through their TIE-MEAN over (f, value), and a value class's
    // mean rank is pure arithmetic on class counts (exclusive prefix
    // count C + (cnt+1)/2). So neither per-row rank pass survives: each
    // value column reduces to its (f, value, cnt) class table (ONE
    // map-side-combined aggregation), a distributed prefix sum over
    // that table assigns the mean ranks (withPrefixSumInGroups — never
    // a corpus/3 single-task window, and never the round-7 shape of two
    // CHAINED corpus rank passes with an eager localCheckpoint between
    // them), and one corpus join-back on the fine (f, value) keys pairs
    // rq with rp per row for the decimal moments. The per-row mean
    // ranks are the exact decimals the rank+window form produced, so
    // the moments — summed decimally, order-independent — hash-match
    // q187's oracle.
    "stats_spearman_rank" -> ((s, d) => {
      val base = Tables(s, d, "lineitem")
        .select(col("l_returnflag").as("f"), col("l_quantity").as("q"),
          col("l_extendedprice").as("p"))
      // each class table is pinned (rfm checkpoint discipline): the
      // prefix-sum machinery evaluates its input 4× (count, sample, two
      // branches) — each would re-run the corpus aggregation otherwise
      def classTable(v: String): DataFrame =
        base.groupBy(col("f"), col(v))
          .agg(count(lit(1)).as("__cnt"))
          .localCheckpoint(true)
      val (cq, cp) = (classTable("q"), classTable("p"))
      // per-flag totals are the CORPUS row counts per flag — identical
      // for both class tables, so ONE bounded collect feeds both prefix
      // passes as literal offsets (round 9: deletes each pass's goffs
      // aggregation + window + broadcast join)
      val totals: Seq[(Any, Long)] = cq.groupBy(col("f"))
        .agg(sum(col("__cnt")).as("n")).collect()
        .map(r => r.get(0) -> r.getLong(1)).toSeq
        .sortWith((a, b) => a._1 == null || (b._1 != null &&
          a._1.asInstanceOf[String] < b._1.asInstanceOf[String]))
      def meanRanks(cls: DataFrame, v: String, out: String): DataFrame =
        graft.operators.GlobalRank
          .withPrefixSumInGroupsKnownTotals(cls, "__cum", col("__cnt"),
            col("f"), totals, col(v))
          .select(col("f"), col(v),
            ((col("__cum") * 2 + col("__cnt") + 1)
              .cast(DecimalType(18, 2)) / 2)
              .cast(DecimalType(18, 2)).as(out))
      // the quantity side is BROADCAST by declaration: l_quantity is a
      // small-integer domain (TPC-H: 1..50), so its class table is
      // domain-bounded at any corpus size and the checkpoint's missing
      // stats must not demote this join to a corpus-wide sort-merge
      // (measured: one of the two join-back exchanges disappears). The
      // price side stays sort-merge deliberately — its class count
      // grows with the corpus.
      val rn = base
        .join(broadcast(meanRanks(cq, "q", "rq")), Seq("f", "q"))
        .join(meanRanks(cp, "p", "rp"), Seq("f", "p"))
      val out = spearmanMoments(rn).localCheckpoint(true) // 3 rows
      org.apache.spark.sql.graft.ColumnBridge.unpersistCheckpoint(cq)
      org.apache.spark.sql.graft.ColumnBridge.unpersistCheckpoint(cp)
      out
    }),

    // q205 one-way ANOVA — the k-group generalization of q136's
    // two-arm t-test: F = (SSB/(k−1)) / (SSW/(n−k)) with the sum-of-
    // squares decomposition SSB = Σ Sᵢ²/nᵢ − S²/n, SSW = Σx² − Σ Sᵢ²/nᵢ,
    // so everything reduces from ONE per-type grouped pass of decimal
    // moments + one fold over the k-row table. All inputs to the final
    // divisions are exact; one row out.
    "q205_anova" -> ((s, d) => {
      val g = Tables(s, d, "events")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("ni"),
          sum(col("value").cast(dec)).cast("double").as("si"),
          sum((col("value") * col("value")).cast(dec)).cast("double")
            .as("qi"))
      // the k-row fold is ALSO decimal-routed: per-type si/qi are
      // 4-dp-exact doubles and the si²/nᵢ term is rounded to 6 dp
      // before the decimal sum, so even this 5-row reduction is
      // order-independent (doubles summed across partitions are not)
      g.agg(count(lit(1)).as("k"), sum(col("ni")).as("n"),
          sum(col("si").cast(DecimalType(28, 4))).cast("double").as("s"),
          sum(col("qi").cast(DecimalType(28, 4))).cast("double").as("q"),
          sum(round(col("si") * col("si") / col("ni"), 6)
            .cast(DecimalType(28, 6))).cast("double").as("a"))
        .select(col("k"), col("n"),
          round(col("a") - col("s") * col("s") / col("n"), 4).as("ssb"),
          round(col("q") - col("a"), 4).as("ssw"),
          round(((col("a") - col("s") * col("s") / col("n"))
            / (col("k") - 1))
            / ((col("q") - col("a")) / (col("n") - col("k"))), 6)
            .as("f_stat"))
    }),

    // q268 experiment design + health: per event type, the minimum
    // detectable effect of the deterministic user-parity A/B split at
    // alpha = 0.05 two-sided / power 0.80 — MDE = (z_{0.975} +
    // z_{0.80})·SE = 2.801585·sqrt(v_a/n_a + v_b/n_b) [standard power
    // analysis; Cohen 1988] — the "is this experiment even big enough?"
    // number an experimentation pipeline reads BEFORE trusting q136's
    // t-test. Beside it, the SRM (sample-ratio-mismatch) chi² of the
    // arm counts against the designed 50/50 [Fabijan et al., KDD'19] —
    // the assignment-bug alarm that invalidates everything else when it
    // fires. Same one-pass decimal moment aggregation as q136 (exact,
    // order-independent); the z-sum is one 6-dp literal both engines
    // share; all assembly rounds once.
    "q268_ab_power" -> ((s, d) => {
      val a = col("user_id") % 2 === 0
      def csum(cond: org.apache.spark.sql.Column,
          v: org.apache.spark.sql.Column) =
        sum(when(cond, v).otherwise(lit(null))).cast("double")
      val x = col("value").cast(dec)
      val xx = (col("value") * col("value")).cast(dec)
      val g = Tables(s, d, "events")
        .groupBy(col("event_type"))
        .agg(count(when(a, 1)).as("n1"), count(when(!a, 1)).as("n2"),
          csum(a, x).as("sx1"), csum(!a, x).as("sx2"),
          csum(a, xx).as("sxx1"), csum(!a, xx).as("sxx2"))
      val m1 = col("sx1") / col("n1")
      val v1 = (col("sxx1") - col("sx1") * col("sx1") / col("n1")) /
        (col("n1") - 1)
      val v2 = (col("sxx2") - col("sx2") * col("sx2") / col("n2")) /
        (col("n2") - 1)
      val se = sqrt(v1 / col("n1") + v2 / col("n2"))
      val mde = lit(2.801585) * se
      val nT = (col("n1") + col("n2")).cast("double")
      val srm = (col("n1") - nT / 2) * (col("n1") - nT / 2) / (nT / 2) +
        (col("n2") - nT / 2) * (col("n2") - nT / 2) / (nT / 2)
      g.select(col("event_type"), col("n1").as("n_a"),
        col("n2").as("n_b"),
        round(m1, 6).as("mean_a"), round(se, 6).as("se"),
        round(mde, 6).as("mde_abs"),
        round(mde / m1, 6).as("mde_rel"),
        round(srm, 6).as("srm_chi2"),
        (srm > lit(3.841459)).as("srm_alarm"))
    }),

    // STREAMING experiment health (rows-only; StreamingDriftSpec):
    // q268's arm-mean diff + SRM alarm per ARRIVING window — see
    // AbMonitor. Complete mode for the draining tail window (the
    // stream_psi convention); the entry REQUIRES streamed == the same
    // aggregation batch-side before returning.
    "stream_ab_monitor" -> ((s, d) => {
      val cur = graft.streaming.EventStream.readEventsStream(s, d)
        .select(col("ts"), col("user_id"), col("event_type"),
          col("value"))
      val out = graft.streaming.AbMonitor.health(cur, "5 days")
      // bounded-domain state: (window × type); decimal/long sums only
      graft.streaming.StateSizing.withBoundedState(s) {
        graft.streaming.EventStream.runToMemory(out, "stream_ab_monitor",
          org.apache.spark.sql.streaming.OutputMode.Complete())
      }
      val got = s.table("stream_ab_monitor").collect().toSet
      val batch = graft.streaming.AbMonitor.health(
        Tables(s, d, "events").select(col("ts"), col("user_id"),
          col("event_type"), col("value")), "5 days").collect().toSet
      require(got == batch,
        s"streamed A/B health diverged from batch: " +
          s"${(got diff batch).take(3)} vs ${(batch diff got).take(3)}")
      s.table("stream_ab_monitor")
    }),

    "q136_welch_ttest" -> ((s, d) => {
      val a = col("user_id") % 2 === 0
      def csum(cond: org.apache.spark.sql.Column, v: org.apache.spark.sql.Column) =
        sum(when(cond, v).otherwise(lit(null))).cast("double")
      val x = col("value").cast(dec)
      val xx = (col("value") * col("value")).cast(dec)
      val g = Tables(s, d, "events")
        .groupBy(col("event_type"))
        .agg(count(when(a, 1)).as("n1"), count(when(!a, 1)).as("n2"),
          csum(a, x).as("sx1"), csum(!a, x).as("sx2"),
          csum(a, xx).as("sxx1"), csum(!a, xx).as("sxx2"))
      val m1 = col("sx1") / col("n1")
      val m2 = col("sx2") / col("n2")
      val v1 = (col("sxx1") - col("sx1") * col("sx1") / col("n1")) / (col("n1") - 1)
      val v2 = (col("sxx2") - col("sx2") * col("sx2") / col("n2")) / (col("n2") - 1)
      val se2 = v1 / col("n1") + v2 / col("n2")
      val df = se2 * se2 /
        ((v1 / col("n1")) * (v1 / col("n1")) / (col("n1") - 1) +
          (v2 / col("n2")) * (v2 / col("n2")) / (col("n2") - 1))
      g.select(col("event_type"), col("n1"), col("n2"),
        round(m1 - m2, 6).as("mean_diff"),
        round((m1 - m2) / sqrt(se2), 6).as("t_stat"),
        round(df, 6).as("welch_df"))
    }),

    "q137_chi_square" -> ((s, d) => {
      val cells = Tables(s, d, "events")
        .groupBy(col("event_type"), (col("user_id") % 3).as("bucket"))
        .agg(count(lit(1)).as("o"))
      // marginals over the 15-row cell table: bounded metadata windows
      val wRow = Window.partitionBy(col("event_type"))
      val wCol = Window.partitionBy(col("bucket"))
      val wAll = Window.partitionBy()
      cells
        .withColumn("row_n", sum(col("o")).over(wRow))
        .withColumn("col_n", sum(col("o")).over(wCol))
        .withColumn("n", sum(col("o")).over(wAll))
        .withColumn("e",
          col("row_n").cast("double") * col("col_n") / col("n"))
        .select(col("event_type"), col("bucket"), col("o"),
          round(col("e"), 6).as("expected"),
          round((col("o") - col("e")) * (col("o") - col("e")) / col("e"), 6)
            .as("chi2_cell"))
    }),

    // Seasonal-naive anomaly detection: per type, each day's total is
    // compared to the same weekday one week earlier (lag-7 of the dense
    // daily series); days whose residual z-score exceeds 2 are flagged.
    // The residual moments reduce decimally per type (bounded rows) and
    // broadcast back over the daily series — zero corpus-sized shuffles
    // beyond the one daily aggregation, the q102 outlier shape applied
    // to time series. Zero-variance types are excluded in BOTH engines
    // (IEEE ±inf vs NULL division differs cross-engine on degenerate
    // groups).
    "q148_seasonal_anomaly" -> ((s, d) => {
      val daily = Tables(s, d, "events")
        .groupBy(col("event_type"),
          date_trunc("day", col("ts")).as("day"))
        .agg(sum(col("value").cast(dec)).cast("double").as("x"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val resid = daily
        .withColumn("baseline", lag(col("x"), 7).over(w))
        .filter(col("baseline").isNotNull)
        .withColumn("r", col("x") - col("baseline"))
      val mom = resid.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("r").cast(dec)).cast("double").as("sr"),
          sum((col("r") * col("r")).cast(dec)).cast("double").as("srr"))
        .select(col("event_type").as("et"), (col("sr") / col("n")).as("mean_r"),
          sqrt((col("srr") - col("sr") * col("sr") / col("n"))
            / (col("n") - 1)).as("std_r"))
      resid.join(broadcast(mom), col("event_type") === col("et"))
        .filter(col("std_r") > 0)
        .withColumn("z", (col("r") - col("mean_r")) / col("std_r"))
        .filter(abs(col("z")) > 2)
        .select(col("event_type"), col("day"), round(col("x"), 4).as("x"),
          round(col("baseline"), 4).as("baseline"), round(col("z"), 6).as("z"))
    }),

    "q142_autocorr" -> ((s, d) => {
      val daily = Tables(s, d, "events")
        .groupBy(col("event_type"),
          date_trunc("day", col("ts")).as("day"))
        .agg(sum(col("value").cast(dec)).cast("double").as("x"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val lagged = Lags.foldLeft(daily) { (df, k) =>
        df.withColumn(s"x_$k", lag(col("x"), k).over(w))
      }
      val pairs = lagged.select(
        (Seq(col("event_type"), col("x")) ++ Lags.map(k => col(s"x_$k"))): _*)
      val stacked = pairs.select(col("event_type"),
        explode(array(Lags.map(k =>
          struct(lit(k).as("lag"), col("x").as("x"),
            col(s"x_$k").as("y"))): _*)).as("p"))
        .select(col("event_type"), col("p.lag").as("lag"),
          col("p.x").as("x"), col("p.y").as("y"))
        .filter(col("y").isNotNull)
      stacked
        .groupBy(col("event_type"), col("lag"))
        .agg(count(lit(1)).as("n"),
          sum(col("x").cast(dec)).cast("double").as("sx"),
          sum(col("y").cast(dec)).cast("double").as("sy"),
          sum((col("x") * col("x")).cast(dec)).cast("double").as("sxx"),
          sum((col("y") * col("y")).cast(dec)).cast("double").as("syy"),
          sum((col("x") * col("y")).cast(dec)).cast("double").as("sxy"))
        .select(col("event_type"), col("lag"), col("n"),
          round((col("sxy") - col("sx") * col("sy") / col("n"))
            / sqrt((col("sxx") - col("sx") * col("sx") / col("n"))
              * (col("syy") - col("sy") * col("sy") / col("n"))), 6)
            .as("acf"))
    })
  )

  /** Shared q186 tail: tie-mean ranks per (type, value), then the U
    * statistic and its normal-approximation z from one grouped pass —
    * ranks arrive as LONGs from either provider (PARTITION BY window or
    * grouped global rank; the unique (value, event_id) tiebreak makes
    * them identical, not merely tie-equivalent).
    */
  /** Shared q254/q255/stream_conformal fit — slice assignment, the
    * trained per-flag model, and the calibration order statistic as
    * driver metadata. Returns (base with (f, x, y, ship, slice), model
    * frame (f, slope, intercept), per-group (g, n_cal, k), per-group
    * q̂). See the q254 queries-map comment for the exactness argument.
    */
  /** The conformal feature/label/slice projection — shared so the
    * cached-fit path can rebuild the (cheap) base plan without
    * re-running the fit.
    */
  private[graft] def conformalBase(li: DataFrame): DataFrame =
    li.select(col("l_returnflag").as("f"),
      col("l_quantity").cast("double").as("x"),
      col("l_extendedprice").cast("double").as("y"),
      col("l_shipdate").as("ship"),
      pmod(col("l_orderkey") + col("l_linenumber"), lit(3)).as("slice"))

  private[graft] def conformalFit(li: DataFrame): (DataFrame, DataFrame,
      Seq[(Any, Long, Long)], Map[Any, Double]) = {
    import graft.functions.Sum128.{sumExact, sumExactProduct}
    val base = conformalBase(li)
    // train: q127's exact moment pass on slice 0; coefficients round at
    // 6 dp so the residual arithmetic below is identical cross-engine
    val m = base.filter(col("slice") === 0)
      .groupBy(col("f")).agg(
        count(lit(1)).cast("double").as("n"),
        sumExact(col("x"), 2).as("sx"), sumExact(col("y"), 2).as("sy"),
        sumExactProduct(col("x"), col("x"), 2).as("sxx"),
        sumExactProduct(col("x"), col("y"), 2).as("sxy"))
    val slope = (col("n") * col("sxy") - col("sx") * col("sy")) /
      (col("n") * col("sxx") - col("sx") * col("sx"))
    val model = m.select(col("f"), round(slope, 6).as("slope"),
      round((col("sy") - slope * col("sx")) / col("n"), 6).as("intercept"))
    // calibration residual CLASS table, pinned — the prefix machinery
    // re-reads it; the k-th order statistic is a class property (the
    // exactGroupQuantilesByRank argument), never a per-group sort
    val cls = residualsAgainst(model)(base.filter(col("slice") === 1))
      .groupBy(col("f"), col("r")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true)
    // (g → n_cal, k = ⌈(n_cal+1)(1−α)⌉ clamped, q̂): everything the
    // returned plan needs from the calibration slice is DRIVER
    // metadata, so the pinned class table releases in finally — the
    // returned plan never references it
    val (ks, picked) =
      try {
        val totals: Seq[(Any, Long)] = cls.groupBy(col("f"))
          .agg(sum(col("cnt")).as("n")).collect()
          .map(row => row.get(0) -> row.getLong(1)).toSeq
          .sortWith((a, b) => a._1 == null || (b._1 != null &&
            a._1.asInstanceOf[String] < b._1.asInstanceOf[String]))
        val ks = totals.map { case (g, n) =>
          (g, n, math.min((9L * (n + 1) + 9) / 10, n)) }
        val pre = graft.operators.GlobalRank
          .withPrefixSumInGroupsKnownTotals(cls, "c", col("cnt"), col("f"),
            totals, col("r"))
        val hit = ks.map { case (g, _, k) =>
          col("f") === lit(g) && lit(k) > col("c") &&
            lit(k) <= col("c") + col("cnt") }.reduce(_ || _)
        // Spark's round(double, 6) semantics (BigDecimal.valueOf →
        // HALF_UP) so the literal equals what round(r, 6) yields in
        // both engines — the coverage compare gates on the SAME value
        val picked: Map[Any, Double] = pre.filter(hit)
          .select(col("f"), col("r")).collect()
          .map(row => row.get(0) ->
            BigDecimal(java.math.BigDecimal.valueOf(row.getDouble(1)))
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble).toMap
        (ks, picked)
      } finally org.apache.spark.sql.graft.ColumnBridge
        .unpersistCheckpoint(cls)
    (base, model, ks, picked)
  }

  private val conformalFits = new graft.SessionCache[Unit,
    (Seq[(String, Double, Double)], Seq[(Any, Long, Long)],
      Map[Any, Double])](_ => ())

  /** The cached-fit form the q254/q255/stream_conformal ENTRIES use:
    * the fit's outputs are |flags| driver numbers, but producing them
    * costs two corpus passes plus an eagerly materialized residual
    * class table — and all three entries need the IDENTICAL fit on the
    * same immutable table, so it runs once per (session, dir). The
    * model frame is rebuilt from the cached coefficient rows; `base`
    * is a cheap projection rebuilt per call. Only the fit's DRIVER
    * METADATA is cached (model coefficient rows, per-group (n_cal, k),
    * per-group q̂); nothing executor-side is pinned. Specs that fit
    * crafted frames keep using [[conformal]]/[[conformalDrift]], which
    * never touch the cache.
    */
  private[graft] def conformalFitCached(s: SparkSession, d: String)
      : (DataFrame, DataFrame, Seq[(Any, Long, Long)], Map[Any, Double]) = {
    val (modelRows, ks, picked) = conformalFits(s, d, ()) {
      val (_, model, groups, qs) = conformalFit(Tables(s, d, "lineitem"))
      (model.collect().toSeq.map(r =>
        (r.getString(0), r.getDouble(1), r.getDouble(2))), groups, qs)
    }
    import s.implicits._
    (conformalBase(Tables(s, d, "lineitem")),
      modelRows.toDF("f", "slope", "intercept"), ks, picked)
  }

  /** Append `r` = |y − (intercept + slope·x)| against a (f, slope,
    * intercept) model frame (broadcast — ≤ |flags| rows).
    */
  private def residualsAgainst(model: DataFrame)(df: DataFrame): DataFrame =
    df.join(broadcast(model), "f")
      .withColumn("r",
        abs(col("y") - (col("intercept") + col("slope") * col("x"))))

  /** Bounded when-chain literals for (n_cal, q̂) keyed on `f`. */
  private def conformalLits(ks: Seq[(Any, Long, Long)],
      picked: Map[Any, Double]): (Column, Column) = (
    ks.foldLeft(lit(0L)) { case (acc, (g, n, _)) =>
      when(col("f") === lit(g), lit(n)).otherwise(acc) },
    ks.foldLeft(lit(Double.NaN)) { case (acc, (g, _, _)) =>
      when(col("f") === lit(g), lit(picked(g))).otherwise(acc) })

  /** q254 body — split conformal per return flag, α = 0.1 (see the
    * queries-map comment). Returns
    * (l_returnflag, n_cal, n_test, q_hat, coverage).
    */
  private[graft] def conformal(li: DataFrame): DataFrame =
    conformalFrom(conformalFit(li))

  private[graft] def conformalFrom(fit: (DataFrame, DataFrame,
      Seq[(Any, Long, Long)], Map[Any, Double])): DataFrame = {
    val (base, model, ks, picked) = fit
    val (nCalExpr, qExpr) = conformalLits(ks, picked)
    residualsAgainst(model)(base.filter(col("slice") === 2))
      .filter(col("f").isin(ks.map(_._1): _*))
      .groupBy(col("f"))
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("r") <= qExpr, 1L).otherwise(0L)).as("covered"))
      .select(col("f").as("l_returnflag"), nCalExpr.as("n_cal"),
        col("n_test"), qExpr.as("q_hat"),
        round(col("covered").cast("double") / col("n_test"), 6)
          .as("coverage"))
  }

  /** q255 body — the per-ship-month coverage audit of q254's FIXED
    * interval: is the distribution-free guarantee eroding over time?
    * (coverage collapse in a period = the feature/label relationship
    * moved — the model-centric drift alarm next to q220/q250's
    * data-centric ones). Same fit, same exactness discipline; the
    * degraded flag gates at 1 − α − 0.05. Returns
    * (l_returnflag, month, n_test, q_hat, coverage, degraded).
    */
  private[graft] def conformalDrift(li: DataFrame): DataFrame =
    conformalDriftFrom(conformalFit(li))

  private[graft] def conformalDriftFrom(fit: (DataFrame, DataFrame,
      Seq[(Any, Long, Long)], Map[Any, Double])): DataFrame = {
    val (base, model, ks, picked) = fit
    val (_, qExpr) = conformalLits(ks, picked)
    residualsAgainst(model)(base.filter(col("slice") === 2))
      .filter(col("f").isin(ks.map(_._1): _*))
      .groupBy(col("f"), date_trunc("month", col("ship")).as("month"))
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("r") <= qExpr, 1L).otherwise(0L)).as("covered"))
      .select(col("f").as("l_returnflag"), col("month"),
        col("n_test"), qExpr.as("q_hat"),
        round(col("covered").cast("double") / col("n_test"), 6)
          .as("coverage"))
      .withColumn("degraded", col("coverage") < lit(0.85))
  }

  private def mannWhitneyFromRanks(rn: DataFrame): DataFrame = {
    val mr = rn.withColumn("mean_rank",
      avg(col("rn").cast(DecimalType(18, 2))).over(
        Window.partitionBy(col("event_type"), col("value")))
        .cast(DecimalType(18, 2)))
    mr.groupBy(col("event_type"))
      .agg(sum(when(col("arm_a"), 1L).otherwise(0L)).as("na"),
        sum(when(col("arm_a"), 0L).otherwise(1L)).as("nb"),
        sum(when(col("arm_a"), col("mean_rank"))).cast("double").as("ra"))
      .select(col("event_type"), col("na"), col("nb"),
        round(col("ra") - col("na") * (col("na") + lit(1.0)) / 2, 2)
          .as("u_stat"),
        round((col("ra") - col("na") * (col("na") + lit(1.0)) / 2
          - col("na") * col("nb") / lit(2.0))
          / sqrt(col("na") * col("nb")
            * (col("na") + col("nb") + lit(1.0)) / 12), 6).as("z"))
  }

  /** Shared q187 tail: mean (tie-averaged) ranks per (flag, value),
    * then Pearson over the decimal-exact rank moments. Ranks arrive as
    * LONGs from either provider (PARTITION BY window or grouped global
    * rank) — tie-averaging makes the result independent of which rank a
    * tied row drew, which is exactly why the two providers agree.
    * Rank moments stay DECIMAL (not Sum128): rank products grow with
    * n², past the scaled-long per-row bound at extreme scale.
    */
  private def spearmanFromRanks(rn: DataFrame): DataFrame =
    spearmanMoments(rn.select(col("f"),
      avg(col("rnq").cast(DecimalType(18, 2))).over(
        Window.partitionBy(col("f"), col("q")))
        .cast(DecimalType(18, 2)).as("rq"),
      avg(col("rnp").cast(DecimalType(18, 2))).over(
        Window.partitionBy(col("f"), col("p")))
        .cast(DecimalType(18, 2)).as("rp")))

  /** The decimal-exact Pearson-over-mean-ranks tail shared by q187 (per-
    * row ranks + tie-mean windows) and stats_spearman_rank (class-count
    * mean ranks joined back) — both feed the same per-row (f, rq, rp).
    */
  private def spearmanMoments(r: DataFrame): DataFrame =
    r.groupBy(col("f"))
      .agg(count(lit(1)).as("n"),
        sum(col("rq")).cast("double").as("sx"),
        sum(col("rp")).cast("double").as("sy"),
        sum(col("rq") * col("rq")).cast("double").as("sxx"),
        sum(col("rp") * col("rp")).cast("double").as("syy"),
        sum(col("rq") * col("rp")).cast("double").as("sxy"))
      .select(col("f").as("l_returnflag"), col("n"),
        round((col("sxy") - col("sx") * col("sy") / col("n"))
          / sqrt((col("sxx") - col("sx") * col("sx") / col("n"))
            * (col("syy") - col("sy") * col("sy") / col("n"))), 6)
          .as("spearman"))

  def oracle: Map[String, String] = Map(
    "q225_bootstrap_ci" ->
      """WITH dly AS (
        |  SELECT event_type, EXTRACT(day FROM ts) AS day,
        |    SUM(CAST(value AS DECIMAL(18, 4))) AS sv, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |rep AS (
        |  SELECT event_type, day, sv, n, b
        |  FROM dly, (SELECT UNNEST(range(0, 200)) AS b)
        |  WHERE CAST(('0x' || substr(md5(CAST(b AS VARCHAR) || '_' ||
        |      CAST(day AS VARCHAR)), 1, 15)) AS BIGINT) % 2 = 0),
        |means AS (
        |  SELECT event_type, b,
        |    CAST(SUM(sv) AS DOUBLE) / SUM(n) AS m
        |  FROM rep GROUP BY 1, 2),
        |ranked AS (
        |  SELECT event_type, b, m,
        |    row_number() OVER (PARTITION BY event_type ORDER BY m, b)
        |      AS rk,
        |    COUNT(*) OVER (PARTITION BY event_type) AS r
        |  FROM means),
        |full_m AS (
        |  SELECT event_type,
        |    round(CAST(SUM(sv) AS DOUBLE) / SUM(n), 6) AS mean
        |  FROM dly GROUP BY 1)
        |SELECT ranked.event_type, CAST(MAX(r) AS BIGINT) AS n_reps,
        |  MAX(full_m.mean) AS mean,
        |  round(MIN(m), 6) AS ci_lo, round(MAX(m), 6) AS ci_hi
        |FROM ranked JOIN full_m ON ranked.event_type = full_m.event_type
        |WHERE rk = (r * 25 + 999) // 1000
        |   OR rk = (r * 975 + 999) // 1000
        |GROUP BY 1""".stripMargin,
    "q205_anova" ->
      """WITH g AS (SELECT event_type, COUNT(*) AS ni,
        |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS si,
        |    CAST(SUM(CAST(value * value AS DECIMAL(18,4))) AS DOUBLE)
        |      AS qi
        |  FROM events GROUP BY event_type),
        |t AS (SELECT COUNT(*) AS k, SUM(ni) AS n,
        |    CAST(SUM(CAST(si AS DECIMAL(28,4))) AS DOUBLE) AS s,
        |    CAST(SUM(CAST(qi AS DECIMAL(28,4))) AS DOUBLE) AS q,
        |    CAST(SUM(CAST(round(si * si / ni, 6) AS DECIMAL(28,6)))
        |      AS DOUBLE) AS a
        |  FROM g)
        |SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
        |  round(a - s * s / n, 4) AS ssb,
        |  round(q - a, 4) AS ssw,
        |  round(((a - s * s / n) / (k - 1)) / ((q - a) / (n - k)), 6)
        |    AS f_stat
        |FROM t""".stripMargin,
    "q254_conformal" ->
      """WITH base AS (SELECT l_returnflag AS f,
        |    CAST(l_quantity AS DOUBLE) AS x,
        |    CAST(l_extendedprice AS DOUBLE) AS y,
        |    (l_orderkey + l_linenumber) % 3 AS slice
        |  FROM lineitem),
        |m AS (SELECT f, CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(CAST(x AS DECIMAL(38,8))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(y AS DECIMAL(38,8))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(x * x AS DECIMAL(38,8))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(x * y AS DECIMAL(38,8))) AS DOUBLE) AS sxy
        |  FROM base WHERE slice = 0 GROUP BY f),
        |model AS (SELECT f,
        |    round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
        |    round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx)
        |      / n, 6) AS intercept
        |  FROM m),
        |cal AS (SELECT b.f,
        |    abs(b.y - (model.intercept + model.slope * b.x)) AS r
        |  FROM base b JOIN model ON b.f = model.f WHERE b.slice = 1),
        |nc AS (SELECT f, COUNT(*) AS n_cal FROM cal GROUP BY f),
        |ranked AS (SELECT f, r,
        |    row_number() OVER (PARTITION BY f ORDER BY r) AS rk
        |  FROM cal),
        |q AS (SELECT ranked.f, nc.n_cal, round(ranked.r, 6) AS q_hat
        |  FROM ranked JOIN nc ON ranked.f = nc.f
        |  WHERE ranked.rk =
        |    least((9 * (nc.n_cal + 1) + 9) // 10, nc.n_cal)),
        |test AS (SELECT b.f,
        |    abs(b.y - (model.intercept + model.slope * b.x)) AS r
        |  FROM base b JOIN model ON b.f = model.f WHERE b.slice = 2)
        |SELECT t.f AS l_returnflag, q.n_cal, COUNT(*) AS n_test,
        |  q.q_hat,
        |  round(CAST(SUM(CASE WHEN t.r <= q.q_hat THEN 1 ELSE 0 END)
        |    AS DOUBLE) / COUNT(*), 6) AS coverage
        |FROM test t JOIN q ON t.f = q.f
        |GROUP BY 1, 2, 4""".stripMargin,
    "q255_conformal_drift" ->
      """WITH base AS (SELECT l_returnflag AS f,
        |    CAST(l_quantity AS DOUBLE) AS x,
        |    CAST(l_extendedprice AS DOUBLE) AS y,
        |    l_shipdate AS ship,
        |    (l_orderkey + l_linenumber) % 3 AS slice
        |  FROM lineitem),
        |m AS (SELECT f, CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(CAST(x AS DECIMAL(38,8))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(y AS DECIMAL(38,8))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(x * x AS DECIMAL(38,8))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(x * y AS DECIMAL(38,8))) AS DOUBLE) AS sxy
        |  FROM base WHERE slice = 0 GROUP BY f),
        |model AS (SELECT f,
        |    round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
        |    round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx)
        |      / n, 6) AS intercept
        |  FROM m),
        |cal AS (SELECT b.f,
        |    abs(b.y - (model.intercept + model.slope * b.x)) AS r
        |  FROM base b JOIN model ON b.f = model.f WHERE b.slice = 1),
        |nc AS (SELECT f, COUNT(*) AS n_cal FROM cal GROUP BY f),
        |ranked AS (SELECT f, r,
        |    row_number() OVER (PARTITION BY f ORDER BY r) AS rk
        |  FROM cal),
        |q AS (SELECT ranked.f, round(ranked.r, 6) AS q_hat
        |  FROM ranked JOIN nc ON ranked.f = nc.f
        |  WHERE ranked.rk =
        |    least((9 * (nc.n_cal + 1) + 9) // 10, nc.n_cal)),
        |test AS (SELECT b.f, date_trunc('month', b.ship) AS month,
        |    abs(b.y - (model.intercept + model.slope * b.x)) AS r
        |  FROM base b JOIN model ON b.f = model.f WHERE b.slice = 2),
        |cov AS (SELECT t.f AS l_returnflag, t.month,
        |    COUNT(*) AS n_test, q.q_hat,
        |    round(CAST(SUM(CASE WHEN t.r <= q.q_hat THEN 1 ELSE 0 END)
        |      AS DOUBLE) / COUNT(*), 6) AS coverage
        |  FROM test t JOIN q ON t.f = q.f
        |  GROUP BY 1, 2, 4)
        |SELECT l_returnflag, month, n_test, q_hat, coverage,
        |  coverage < 0.85 AS degraded
        |FROM cov""".stripMargin,
    // the scale twin shares q188's oracle verbatim — identical
    // inclusive cumulatives (packed prefix unpacks exactly)
    "stats_ks_rank" ->
      """WITH vc AS (SELECT event_type, value,
        |    COUNT(*) FILTER (user_id % 2 = 0) AS ca,
        |    COUNT(*) FILTER (user_id % 2 <> 0) AS cb
        |  FROM events GROUP BY event_type, value),
        |c AS (SELECT event_type,
        |    SUM(ca) OVER (PARTITION BY event_type ORDER BY value) AS cuma,
        |    SUM(cb) OVER (PARTITION BY event_type ORDER BY value) AS cumb,
        |    SUM(ca) OVER (PARTITION BY event_type) AS na,
        |    SUM(cb) OVER (PARTITION BY event_type) AS nb
        |  FROM vc)
        |SELECT event_type, CAST(MAX(na) AS BIGINT) AS na,
        |  CAST(MAX(nb) AS BIGINT) AS nb,
        |  round(CAST(MAX(ABS(cuma * nb - cumb * na)) AS DOUBLE)
        |    / (MAX(na) * MAX(nb)), 6) AS ks_d
        |FROM c GROUP BY event_type""".stripMargin,
    "q188_ks_test" ->
      """WITH vc AS (SELECT event_type, value,
        |    COUNT(*) FILTER (user_id % 2 = 0) AS ca,
        |    COUNT(*) FILTER (user_id % 2 <> 0) AS cb
        |  FROM events GROUP BY event_type, value),
        |c AS (SELECT event_type,
        |    SUM(ca) OVER (PARTITION BY event_type ORDER BY value) AS cuma,
        |    SUM(cb) OVER (PARTITION BY event_type ORDER BY value) AS cumb,
        |    SUM(ca) OVER (PARTITION BY event_type) AS na,
        |    SUM(cb) OVER (PARTITION BY event_type) AS nb
        |  FROM vc)
        |SELECT event_type, CAST(MAX(na) AS BIGINT) AS na,
        |  CAST(MAX(nb) AS BIGINT) AS nb,
        |  round(CAST(MAX(ABS(cuma * nb - cumb * na)) AS DOUBLE)
        |    / (MAX(na) * MAX(nb)), 6) AS ks_d
        |FROM c GROUP BY event_type""".stripMargin,
    "q186_mann_whitney" ->
      """WITH e AS (SELECT event_type, value, user_id % 2 = 0 AS arm_a,
        |    event_id FROM events),
        |rn AS (SELECT event_type, value, arm_a,
        |  row_number() OVER (PARTITION BY event_type
        |    ORDER BY value, event_id) AS rn FROM e),
        |mr AS (SELECT event_type, arm_a,
        |  CAST(AVG(CAST(rn AS DECIMAL(18,2)))
        |    OVER (PARTITION BY event_type, value) AS DECIMAL(18,2))
        |    AS mean_rank
        | FROM rn),
        |g AS (SELECT event_type,
        |  COUNT(*) FILTER (arm_a) AS na,
        |  COUNT(*) FILTER (NOT arm_a) AS nb,
        |  CAST(SUM(mean_rank) FILTER (arm_a) AS DOUBLE) AS ra
        | FROM mr GROUP BY event_type)
        |SELECT event_type, CAST(na AS BIGINT) AS na,
        |  CAST(nb AS BIGINT) AS nb,
        |  round(ra - na * (na + 1.0) / 2, 2) AS u_stat,
        |  round((ra - na * (na + 1.0) / 2 - na * nb / 2.0)
        |    / sqrt(na * nb * (na + nb + 1.0) / 12), 6) AS z
        |FROM g""".stripMargin,
    // the grouped-global-rank form produces IDENTICAL ranks (unique
    // tiebreak; InferenceSpec pin), so it earns the same oracle
    "stats_mwu_rank" ->
      """WITH e AS (SELECT event_type, value, user_id % 2 = 0 AS arm_a,
        |    event_id FROM events),
        |rn AS (SELECT event_type, value, arm_a,
        |  row_number() OVER (PARTITION BY event_type
        |    ORDER BY value, event_id) AS rn FROM e),
        |mr AS (SELECT event_type, arm_a,
        |  CAST(AVG(CAST(rn AS DECIMAL(18,2)))
        |    OVER (PARTITION BY event_type, value) AS DECIMAL(18,2))
        |    AS mean_rank
        | FROM rn),
        |g AS (SELECT event_type,
        |  COUNT(*) FILTER (arm_a) AS na,
        |  COUNT(*) FILTER (NOT arm_a) AS nb,
        |  CAST(SUM(mean_rank) FILTER (arm_a) AS DOUBLE) AS ra
        | FROM mr GROUP BY event_type)
        |SELECT event_type, CAST(na AS BIGINT) AS na,
        |  CAST(nb AS BIGINT) AS nb,
        |  round(ra - na * (na + 1.0) / 2, 2) AS u_stat,
        |  round((ra - na * (na + 1.0) / 2 - na * nb / 2.0)
        |    / sqrt(na * nb * (na + nb + 1.0) / 12), 6) AS z
        |FROM g""".stripMargin,
    "q187_spearman" ->
      """WITH t AS (SELECT l_returnflag AS f, l_quantity AS q,
        |    l_extendedprice AS p, l_orderkey, l_linenumber FROM lineitem),
        |rn AS (SELECT f, q, p,
        |  row_number() OVER (PARTITION BY f
        |    ORDER BY q, l_orderkey, l_linenumber) AS rnq,
        |  row_number() OVER (PARTITION BY f
        |    ORDER BY p, l_orderkey, l_linenumber) AS rnp
        | FROM t),
        |r AS (SELECT f,
        |  CAST(AVG(CAST(rnq AS DECIMAL(18,2))) OVER (PARTITION BY f, q)
        |    AS DECIMAL(18,2)) AS rq,
        |  CAST(AVG(CAST(rnp AS DECIMAL(18,2))) OVER (PARTITION BY f, p)
        |    AS DECIMAL(18,2)) AS rp
        | FROM rn),
        |m AS (SELECT f, COUNT(*) AS n,
        |  CAST(SUM(rq) AS DOUBLE) AS sx, CAST(SUM(rp) AS DOUBLE) AS sy,
        |  CAST(SUM(rq * rq) AS DOUBLE) AS sxx,
        |  CAST(SUM(rp * rp) AS DOUBLE) AS syy,
        |  CAST(SUM(rq * rp) AS DOUBLE) AS sxy
        | FROM r GROUP BY f)
        |SELECT f AS l_returnflag, n,
        |  round((sxy - sx * sy / n)
        |    / sqrt((sxx - sx * sx / n) * (syy - sy * sy / n)), 6)
        |    AS spearman
        |FROM m""".stripMargin,
    // the grouped-global-rank form produces bit-identical ranks (the
    // InferenceSpec pin), so it earns the same oracle
    "stats_spearman_rank" ->
      """WITH t AS (SELECT l_returnflag AS f, l_quantity AS q,
        |    l_extendedprice AS p, l_orderkey, l_linenumber FROM lineitem),
        |rn AS (SELECT f, q, p,
        |  row_number() OVER (PARTITION BY f
        |    ORDER BY q, l_orderkey, l_linenumber) AS rnq,
        |  row_number() OVER (PARTITION BY f
        |    ORDER BY p, l_orderkey, l_linenumber) AS rnp
        | FROM t),
        |r AS (SELECT f,
        |  CAST(AVG(CAST(rnq AS DECIMAL(18,2))) OVER (PARTITION BY f, q)
        |    AS DECIMAL(18,2)) AS rq,
        |  CAST(AVG(CAST(rnp AS DECIMAL(18,2))) OVER (PARTITION BY f, p)
        |    AS DECIMAL(18,2)) AS rp
        | FROM rn),
        |m AS (SELECT f, COUNT(*) AS n,
        |  CAST(SUM(rq) AS DOUBLE) AS sx, CAST(SUM(rp) AS DOUBLE) AS sy,
        |  CAST(SUM(rq * rq) AS DOUBLE) AS sxx,
        |  CAST(SUM(rp * rp) AS DOUBLE) AS syy,
        |  CAST(SUM(rq * rp) AS DOUBLE) AS sxy
        | FROM r GROUP BY f)
        |SELECT f AS l_returnflag, n,
        |  round((sxy - sx * sy / n)
        |    / sqrt((sxx - sx * sx / n) * (syy - sy * sy / n)), 6)
        |    AS spearman
        |FROM m""".stripMargin,
    "q268_ab_power" ->
      """WITH g AS (SELECT event_type,
        |  COUNT(*) FILTER (user_id % 2 = 0) AS n1,
        |  COUNT(*) FILTER (user_id % 2 <> 0) AS n2,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4)))
        |    FILTER (user_id % 2 = 0) AS DOUBLE) AS sx1,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4)))
        |    FILTER (user_id % 2 <> 0) AS DOUBLE) AS sx2,
        |  CAST(SUM(CAST(value * value AS DECIMAL(18,4)))
        |    FILTER (user_id % 2 = 0) AS DOUBLE) AS sxx1,
        |  CAST(SUM(CAST(value * value AS DECIMAL(18,4)))
        |    FILTER (user_id % 2 <> 0) AS DOUBLE) AS sxx2
        | FROM events GROUP BY event_type),
        |m AS (SELECT event_type, n1, n2, sx1 / n1 AS m1,
        |  (sxx1 - sx1 * sx1 / n1) / (n1 - 1) AS v1,
        |  (sxx2 - sx2 * sx2 / n2) / (n2 - 1) AS v2,
        |  CAST(n1 + n2 AS DOUBLE) AS nt
        | FROM g),
        |c AS (SELECT event_type, n1, n2, m1,
        |  sqrt(v1 / n1 + v2 / n2) AS se,
        |  (n1 - nt / 2) * (n1 - nt / 2) / (nt / 2)
        |    + (n2 - nt / 2) * (n2 - nt / 2) / (nt / 2) AS srm
        | FROM m)
        |SELECT event_type, n1 AS n_a, n2 AS n_b,
        |  round(m1, 6) AS mean_a, round(se, 6) AS se,
        |  round(2.801585 * se, 6) AS mde_abs,
        |  round(2.801585 * se / m1, 6) AS mde_rel,
        |  round(srm, 6) AS srm_chi2,
        |  srm > 3.841459 AS srm_alarm
        |FROM c""".stripMargin,
    "q136_welch_ttest" ->
      """WITH g AS (SELECT event_type,
        |  COUNT(*) FILTER (user_id % 2 = 0) AS n1,
        |  COUNT(*) FILTER (user_id % 2 <> 0) AS n2,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4)))
        |    FILTER (user_id % 2 = 0) AS DOUBLE) AS sx1,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4)))
        |    FILTER (user_id % 2 <> 0) AS DOUBLE) AS sx2,
        |  CAST(SUM(CAST(value * value AS DECIMAL(18,4)))
        |    FILTER (user_id % 2 = 0) AS DOUBLE) AS sxx1,
        |  CAST(SUM(CAST(value * value AS DECIMAL(18,4)))
        |    FILTER (user_id % 2 <> 0) AS DOUBLE) AS sxx2
        | FROM events GROUP BY event_type),
        |m AS (SELECT event_type, n1, n2,
        |  sx1 / n1 AS m1, sx2 / n2 AS m2,
        |  (sxx1 - sx1 * sx1 / n1) / (n1 - 1) AS v1,
        |  (sxx2 - sx2 * sx2 / n2) / (n2 - 1) AS v2
        | FROM g)
        |SELECT event_type, n1, n2,
        |  round(m1 - m2, 6) AS mean_diff,
        |  round((m1 - m2) / sqrt(v1 / n1 + v2 / n2), 6) AS t_stat,
        |  round((v1 / n1 + v2 / n2) * (v1 / n1 + v2 / n2)
        |    / ((v1 / n1) * (v1 / n1) / (n1 - 1)
        |      + (v2 / n2) * (v2 / n2) / (n2 - 1)), 6) AS welch_df
        |FROM m""".stripMargin,
    "q137_chi_square" ->
      """WITH cells AS (SELECT event_type, user_id % 3 AS bucket,
        |  COUNT(*) AS o FROM events GROUP BY event_type, user_id % 3),
        |m AS (SELECT event_type, bucket, o,
        |  SUM(o) OVER (PARTITION BY event_type) AS row_n,
        |  SUM(o) OVER (PARTITION BY bucket) AS col_n,
        |  SUM(o) OVER () AS n
        | FROM cells)
        |SELECT event_type, bucket, o,
        |  round(CAST(row_n AS DOUBLE) * col_n / n, 6) AS expected,
        |  round((o - CAST(row_n AS DOUBLE) * col_n / n)
        |    * (o - CAST(row_n AS DOUBLE) * col_n / n)
        |    / (CAST(row_n AS DOUBLE) * col_n / n), 6) AS chi2_cell
        |FROM m""".stripMargin,
    "q148_seasonal_anomaly" ->
      """WITH daily AS (SELECT event_type, date_trunc('day', ts) AS day,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS x
        | FROM events GROUP BY event_type, date_trunc('day', ts)),
        |resid AS (SELECT event_type, day, x,
        |  LAG(x, 7) OVER (PARTITION BY event_type ORDER BY day) AS baseline
        | FROM daily),
        |r2 AS (SELECT event_type, day, x, baseline, x - baseline AS r
        | FROM resid WHERE baseline IS NOT NULL),
        |mom AS (SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(r AS DECIMAL(18,4))) AS DOUBLE) AS sr,
        |  CAST(SUM(CAST(r * r AS DECIMAL(18,4))) AS DOUBLE) AS srr
        | FROM r2 GROUP BY event_type),
        |ms AS (SELECT event_type, sr / n AS mean_r,
        |  sqrt((srr - sr * sr / n) / (n - 1)) AS std_r FROM mom)
        |SELECT r2.event_type, r2.day, round(r2.x, 4) AS x,
        |  round(r2.baseline, 4) AS baseline,
        |  round((r2.r - ms.mean_r) / ms.std_r, 6) AS z
        |FROM r2 JOIN ms ON r2.event_type = ms.event_type
        |WHERE ms.std_r > 0
        |  AND abs((r2.r - ms.mean_r) / ms.std_r) > 2""".stripMargin,
    "q142_autocorr" ->
      """WITH daily AS (SELECT event_type, date_trunc('day', ts) AS day,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS x
        | FROM events GROUP BY event_type, date_trunc('day', ts)),
        |lagged AS (SELECT event_type, x,
        |  LAG(x, 1) OVER w AS x_1, LAG(x, 2) OVER w AS x_2,
        |  LAG(x, 3) OVER w AS x_3
        | FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)),
        |stacked AS (
        |  SELECT event_type, 1 AS lag, x, x_1 AS y FROM lagged
        |  UNION ALL
        |  SELECT event_type, 2, x, x_2 FROM lagged
        |  UNION ALL
        |  SELECT event_type, 3, x, x_3 FROM lagged),
        |mom AS (SELECT event_type, lag, COUNT(*) AS n,
        |  CAST(SUM(CAST(x AS DECIMAL(18,4))) AS DOUBLE) AS sx,
        |  CAST(SUM(CAST(y AS DECIMAL(18,4))) AS DOUBLE) AS sy,
        |  CAST(SUM(CAST(x * x AS DECIMAL(18,4))) AS DOUBLE) AS sxx,
        |  CAST(SUM(CAST(y * y AS DECIMAL(18,4))) AS DOUBLE) AS syy,
        |  CAST(SUM(CAST(x * y AS DECIMAL(18,4))) AS DOUBLE) AS sxy
        | FROM stacked WHERE y IS NOT NULL GROUP BY event_type, lag)
        |SELECT event_type, lag, n,
        |  round((sxy - sx * sy / n)
        |    / sqrt((sxx - sx * sx / n) * (syy - sy * sy / n)), 6) AS acf
        |FROM mom""".stripMargin
  )
}
