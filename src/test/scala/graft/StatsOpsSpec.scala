package graft

import java.sql.Timestamp

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.queries.StatsOps

class StatsOpsSpec extends SparkSpec {
  import spark.implicits._

  test("outliers: crafted spike is flagged with the hand-computed z") {
    // group 'a': nine 10.0s and one 20.0 → mean 11, var (81+9*1)/9 = 10,
    // std sqrt(10); z(20) = 9/sqrt(10) = 2.8460 > 2.5, z(10) ≈ -0.32
    val ev = ((1 to 9).map(i => (i.toLong, "a", 10.0)) :+ (10L, "a", 20.0))
      .toDF("event_id", "event_type", "value")
    val got = StatsOps.outliers(ev).collect()
    assert(got.length == 1)
    assert(got(0).getLong(0) == 10L)
    assert(got(0).getDouble(3) == 2.846)
  }

  test("outliers: corpus side rides a broadcast join, one tiny moments shuffle") {
    val df = StatsOps.outliers(Tables(spark, sf, "events"))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(p.contains("BroadcastHashJoin"), s"moments must broadcast:\n$p")
    val nEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(nEx <= 1, s"corpus must not shuffle for scoring, got $nEx:\n$p")
  }

  test("equi-depth histogram: near-equal buckets, full coverage, ordered extents") {
    val df = StatsOps.eqDepthHistogram(
      Tables(spark, sf, "lineitem"), "l_extendedprice")
    val rows = df.collect().map(r => (r.getInt(0), r.getLong(1),
      r.getDouble(2), r.getDouble(3))).sortBy(_._1)
    assert(rows.map(_._1).toSeq == (0 until StatsOps.EqDepthBuckets))
    val total = Tables(spark, sf, "lineitem").count()
    assert(rows.map(_._2).sum == total, "every row lands in some bucket")
    // equi-DEPTH: each bucket within 2% of total/k (ties can shift rows)
    val ideal = total.toDouble / StatsOps.EqDepthBuckets
    rows.foreach { case (b, n, _, _) =>
      assert(math.abs(n - ideal) <= ideal * 0.02 + 1,
        s"bucket $b holds $n vs ideal $ideal") }
    // buckets tile the value axis in order
    rows.sliding(2).foreach {
      case Array((_, _, _, mx1), (_, _, mn2, _)) => assert(mx1 <= mn2)
      case _ =>
    }
  }

  test("rank-based equi-depth is bit-identical to the percentile-buffer form") {
    def run(f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) =
      f(Tables(spark, sf, "lineitem")).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3))).sortBy(_._1).toSeq
    val buffer = run(StatsOps.eqDepthHistogram(_, "l_extendedprice"))
    val rank = run(StatsOps.eqDepthHistogramRank(_, "l_extendedprice"))
    assert(buffer.nonEmpty && rank == buffer,
      s"rank form diverged:\n$rank\nvs\n$buffer")
    // and on a crafted duplicate-heavy series where interpolation hits
    // both the tie and the fractional-position paths
    import spark.implicits._
    val crafted = (1 to 101).map(i => math.min(i, 60).toDouble)
      .toDF("l_extendedprice")
    def run2(df: org.apache.spark.sql.DataFrame) =
      (StatsOps.eqDepthHistogram(df, "l_extendedprice").collect().toSet,
        StatsOps.eqDepthHistogramRank(df, "l_extendedprice").collect().toSet)
    val b2 = run2(crafted)
    assert(b2._1 == b2._2, s"crafted diverged: ${b2._1} vs ${b2._2}")
  }

  test("rank fill counts its class table once") {
    val li = Tables(spark, sf, "lineitem")
    li.count()
    val (jobs, _, _) = jobsOf(StatsOps.exactQuantilesByRank(li,
      "l_extendedprice", (1 until StatsOps.EqDepthBuckets)
        .map(_.toDouble / StatsOps.EqDepthBuckets)))
    // class-table pin, one sum-and-count aggregate, the boundary sample
    // and the wanted-rank collect, AQE stage jobs included: the class
    // table is counted once
    assert(jobs == 10, s"rank fill ran $jobs jobs")
  }

  test("rank-based per-group percentiles are bit-identical to q47") {
    def run(name: String) = SparkEntry.queries(name)(spark, sf).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2),
        r.getLong(3))).toSet
    val buffer = run("q47_percentiles")
    val rank = run("stats_pctl_rank")
    assert(buffer.nonEmpty && rank == buffer,
      s"grouped rank percentiles diverged: $rank vs $buffer")
  }

  test("rank-based winsorize is bit-identical to the percentile-buffer form") {
    def run(name: String) = SparkEntry.queries(name)(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5))).toSet
    val buffer = run("q202_winsorize")
    val rank = run("stats_winsorize_rank")
    assert(buffer.nonEmpty && rank == buffer,
      s"rank winsorize diverged: $rank vs $buffer")
  }

  test("two-pass weighted median is bit-identical to the sorted q171 form") {
    def run(name: String) =
      graft.queries.StatsOps.queries(name)(spark, sf).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val exact = run("q171_weighted_median")
    val twoPass = run("stats_wmedian_2pass")
    assert(exact.nonEmpty && twoPass == exact,
      s"scale path must land on the exact cut: $twoPass vs $exact")
  }

  test("approx winsorize tracks the exact form within tolerance") {
    def run(name: String) =
      graft.queries.StatsOps.queries(name)(spark, sf).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
          r.getLong(3), r.getDouble(4), r.getDouble(5)))).toMap
    val exact = run("q202_winsorize")
    val approx = run("stats_approx_winsorize")
    assert(exact.keySet == approx.keySet && exact.nonEmpty)
    exact.foreach { case (k, (n, lo, hi, mRaw, mWins)) =>
      val (n2, lo2, hi2, mRaw2, mWins2) = approx(k)
      assert(n2 == n && mRaw2 == mRaw, "untouched stats must agree")
      assert(math.abs(lo2 - lo) <= math.max(1, n / 100)
        && math.abs(hi2 - hi) <= math.max(1, n / 100),
        s"clip counts within 1%: $k")
      assert(math.abs(mWins2 - mWins) / math.abs(mWins) < 1e-4,
        s"winsorized mean within 0.01% relative: $k")
    }
  }

  test("q202 winsorize: symmetric clip leaves the mean fixed on 1..20") {
    import spark.implicits._
    // p05 of 1..20 = 1.95, p95 = 19.05 (linear interpolation); exactly
    // one value clips on each side, and the symmetric clip keeps the
    // mean at 10.5 while both tails report 1 clipped row
    val dir = java.nio.file.Files.createTempDirectory("graft-wins").toString
    (1 to 20).map(i => ("A", i.toDouble))
      .toDF("l_returnflag", "l_extendedprice")
      .write.parquet(s"$dir/lineitem.parquet")
    val r = graft.queries.StatsOps.queries("q202_winsorize")(spark, dir)
      .collect()
    assert(r.length == 1)
    assert((r.head.getLong(1), r.head.getLong(2), r.head.getLong(3))
      == ((20L, 1L, 1L)))
    assert(r.head.getDouble(4) == 10.5 && r.head.getDouble(5) == 10.5)
  }

  test("MAD stays anchored where one extreme value inflates the std") {
    // nine 10.0s and one 1000.0: the spike drags std to ~313 (z of the
    // spike ≈ 2.85, z of the 10s ≈ -0.3 — everything looks "normal-ish")
    // while median=10, MAD=0 stays put and the spike alone violates
    // |x - med| > 3*MAD
    val ev = ((1 to 9).map(i => (i.toLong, "a", 10.0)) :+ (10L, "a", 1000.0))
      .toDF("event_id", "event_type", "value")
    val med = ev.groupBy(col("event_type"))
      .agg(round(expr("percentile(value, 0.5)"), 4).as("med"))
    val mad = ev.join(broadcast(med), "event_type")
      .groupBy(col("event_type"))
      .agg(org.apache.spark.sql.functions.first(col("med")).as("med"),
        round(expr("percentile(abs(value - med), 0.5)"), 4).as("mad"))
      .collect()(0)
    assert(mad.getDouble(1) == 10.0 && mad.getDouble(2) == 0.0)
    val outliers = ev.filter(abs(col("value") - lit(10.0)) > lit(0.0) * 3)
      .count()
    assert(outliers == 1L, "only the spike violates the MAD fence")
    // contrast: the classical z-score at the same 3x fence misses it
    val std = math.sqrt(ev.agg(expr("var_samp(value)")).head().getDouble(0))
    assert(math.abs((1000.0 - 109.0) / std) < 3,
      "the spike hides from its own mean/std fence")
  }

  test("approx percentile twins track the exact forms within 1% at sf0.1") {
    val big = "/root/testdata/sf0.1"
    // q112 vs q47: per-group p50/p90 relative error ≤ 1%
    val exact = SparkEntry.queries("q47_percentiles")(spark, big)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2))).toMap
    val approx = SparkEntry.queries("q112_approx_percentiles")(spark, big)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2))).toMap
    assert(approx.keySet == exact.keySet)
    approx.foreach { case (g, (p50, p90)) =>
      val (e50, e90) = exact(g)
      assert(math.abs(p50 - e50) <= e50 * 0.01, s"$g p50: $p50 vs $e50")
      assert(math.abs(p90 - e90) <= e90 * 0.01, s"$g p90: $p90 vs $e90")
    }
    // approx eq-depth vs exact: same bucket ids, per-bucket depth within
    // 1% of total (boundary drift shifts rows only near the boundary)
    val exHist = SparkEntry.queries("q106_eqdepth_hist")(spark, big)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val apHist = SparkEntry.queries("stats_approx_eqdepth")(spark, big)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(apHist.keySet == exHist.keySet)
    val total = exHist.values.sum
    apHist.foreach { case (b, n) =>
      assert(math.abs(n - exHist(b)) <= total * 0.01,
        s"bucket $b: approx depth $n vs exact ${exHist(b)}")
    }
  }

  test("rolling distinct via merged daily HLL sketches tracks the exact join") {
    val got = SparkEntry.queries("q107_rolling_distinct")(spark, sf)
      .collect().map(r => (r.getDate(0).toString,
        r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(got.nonEmpty)
    // exact twin is now a first-class oracle-checked entry (q113): the
    // sketch is pinned against the same query the driver hash-checks
    val exact = SparkEntry.queries("q113_rolling_distinct_exact")(spark, sf)
      .collect().map(r => r.getDate(0).toString -> r.getLong(2)).toMap
    got.foreach { case (day, d1, d7) =>
      val ex = exact(day)
      assert(d7 >= d1, s"$day: 7d window can't be smaller than its own day")
      assert(math.abs(d7 - ex) <= math.max(1L, (ex * 0.05).toLong),
        s"$day: sketch $d7 vs exact $ex drifts >5%")
    }
  }

  test("range window honors the exact 7-day microsecond boundary") {
    val t0 = Timestamp.valueOf("2024-01-10 00:00:00")
    def at(micros: Long) = new Timestamp(t0.getTime + micros / 1000) // ms precision here
    val ev = Seq(
      (1L, 7L, at(0L), 1.0),                          // anchor - 7d exactly: IN frame
      (2L, 7L, at(1000L), 2.0),                       // 1ms after: IN
      (3L, 7L, at(StatsOps.FrameMicros - 1000), 4.0), // 1ms before anchor: IN
      (4L, 7L, at(StatsOps.FrameMicros), 8.0),        // the anchor row
      (5L, 8L, at(StatsOps.FrameMicros), 99.0))       // other user: never
      .toDF("event_id", "user_id", "ts", "value")
    // row 1 is exactly FrameMicros before row 4 — RANGE is inclusive, so
    // the anchor's trailing frame holds all four of user 7's rows
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
      .rangeBetween(-StatsOps.FrameMicros, Window.currentRow)
    val got = ev.withColumn("us", unix_micros(col("ts")))
      .withColumn("n_7d", count(lit(1)).over(w))
      .withColumn("sum_7d", sum(col("value")).over(w))
      .collect().map(r => r.getAs[Long]("event_id") ->
        (r.getAs[Long]("n_7d"), r.getAs[Double]("sum_7d"))).toMap
    assert(got(4L) == ((4L, 15.0)))
    assert(got(3L) == ((3L, 7.0)))
    assert(got(5L) == ((1L, 99.0)))
    // one row later than 7d after row 1: row 1 must have aged out
    val ev2 = ev.union(Seq((6L, 7L, at(StatsOps.FrameMicros + 1000), 16.0))
      .toDF("event_id", "user_id", "ts", "value"))
    val got2 = ev2.withColumn("us", unix_micros(col("ts")))
      .withColumn("n_7d", count(lit(1)).over(w))
      .collect().map(r => r.getAs[Long]("event_id") -> r.getAs[Long]("n_7d"))
      .toMap
    assert(got2(6L) == 4L, "row at +7d+1ms must exclude the t0 row")
  }

  test("hll overlap estimate tracks the exact pair counts within 5%") {
    val est = SparkEntry.queries("stats_hll_overlap")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val exact = SparkEntry.queries("q151_overlap_exact")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // same pair domain (pairs with zero overlap would drop only from
    // the exact side; none exist in this data)
    assert(est.keySet == exact.keySet)
    assert(est.nonEmpty)
    exact.foreach { case (k, ex) =>
      val er = est(k)
      assert(math.abs(er - ex) <= math.max(0.05 * ex, 2.0),
        s"pair $k: estimate $er vs exact $ex")
    }
  }

  test("q252 Hill estimator recovers the exact geometric-tail slope") {
    import spark.implicits._
    import java.sql.Timestamp
    // top values geometric: v_i = 2^(51-i) -> ln v_i - ln v_51 =
    // (51-i)ln2; gamma = ln2 * (50+...+1)/50 = 25.5*ln2. Pad each type
    // with sub-1 values that lose the top-51 race but keep value > 0.
    val k = 50
    val rows =
      (1 to k + 1).map(i => math.pow(2.0, (k + 1 - i).toDouble)) ++
      (1 to 20).map(i => 0.5 / i)
    val ev = rows.zipWithIndex.map { case (v, i) =>
      (i.toLong, Timestamp.valueOf("2024-01-05 08:00:00"), i.toLong,
        "t", v, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = java.nio.file.Files.createTempDirectory("graft-hill")
      .toString
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = StatsOps.queries("q252_hill_tail")(spark, dir).collect()
    assert(r.length === 1)
    val gamma = r.head.getAs[Double]("hill_gamma")
    val want = 25.5 * math.log(2.0)
    assert(math.abs(gamma - want) < 1e-5, s"$gamma vs $want")
    assert(math.abs(r.head.getAs[Double]("tail_alpha") - 1.0 / gamma)
      < 1e-6)
    // a type with <= k positive values carries no estimate
    val few = (1 to 30).map(i =>
      (100L + i, Timestamp.valueOf("2024-01-05 08:00:00"), i.toLong,
        "few", i.toDouble, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    ev.unionByName(few).write.mode("overwrite")
      .parquet(s"$dir/events.parquet")
    // the table dir was rewritten IN PLACE: drop the session-cached
    // resolution (Tables' documented staleness contract) before re-read
    graft.Tables.resolved.evict(spark, dir)
    val r2 = StatsOps.queries("q252_hill_tail")(spark, dir).collect()
    assert(r2.map(_.getString(0)).toSet === Set("t"))
  }
}
