package graft

import java.sql.Timestamp

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.{AsOfJoin, AsOfJoinExec}

class AsOfJoinSpec extends SparkSpec {
  import spark.implicits._

  private def ts(sec: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 00:${sec / 60}%02d:${sec % 60}%02d")

  test("native as-of join matches hand-computed backward picks") {
    // key 1 quotes at 10 (1.0), 20 (2.0); key 2 quote at 15 (9.0)
    val trades = Seq((1L, ts(5)), (1L, ts(10)), (1L, ts(25)), (2L, ts(14)),
      (2L, ts(15)), (3L, ts(30)))
      .toDF("k", "t")
    val quotes = Seq((1L, ts(10), 1.0), (1L, ts(20), 2.0), (2L, ts(15), 9.0))
      .toDF("k", "qt", "price")
    val r = AsOfJoin.asof(trades, quotes, Seq("k"), "t", "qt")
      .select(col("t"), trades("k"), col("price"))
    val rows = r.collect()
      .map(x => (x.getTimestamp(0), x.getLong(1),
        if (x.isNullAt(2)) null else x.getDouble(2))).toSet
    assert(rows == Set(
      (ts(5), 1L, null),        // before any quote
      (ts(10), 1L, 1.0),        // simultaneous quote matches (>=)
      (ts(25), 1L, 2.0),        // latest quote <= 25
      (ts(14), 2L, null),
      (ts(15), 2L, 9.0),
      (ts(30), 3L, null)))      // key with no quotes at all
  }

  test("forward direction picks the FIRST quote at/after each trade") {
    import graft.plans.AsOfForward
    val trades = Seq((1L, ts(5)), (1L, ts(10)), (1L, ts(25)), (2L, ts(14)),
      (2L, ts(16)), (3L, ts(30)))
      .toDF("k", "t")
    val quotes = Seq((1L, ts(10), 1.0), (1L, ts(20), 2.0), (2L, ts(15), 9.0))
      .toDF("k", "qt", "price")
    val rows = AsOfJoin.asof(trades, quotes, Seq("k"), "t", "qt",
        direction = AsOfForward)
      .select(col("t"), trades("k"), col("price"))
      .collect().map(x => (x.getTimestamp(0), x.getLong(1),
        if (x.isNullAt(2)) null else x.getDouble(2))).toSet
    assert(rows == Set(
      (ts(5), 1L, 1.0),         // first quote >= 5 is at 10
      (ts(10), 1L, 1.0),        // simultaneous matches (>=)
      (ts(25), 1L, null),       // nothing after 25
      (ts(14), 2L, 9.0),
      (ts(16), 2L, null),
      (ts(30), 3L, null)))
  }

  test("tolerance bounds the match gap in both directions") {
    import graft.plans.{AsOfBackward, AsOfForward}
    val trades = Seq((1L, 100L), (1L, 200L), (1L, 1000L)).toDF("k", "t")
    val quotes = Seq((1L, 90L, 1.0), (1L, 950L, 2.0)).toDF("k", "qt", "price")
    // backward, tol 50: t=100 matches qt=90 (gap 10); t=200's best is
    // 90 (gap 110 > 50 -> NULL); t=1000 matches 950 (gap 50, inclusive)
    val back = AsOfJoin.asof(trades, quotes, Seq("k"), "t", "qt",
        AsOfBackward, tolerance = Some(50L))
      .select(col("t"), col("price")).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    assert(back == Map(100L -> 1.0, 200L -> null, 1000L -> 2.0))
    // forward, tol 100: t=100's next is 950 (gap 850 -> NULL); t=200
    // same; t=1000 has no quote >= it at all... qt=950 < 1000 -> NULL
    val fwd = AsOfJoin.asof(trades, quotes, Seq("k"), "t", "qt",
        AsOfForward, tolerance = Some(100L))
      .select(col("t"), col("price")).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    assert(fwd == Map(100L -> null, 200L -> null, 1000L -> null))
    // and with a generous tolerance the forward picks return
    val fwd2 = AsOfJoin.asof(trades, quotes, Seq("k"), "t", "qt",
        AsOfForward, tolerance = Some(1000L))
      .select(col("t"), col("price")).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    assert(fwd2 == Map(100L -> 2.0, 200L -> 2.0, 1000L -> null))
  }

  test("forward equals an O(n·m) reference join on random data") {
    import graft.plans.AsOfForward
    val trades = spark.range(0, 2000).select(
      (col("id") % 37).as("k"),
      ((col("id") * 2654435761L) % 100000).as("t"))
    val quotes = spark.range(0, 500).select(
      (col("id") % 41).as("qk"),
      ((col("id") * 40503L) % 100000).as("qt"),
      col("id").cast("double").as("price"))
    val got = AsOfJoin.asof(trades, quotes.withColumnRenamed("qk", "k"),
        Seq("k"), "t", "qt", direction = AsOfForward)
      .select(trades("k"), col("t"), col("qt"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    val want = trades.join(quotes.withColumnRenamed("qk", "k"),
        Seq("k"), "left")
      .filter(col("qt").isNull || col("qt") >= col("t"))
      .groupBy(col("k"), col("t"))
      .agg(min(col("qt")).as("qt"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    // the reference drops (k, t) pairs whose only join rows were
    // filtered; re-add them as unmatched
    val allKeys = trades.select(col("k"), col("t")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val wantFull = allKeys.map { case (k, t) =>
      want.find(w => w._1 == k && w._2 == t && w._3 >= 0)
        .getOrElse((k, t, -1L))
    }
    assert(got == wantFull)
  }

  test("native as-of equals an O(n·m) reference join on random data") {
    val trades = spark.range(0, 2000).select(
      (col("id") % 37).as("k"),
      ((col("id") * 2654435761L) % 100000).as("t"))
    val quotes = spark.range(0, 500).select(
      (col("id") % 41).as("qk"),
      ((col("id") * 40503L) % 100000).as("qt"),
      col("id").cast("double").as("price"))
    val got = AsOfJoin.asof(trades, quotes.withColumnRenamed("qk", "k"),
      Seq("k"), "t", "qt")
      .select(trades("k"), col("t"), col("qt"), col("price"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    // reference: left join on key + qt <= t, keep max qt per (k, t)
    val w = Window.partitionBy(col("k"), col("t"))
    val ref = trades.join(quotes, trades("k") === quotes("qk") &&
        col("qt") <= col("t"), "left")
      .withColumn("mx", max(col("qt")).over(w))
      .filter(col("qt").isNull || col("qt") === col("mx"))
      .select(col("k"), col("t"), col("qt"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    assert(got == ref)
  }

  test("as-of plan shape: custom exec over co-partitioned sorted children") {
    val trades = spark.range(0, 100).select((col("id") % 5).as("k"),
      col("id").as("t"))
    val quotes = spark.range(0, 50).select((col("id") % 5).as("k"),
      (col("id") * 2).as("qt"), col("id").cast("double").as("price"))
    val plan = AsOfJoin.asof(trades, quotes, Seq("k"), "t", "qt")
      .queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin ["), plan) // exec renders sans "Exec"
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 2, plan)
    assert("Sort \\[".r.findAllIn(plan).size >= 2, plan)
  }

  test("self-join over one source gets disjoint sides (fresh expr ids)") {
    val ev = Tables(spark, sf, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("value").as("p_value"))
      .withColumnRenamed("p_user", "user_id")
    val j = AsOfJoin.asof(clicks, purchases, Seq("user_id"), "ts", "p_ts")
    val n = j.count()
    assert(n == clicks.count()) // left-outer: every click exactly once
    assert(j.filter(col("p_ts").isNotNull).count() > 0)
  }

  test("native as-of reproduces q34's composed window form exactly") {
    val ev = Tables(spark, sf, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("ts").as("purchase_ts"),
        col("value").as("purchase_value"))
      .withColumnRenamed("pu", "user_id")
    val native = AsOfJoin.asof(clicks, purchases, Seq("user_id"),
      "ts", "purchase_ts")
      .filter(col("purchase_ts").isNotNull)
      .select(col("event_id"), clicks("user_id"), col("ts"),
        col("purchase_ts"), col("purchase_value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2),
        r.getTimestamp(3), r.getDouble(4))).toSet
    val composed = graft.queries.AdvancedQueries
      .queries("q34_asof_join")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2),
        r.getTimestamp(3), r.getDouble(4))).toSet
    assert(native == composed)
  }

  test("strategy registration is idempotent") {
    // GraftExtensions installs the strategy in every session GraftSession
    // builds and in its newSession()s; asof itself installs nothing
    Seq(spark, spark.newSession()).foreach { s =>
      val t = s.createDataFrame(Seq((1L, 1L))).toDF("k", "t")
      val q = s.createDataFrame(Seq((1L, 1L, 1.0))).toDF("k", "qt", "p")
      val j = AsOfJoin.asof(t, q, Seq("k"), "t", "qt")
      assert(j.queryExecution.sparkPlan.collectFirst {
        case e: AsOfJoinExec => e
      }.isDefined)
      assert(j.collect().length === 1)
      assert(s.experimental.extraStrategies.isEmpty)
    }
  }

  test("asof without GraftExtensions fails early, naming the conf") {
    import org.apache.spark.sql.classic
    // a session over the same context built with NO extensions (the
    // constructor taking them is private; GraftSession always loads them)
    val ctor = classOf[classic.SparkSession].getDeclaredConstructors
      .find(_.getParameterCount == 6).get
    ctor.setAccessible(true)
    val bare = ctor.newInstance(spark.sparkContext,
      Some(spark.asInstanceOf[classic.SparkSession].sharedState), None,
      new org.apache.spark.sql.SparkSessionExtensions,
      Map.empty[String, String], Map.empty[String, String])
      .asInstanceOf[classic.SparkSession]
    val t = bare.createDataFrame(Seq((1L, 1L))).toDF("k", "t")
    val q = bare.createDataFrame(Seq((1L, 1L, 1.0))).toDF("k", "qt", "p")
    val e = intercept[IllegalStateException] {
      AsOfJoin.asof(t, q, Seq("k"), "t", "qt")
    }
    assert(e.getMessage.contains("spark.sql.extensions=graft.GraftExtensions"),
      e.getMessage)
  }
}
