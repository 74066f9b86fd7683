package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.queries.{BehaviorOps, BusinessOps, CurationOps, StatsOps}

class BusinessOpsSpec extends SparkSpec {
  import spark.implicits._

  private def dirWith(tables: (String, DataFrame)*): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-biz").toString
    tables.foreach { case (n, df) =>
      df.write.mode("overwrite").parquet(s"$dir/$n.parquet")
    }
    dir
  }

  private def ts(day: Int, sec: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-${day}%02d 00:${sec / 60}%02d:${sec % 60}%02d")

  test("q162 debounce drops only sub-60s same-key repeats") {
    // user 1 clicks at 0s, 30s (dropped), 100s (kept); user 2's view at
    // 10s is its own (user, type) stream — kept
    val ev = Seq(
      (1L, ts(1, 0), 1L, "click", 1.0, "{}"),
      (2L, ts(1, 30), 1L, "click", 1.0, "{}"),
      (3L, ts(1, 100), 1L, "click", 1.0, "{}"),
      (4L, ts(1, 10), 2L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val d = dirWith("events" -> ev)
    val got = BehaviorOps.queries("q162_debounce")(spark, d)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(("click", 2L, 1L), ("view", 1L, 0L)))
  }

  test("q164 conversion lag buckets purchases by minutes-since-click") {
    // click at 0s → purchase at 120s (bucket 0); click at 200s →
    // purchase at 1500s (lag 1300s, bucket 2); purchase with no click
    // and one 2h after a click are both excluded
    val ev = Seq(
      (1L, ts(1, 0), 1L, "click", 1.0, "{}"),
      (2L, ts(1, 120), 1L, "purchase", 5.0, "{}"),
      (3L, ts(1, 200), 1L, "click", 1.0, "{}"),
      (4L, ts(1, 1500), 1L, "purchase", 5.0, "{}"),
      (5L, ts(1, 10), 2L, "purchase", 5.0, "{}"),
      (6L, ts(2, 0), 3L, "click", 1.0, "{}"),
      (7L, ts(2, 3599 * 2), 3L, "purchase", 5.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val d = dirWith("events" -> ev)
    val got = BehaviorOps.queries("q164_conversion_lag")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((0L, 1L), (2L, 1L)))
  }

  test("q165 rfm assigns balanced deterministic quintiles") {
    val r = BusinessOps.queries("q165_rfm")(spark, sf).collect()
    assert(r.nonEmpty)
    // every score is a quintile, and ntile balance holds (sizes differ
    // by at most one per score column)
    Seq(4, 5, 6).foreach { i =>
      val counts = r.groupBy(_.getInt(i)).map { case (k, v) =>
        assert(k >= 1 && k <= 5); v.size
      }
      assert(counts.max - counts.min <= 1)
    }
    // the most recent customer must hold r_score 5, the stalest r_score 1
    val byRec = r.sortBy(_.getInt(1))
    assert(byRec.head.getInt(4) == 5 && byRec.last.getInt(4) == 1)
  }

  test("q167 period-over-period matches a hand-computed growth series") {
    val o = Seq(
      (1L, 1L, Timestamp.valueOf("1995-01-15 00:00:00"), 100.0),
      (2L, 1L, Timestamp.valueOf("1995-02-15 00:00:00"), 150.0),
      (3L, 1L, Timestamp.valueOf("1995-03-15 00:00:00"), 120.0))
      .toDF("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    val c = Seq((1L, "c", 0, 0.0, "S")).toDF("c_custkey", "c_name",
      "c_nationkey", "c_acctbal", "c_mktsegment")
    val n = Seq((0, "N", 0)).toDF("n_nationkey", "n_name", "n_regionkey")
    val rg = Seq((0, "R")).toDF("r_regionkey", "r_name")
    val d = dirWith("orders" -> o, "customer" -> c, "nation" -> n,
      "region" -> rg)
    val got = BusinessOps.queries("q167_period_over_period")(spark, d)
      .orderBy("month").collect()
    assert(got.length == 3)
    assert(got(0).isNullAt(3))                      // first month: no MoM
    assert(got(1).getDouble(3) == 0.5)              // 100 → 150
    assert(got(2).getDouble(3) == -0.2)             // 150 → 120
    assert(got.forall(_.isNullAt(4)))               // < 12 months: no YoY
  }

  test("q171 weighted median picks the half-weight value exactly") {
    // flag A: values 10(w1), 20(w1), 30(w10) → total 12, half 6 → 30
    // flag B: values 5(w2), 7(w2) → cw(5)=2, 2*2<4 fails; 7 wins? no:
    //   2*2 >= 4 holds at 5 → min is 5
    val li = Seq(
      (1L, 1L, 1L, 1, 1.0, 10.0, 0.0, 0.0, "A", "F", ts(1, 0)),
      (1L, 1L, 1L, 2, 1.0, 20.0, 0.0, 0.0, "A", "F", ts(1, 0)),
      (1L, 1L, 1L, 3, 10.0, 30.0, 0.0, 0.0, "A", "F", ts(1, 0)),
      (2L, 1L, 1L, 1, 2.0, 5.0, 0.0, 0.0, "B", "F", ts(1, 0)),
      (2L, 1L, 1L, 2, 2.0, 7.0, 0.0, 0.0, "B", "F", ts(1, 0)))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
    val d = dirWith("lineitem" -> li)
    val got = StatsOps.queries("q171_weighted_median")(spark, d)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSet
    assert(got == Set(("A", 30.0), ("B", 5.0)))
  }

  test("q172 gini/hhi match the closed form on a 2-customer market") {
    // nation 0: revenues 1 and 3 → gini = 2(1·1+3·2)/(2·4) − 3/2 = 0.25,
    // hhi = (1+9)/16 = 0.625
    val o = Seq(
      (1L, 1L, Timestamp.valueOf("1995-01-01 00:00:00"), 1.0),
      (2L, 2L, Timestamp.valueOf("1995-01-01 00:00:00"), 3.0))
      .toDF("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    val c = Seq((1L, "a", 0, 0.0, "S"), (2L, "b", 0, 0.0, "S"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal",
        "c_mktsegment")
    val d = dirWith("orders" -> o, "customer" -> c)
    val got = BusinessOps.queries("q172_concentration")(spark, d).collect()
    assert(got.length == 1)
    assert(got.head.getLong(1) == 2 && got.head.getDouble(2) == 0.25 &&
      got.head.getDouble(3) == 0.625)
  }

  test("GlobalRank RFM twin equals the ntile form row for row") {
    def run(name: String) =
      SparkEntry.queries(name)(spark, sf).collect()
        .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2),
          r.getDouble(3), r.getInt(4), r.getInt(5), r.getInt(6)))).toMap
    val exact = run("q165_rfm")
    val scaled = run("rfm_globalrank")
    assert(exact.nonEmpty && scaled == exact)
  }

  test("rfm_globalrank plans no whole-relation single-partition window") {
    val df = SparkEntry.queries("rfm_globalrank")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // every Window in the plan must be partitioned (GlobalRank's only
    // unpartitioned window runs over the partition-count size table)
    assert(!p.contains("Window [ntile"),
      s"scale twin must not fall back to global ntile:\n$p")
  }

  test("q195 entropy: uniform mix is perfectly even, single source is zero") {
    import spark.implicits._
    // en: 8 docs over 4 equal sources; de: 4 docs from one source
    val docs = ((1 to 8).map(i => (i.toLong, "en", s"src${i % 4}")) ++
      (9 to 12).map(i => (i.toLong, "de", "src0")))
      .toDF("doc_id", "lang", "source")
    val dir = java.nio.file.Files.createTempDirectory("graft-ent").toString
    docs.write.parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q195_entropy_mix")(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3), Option(r.get(4)).map(_.asInstanceOf[Double]))))
      .toMap
    def micros(x: Double) = math.round(math.log(x) * 1e6)
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val hEn = math.log(8) - 8.0 * micros(2.0) / 8 / 1e6
    assert(got("en") == ((4L, 8L, r6(hEn), Some(r6(hEn / math.log(4))))))
    assert(got("en")._4.contains(1.0), "uniform mix must score evenness 1")
    val hDe = math.log(4) - 4.0 * micros(4.0) / 4 / 1e6
    assert(got("de") == ((1L, 4L, r6(hDe), None)))
    assert(got("de")._3 == 0.0, "one source carries zero entropy")
  }

  test("q177 benford observes a crafted digit distribution exactly") {
    // 4 orders with leading digit 1, 2 with digit 5
    val o = Seq(100.0, 150.0, 1200.0, 19.5, 500.0, 55.0).zipWithIndex
      .map { case (p, i) =>
        (i.toLong, 1L, Timestamp.valueOf("1995-01-01 00:00:00"), p)
      }
      .toDF("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    val d = dirWith("orders" -> o)
    val got = graft.queries.WarehouseOps.queries("q177_benford")(spark, d)
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    assert(got.keySet == Set(1, 5))
    assert(got(1) == ((4L, BigDecimal(4.0 / 6)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)))
    assert(got(5) == ((2L, BigDecimal(2.0 / 6)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)))
  }

  test("q178 fk audit counts planted orphans and passes clean edges") {
    val got = graft.queries.WarehouseOps.queries("q178_fk_orphans")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.size == 7)
    // driver data is referentially clean on the dimension edges
    assert(got("customer.nationkey") == 0L)
    assert(got("nation.regionkey") == 0L)
    // planted orphan: a lineitem pointing at a missing order
    val li = Seq((999999L, 1L, 1L)).toDF("l_orderkey", "l_partkey",
      "l_suppkey")
    val o = Seq((1L, 1L)).toDF("o_orderkey", "o_custkey")
    val keep = Seq("part" -> Seq((1L, "p")).toDF("p_partkey", "p_name"),
      "supplier" -> Seq((1L, "s", 0)).toDF("s_suppkey", "s_name",
        "s_nationkey"),
      "customer" -> Seq((1L, "c", 0)).toDF("c_custkey", "c_name",
        "c_nationkey"),
      "nation" -> Seq((0, "n", 0)).toDF("n_nationkey", "n_name",
        "n_regionkey"),
      "region" -> Seq((0, "r")).toDF("r_regionkey", "r_name"))
    val d = dirWith(Seq("lineitem" -> li, "orders" -> o) ++ keep: _*)
    val planted = graft.queries.WarehouseOps.queries("q178_fk_orphans")(
      spark, d).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(planted("lineitem.orderkey") == 1L)
    assert(planted("lineitem.partkey") == 0L)
  }

  test("q180 weighted reservoir reproduces the Efraimidis-Spirakis pick") {
    // replicate key = u^(1/w) with u from the doc's md5 exactly
    val docs = (1L to 8L).map(i =>
      (i, ("tok " * i.toInt).trim, "en", "s", 4 * i))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val d = dirWith("documents" -> docs)
    val got = graft.queries.CurationOps.queries("q180_weighted_reservoir")(
      spark, d).collect().map(_.getLong(1)).toSet
    def key(id: Long, w: Int): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      math.pow(java.lang.Long.parseLong(hex, 16).toDouble / (1L << 60), 1.0 / w)
    }
    val want = (1L to 8L).map(i => i -> key(i, i.toInt))
      .sortBy { case (id, k) => (-k, id) }.take(3).map(_._1).toSet
    assert(got == want)
  }

  test("q181 feature matrix matches a hand-computed user row") {
    val ev = Seq(
      (1L, ts(1, 0), 1L, "click", 2.0, "{}"),
      (2L, ts(1, 30), 1L, "view", 4.0, "{}"),
      (3L, ts(3, 0), 1L, "purchase", 6.0, "{}"),
      (4L, ts(5, 0), 2L, "error", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val d = dirWith("events" -> ev)
    val r = graft.queries.TrainingOps.queries("q181_feature_matrix")(
      spark, d).collect().map(x => x.getLong(0) -> x).toMap
    val u1 = r(1L)
    assert(u1.getLong(1) == 3 && u1.getLong(2) == 2)   // events, days
    assert(u1.getDouble(3) == 4.0)                     // mean value
    assert(u1.getInt(4) == 2)                          // recency vs day 5
    assert(u1.getLong(5) == 1 && u1.getLong(6) == 1 && u1.getLong(7) == 1)
    assert(r(2L).getInt(4) == 0 && r(2L).getLong(8) == 1)
  }

  test("q182 negatives are unpurchased, capped, and deterministic") {
    val q = graft.queries.RecommenderOps.queries("q182_negative_sample")
    val a = q(spark, sf).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    val b = q(spark, sf).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    assert(a.toSet == b.toSet && a.nonEmpty)
    val perCust = a.groupBy(_._1).values.map(_.size)
    assert(perCust.max <= 5)
    // no sampled pair may exist in the purchase relation
    val bought = Tables(spark, sf, "lineitem")
      .join(Tables(spark, sf, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey"), col("l_partkey")).distinct()
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    a.foreach { case (c, p, _) => assert(!bought((c, p))) }
  }

  test("q183 variant extraction types the JSON path exactly") {
    val ev = Seq(
      (1L, ts(1, 0), 1L, "click", 1.0, """{"k": 7}"""),
      (2L, ts(1, 1), 1L, "click", 1.0, """{"k": 17}"""),
      (3L, ts(1, 2), 1L, "view", 1.0, """{"k": 3}"""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val d = dirWith("events" -> ev)
    val got = graft.queries.EventQueries.queries("q183_variant_extract")(
      spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == Set(("click", 7L, 2L, 24L), ("view", 3L, 1L, 3L)))
  }

  test("q184 flesch matches the integer-exact hand computation") {
    // "one two three. four five!" → words 5, sentences 2, syllables:
    // o|e, o, ee, ou, i|e → 7 vowel groups
    val docs = Seq((1L, "one two three. four five!", "en", "s", 25L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val d = dirWith("documents" -> docs)
    val r = graft.queries.TextAnalysis.queries("q184_readability")(
      spark, d).collect().head
    assert(r.getLong(1) == 5 && r.getLong(2) == 2 && r.getLong(3) == 7)
    val expect = BigDecimal(
      (206835L * 2 * 5 - 1015L * 5 * 5 - 84600L * 7 * 2).toDouble
        / (1000.0 * 2 * 5))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getDouble(4) == expect)
  }

  test("q185 zipf fit recovers the slope of an exact power law") {
    // counts 8,4,2,1 at ranks 1..4: ln n = ln 8 - (ln 2 / ?) ... compute
    // the OLS closed form directly and compare
    val words = Seq.fill(8)("aa") ++ Seq.fill(4)("bb") ++
      Seq.fill(2)("cc") ++ Seq.fill(1)("dd")
    val docs = Seq((1L, words.mkString(" "), "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val d = dirWith("documents" -> docs)
    val r = graft.queries.TextAnalysis.queries("q185_zipf_fit")(
      spark, d).collect().head
    assert(r.getLong(0) == 4)
    val xs = (1 to 4).map(i => math.log(i.toDouble))
    val ys = Seq(8, 4, 2, 1).map(n => math.log(n.toDouble))
    val k = 4.0
    val sx = xs.sum; val sy = ys.sum
    val sxx = xs.map(x => x * x).sum
    val sxy = xs.zip(ys).map { case (x, y) => x * y }.sum
    val slope = (sxy - sx * sy / k) / (sxx - sx * sx / k)
    assert(math.abs(r.getDouble(1) - slope) < 1e-5)
    assert(r.getDouble(1) < -0.8) // steeper than -0.8: power-law-ish
  }

  test("q175 overlap score grades contamination fractionally") {
    // probe doc 0 (id % 97 == 0) holds "a b c d"; doc 1 repeats it
    // exactly (overlap 1.0); doc 2 shares only the "a b c" shingle of
    // its three (overlap 1/3); doc 3 shares none
    val docs = Seq(
      (0L, "a b c d", "en", "s", 7L),
      (1L, "a b c d", "en", "s", 7L),
      (2L, "a b c x y z", "en", "s", 11L),
      (3L, "p q r s t", "en", "s", 9L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val d = dirWith("documents" -> docs)
    try {
      val got = CurationOps.queries("q175_overlap_score")(spark, d)
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
          r.getDouble(3))).toMap
      assert(got(1L) == ((2L, 2L, 1.0)))
      assert(got(2L)._1 == 4L && got(2L)._2 == 1L)
      assert(got(3L)._2 == 0L && got(3L)._3 == 0.0)
    } finally graft.queries.ShingleCache.cache.evict(spark, d)
  }

  test("conc_globalrank equals q172 row-for-row and a hand-computed Gini") {
    // grouped-global-rank twin == window form on the driver tables
    def canon(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue,
        r.getDouble(2), r.getDouble(3))).toSet
    val a = canon(BusinessOps.queries("q172_concentration")(spark, sf)
      .collect())
    val b = canon(BusinessOps.queries("conc_globalrank")(spark, sf)
      .collect())
    assert(a == b)
    // hand case: nation 0 equal spends -> gini 0, hhi 1/n;
    // nation 1 one-customer-takes-(almost)-all -> gini near (n-1)/n
    val orders = (
      (1L to 4L).map(c => (c * 10, c, "O", 100.0)) ++
      Seq((100L, 10L, "O", 0.0001), (101L, 11L, "O", 0.0001),
        (102L, 12L, "O", 9999.0)))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      .withColumn("o_orderdate",
        lit(Timestamp.valueOf("2024-01-01 00:00:00")))
      .withColumn("o_orderpriority", lit("1-URGENT"))
    val customer = ((1L to 4L).map(c => (c, 0L)) ++
      Seq((10L, 1L), (11L, 1L), (12L, 1L)))
      .toDF("c_custkey", "c_nationkey")
    val d = dirWith("orders" -> orders, "customer" -> customer)
    val got = BusinessOps.queries("conc_globalrank")(spark, d).collect()
      .map(r => r.getAs[Number](0).longValue ->
        ((r.getAs[Number](1).longValue, r.getDouble(2),
          r.getDouble(3)))).toMap
    assert(got(0L)._1 == 4L && got(0L)._2 == 0.0 && got(0L)._3 == 0.25)
    // gini = 2*(1*e + 2*e + 3*S)/(3*(2e+S)) - 4/3 with e << S -> ~2/3
    assert(math.abs(got(1L)._2 - 2.0 / 3) < 1e-4)
    assert(got(1L)._3 > 0.99) // HHI ~ 1: one customer holds the market
  }
}
