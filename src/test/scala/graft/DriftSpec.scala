package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.queries.DriftOps

class DriftSpec extends SparkSpec {
  import spark.implicits._

  /** Events with `value` drawn from `ref` on days 1-15 and `cur` on
    * days 16-30 (values cycled deterministically over the day grid).
    */
  private def twoPeriod(et: String, ref: Seq[Double],
      cur: Seq[Double]): DataFrame = {
    val rows =
      ref.zipWithIndex.map { case (v, i) =>
        (i.toLong, Timestamp.valueOf(f"2024-01-${1 + i % 15}%02d 08:00:00"),
          i.toLong, et, v, "{}")
      } ++
      cur.zipWithIndex.map { case (v, i) =>
        (1000L + i, Timestamp.valueOf(
          f"2024-01-${16 + i % 15}%02d 08:00:00"), i.toLong, et, v, "{}")
      }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
  }

  test("identical distributions give (near-)zero PSI") {
    val vals = (1 to 200).map(_.toDouble)
    val r = DriftOps.psiDrift(twoPeriod("same", vals, vals)).collect().head
    assert(r.getAs[Long]("n_ref") === 200L)
    assert(r.getAs[Long]("n_cur") === 200L)
    // smoothing keeps it from exact zero; equal bucket counts keep it tiny
    assert(math.abs(r.getAs[Double]("psi")) < 1e-6)
  }

  test("a location shift drives PSI far above the 0.2 alert level") {
    val ref = (1 to 200).map(_.toDouble)
    val shifted = ref.map(_ + 300.0) // mass leaves every reference decile
    val r = DriftOps.psiDrift(twoPeriod("shift", ref, shifted))
      .collect().head
    assert(r.getAs[Double]("psi") > 0.2)
  }

  test("psi ranks a strong shift above a mild one") {
    val ref = (1 to 200).map(_.toDouble)
    val mild = DriftOps.psiDrift(
      twoPeriod("m", ref, ref.map(_ + 10.0))).collect().head
      .getAs[Double]("psi")
    val strong = DriftOps.psiDrift(
      twoPeriod("s", ref, ref.map(_ + 150.0))).collect().head
      .getAs[Double]("psi")
    assert(strong > mild)
    assert(mild >= 0.0 - 1e-9)
  }

  test("empty current buckets contribute smoothed (finite) terms") {
    val ref = (1 to 100).map(_.toDouble)
    val cur = Seq.fill(50)(1000.0) // all current mass above every boundary
    val r = DriftOps.psiDrift(twoPeriod("e", ref, cur)).collect().head
    val psi = r.getAs[Double]("psi")
    assert(!psi.isNaN && !psi.isInfinite)
    assert(psi > 1.0)
  }

  test("EMD sees the displacement distance PSI is blind to") {
    // ref: uniform 1..200 → deciles of 20 values each. Both currents
    // empty decile 0 and double exactly one other decile, so their
    // per-bucket (cr, cc) MULTISETS are identical — PSI, a per-bucket
    // divergence, scores them the same. EMD charges mass by how far it
    // moved: one decile over (near) vs nine deciles over (far).
    val ref = (1 to 200).map(_.toDouble)
    val near = (21 to 200).map(_.toDouble) ++ (21 to 40).map(_.toDouble)
    val far = (21 to 200).map(_.toDouble) ++ (181 to 200).map(_.toDouble)
    def psi(cur: Seq[Double]) = DriftOps.psiDrift(
      twoPeriod("x", ref, cur)).collect().head.getAs[Double]("psi")
    def emd(cur: Seq[Double]) = DriftOps.emdDrift(
      twoPeriod("x", ref, cur)).collect().head.getAs[Double]("emd")
    assert(psi(near) === psi(far), "PSI cannot rank these by design")
    assert(emd(far) > 5 * emd(near),
      s"EMD must charge the nine-decile move: ${emd(far)} vs ${emd(near)}")
    // exact by construction: 10% of mass over 9 of 9 vs 1 of 9 buckets
    assert(emd(far) === 0.1)
    assert(math.abs(emd(near) - 0.011111) < 1e-6)
  }

  test("EMD is zero for identical distributions and bounded by 1") {
    val vals = (1 to 200).map(_.toDouble)
    val same = DriftOps.emdDrift(twoPeriod("same", vals, vals))
      .collect().head
    assert(same.getAs[Double]("emd") === 0.0)
    assert(!same.getAs[Boolean]("drifted"))
    // all current mass beyond the top boundary: a uniform reference
    // displaced entirely to the end travels a MEAN distance of half the
    // grid — EMD exactly 0.5 (deciles i pay (i+1)/10 each, i = 0..8)
    val ext = DriftOps.emdDrift(
      twoPeriod("e", vals, Seq.fill(100)(1000.0))).collect().head
    assert(ext.getAs[Double]("emd") === 0.5)
    assert(ext.getAs[Boolean]("drifted"))
  }

  test("target encoding shrinks small groups toward the global mean") {
    val orders = Seq(
      // nation 0 via cust 1: many orders at 100
      (1L to 40L).map(k => (k, 1L, "O", 100.0)),
      // nation 1 via cust 2: ONE order at 500
      Seq((100L, 2L, "O", 500.0))).flatten
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      .withColumn("o_orderdate", lit(Timestamp.valueOf("2024-01-01 00:00:00")))
      .withColumn("o_orderpriority", lit("1-URGENT"))
    val customer = Seq((1L, 0L), (2L, 1L)).toDF("c_custkey", "c_nationkey")
    val nation = Seq((0L, "BIG"), (1L, "TINY"))
      .toDF("n_nationkey", "n_name")
    val enc = DriftOps.targetEncode(orders, customer, nation).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val mu = (40 * 100.0 + 500.0) / 41
    // big group: n >> m, encoding stays near its raw mean of 100
    assert(math.abs(enc("BIG")._2 - (40 * 100.0 + 20 * mu) / 60) < 1e-6)
    assert(math.abs(enc("BIG")._2 - 100.0) < 4.0)
    // tiny group: n=1 << m=20, encoding pulled almost all the way to mu
    assert(math.abs(enc("TINY")._2 - (500.0 + 20 * mu) / 21) < 1e-6)
    assert(math.abs(enc("TINY")._2 - mu) <
      math.abs(500.0 - mu) / 4)
  }

  test("quantile norm maps every source to the shared rank profile") {
    val docs = Seq(
      // two sources, same size, different scales
      (1L, "a", 10L), (2L, "a", 20L), (3L, "a", 30L),
      (4L, "b", 100L), (5L, "b", 200L), (6L, "b", 300L))
      .map { case (id, s, n) => (id, "t", "en", s, n) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = DriftOps.quantileNorm(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("qnorm")).toMap
    // rank profile = mean across sources: (10+100)/2, (20+200)/2, ...
    assert(out(1L) === 55.0 && out(4L) === 55.0)
    assert(out(2L) === 110.0 && out(5L) === 110.0)
    assert(out(3L) === 165.0 && out(6L) === 165.0)
  }

  test("emd reports maximal drift (1.0) when a type lives in one arm only") {
    // current arm empty → nc = 0 → the raw division is 0/0 = NaN, and
    // Spark's NaN ordering would silently read NaN > 0.1 as drifted
    // while DuckDB disagrees — the guard pins emd to an explicit 1.0
    val vanished = DriftOps.emdDrift(
      twoPeriod("v", (1 to 50).map(_.toDouble), Seq.empty)).collect().head
    assert(vanished.getAs[Double]("emd") === 1.0)
    assert(vanished.getAs[Boolean]("drifted"))
    // reference arm empty → nr = 0: an entirely NEW type, same guard
    val appeared = DriftOps.emdDrift(
      twoPeriod("a", Seq.empty, (1 to 50).map(_.toDouble))).collect().head
    assert(appeared.getAs[Double]("emd") === 1.0)
    assert(appeared.getAs[Boolean]("drifted"))
  }

  test("drift cumulative pass plans no per-type window over the class table") {
    // the round-8 `weak` grade: `sum(cr) OVER (PARTITION BY event_type
    // ORDER BY value)` over the ~corpus-sized class table makes each
    // type ONE sort task at 100 TB. The shared cumulativeByValue must
    // plan the range-partitioned prefix-sum instead — no Window keyed
    // by event_type anywhere (GlobalRank's own windows run over
    // __gr_pid buckets / bounded offset tables).
    val vc = twoPeriod("t", (1 to 100).map(_.toDouble),
        (1 to 100).map(_.toDouble))
      .groupBy(col("event_type"), col("value"))
      .agg(sum(lit(1L)).as("cr"))
    val cum = graft.streaming.DriftMonitor.cumulativeByValue(vc)
    cum.collect()
    val p = cum.queryExecution.executedPlan.toString
    assert(!p.contains("windowspecdefinition(event_type"),
      s"class-table cumulative must not window per type:\n$p")
  }

  test("drift_qnorm_rank twin is bit-identical to q223") {
    val docs = Tables(spark, sf, "documents")
    val exact = DriftOps.quantileNorm(docs).collect().toSet
    val twin = DriftOps.quantileNormRank(docs).collect().toSet
    assert(exact.nonEmpty && twin === exact)
  }

  test("embedding drift: shifted dim flags, same-dist dim quiet, " +
      "constant dim NULL t") {
    // dim 0: constant in both arms → se² = 0 → NULL t (not ±inf)
    // dim 1: arms 10/12 vs 0/1 → |t| ≫ 3 → shifted
    // dim 2: identical distribution both arms → |t| ≈ 0 → quiet
    val emb = (0 until 8).map { i =>
      val armA = i % 2 == 0
      val d1 = if (armA) { if (i < 4) 10.0f else 12.0f }
               else { if (i < 4) 0.0f else 1.0f }
      val d2 = if (i < 4) 2.0f else 4.0f
      (i.toLong, Array(7.5f, d1, d2))
    }.toDF("vec_id", "embedding")
    val out = graft.queries.DriftOps.embeddingDrift(emb).collect()
      .map(r => r.getInt(0) -> r).toMap
    assert(out(0).isNullAt(5) && out(0).isNullAt(6)) // constant dim
    assert(out(1).getBoolean(6)) // planted shift fires
    assert(!out(2).getBoolean(6)) // same distribution stays quiet
    assert(math.abs(out(2).getDouble(5)) < 1.0)
    assert(out.values.forall(r =>
      r.getLong(1) === 4L && r.getLong(2) === 4L))
  }

  test("quantile norm preserves within-source ordering") {
    val out = DriftOps.quantileNorm(Tables(spark, sf, "documents"))
      .collect().map(r => (r.getString(1), r.getLong(2), r.getDouble(3)))
    out.groupBy(_._1).foreach { case (_, rows) =>
      val sorted = rows.sortBy(r => (r._2, r._3))
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._3 <= b._3 + 1e-9)
        case _ =>
      }
    }
  }
}
