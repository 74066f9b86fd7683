package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.plans.ApproxDistinctRewrite

class ApproxRewriteSpec extends SparkSpec {

  private def events: DataFrame = Tables(spark, sf, "events")

  private def withRule[T](rsd: String)(body: => T): T = {
    spark.conf.set(ApproxDistinctRewrite.RsdKey, rsd)
    try body
    finally spark.conf.unset(ApproxDistinctRewrite.RsdKey)
  }

  private def optimizedPlan(df: DataFrame): String =
    df.queryExecution.optimizedPlan.toString

  test("count(distinct) flips to HLL++ with the estimate inside rsd bounds") {
    val q = events.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("nd"))
    val exact = q.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    withRule("0.02") {
      val approx = events.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("nd"))
      assert(optimizedPlan(approx).contains("approx_count_distinct"))
      val got = approx.collect().map(r => r.getString(0) -> r.getLong(1))
      got.foreach { case (et, n) =>
        // HLL++ rsd 0.02 -> 5 sigma is a generous but non-vacuous bound
        assert(math.abs(n - exact(et)).toDouble <= exact(et) * 0.1,
          s"$et: approx $n vs exact ${exact(et)}")
      }
    }
  }

  test("plain count is left exact; multi-column distinct flips via tuple hash") {
    val multiExact = events.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id"), col("value")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    withRule("0.02") {
      val plain = events.groupBy(col("event_type"))
        .agg(count(col("user_id")).as("n"))
      assert(!optimizedPlan(plain).contains("approx_count_distinct"))
      val multi = events.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id"), col("value")).as("n"))
      val plan = optimizedPlan(multi)
      assert(plan.contains("approx_count_distinct")
        && plan.contains("xxhash64"))
      multi.collect().foreach { r =>
        val (et, n) = (r.getString(0), r.getLong(1))
        assert(math.abs(n - multiExact(et)).toDouble <= multiExact(et) * 0.1,
          s"$et: approx $n vs exact ${multiExact(et)}")
      }
      // and the rewritten-adjacent query still computes plain counts right
      val n = events.agg(count(lit(1))).collect().head.getLong(0)
      assert(n === events.count())
    }
  }

  test("multi-column rewrite keeps COUNT's null-tuple semantics") {
    import spark.implicits._
    val df = Seq(
      (Some("a"), Some(1)), (Some("a"), Some(1)), (Some("b"), Some(2)),
      (None: Option[String], Some(3)), (Some("c"), None: Option[Int]),
      (None: Option[String], None: Option[Int]))
      .toDF("x", "y")
    val exact = df.agg(countDistinct(col("x"), col("y"))).head().getLong(0)
    assert(exact === 2L) // rows with ANY null column are skipped
    withRule("0.02") {
      val got = df.agg(countDistinct(col("x"), col("y"))).head().getLong(0)
      // 2 distinct tuples: HLL++ is exact at this cardinality, so the
      // null guard is pinned exactly — an unguarded hash would count
      // (null,3) and (c,null) and return 4
      assert(got === exact)
    }
  }

  test("inert without the conf: plan keeps the exact distinct count") {
    val q = events.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("nd"))
    assert(!optimizedPlan(q).contains("approx_count_distinct"))
  }

  test("FILTER clauses survive the rewrite") {
    // the injected rule runs in the operator-optimization batch, before
    // Spark's RewriteDistinctAggregates expands a FILTERed distinct
    def q = spark.sql(
      s"""SELECT count(DISTINCT user_id)
         |  FILTER (WHERE event_type = 'view') AS nd
         |FROM parquet.`$sf/events.parquet`""".stripMargin)
    val exact = q.collect().head.getLong(0)
    withRule("0.02") {
      val approx = q
      val hll = approx.queryExecution.optimizedPlan
        .flatMap(_.expressions.flatMap(_.collect {
          case ae: org.apache.spark.sql.catalyst.expressions.aggregate
            .AggregateExpression if ae.aggregateFunction.isInstanceOf[
              org.apache.spark.sql.catalyst.expressions.aggregate
                .HyperLogLogPlusPlus] => ae
        }))
      assert(hll.nonEmpty, "distinct count not rewritten to HLL++")
      assert(hll.forall(_.filter.isDefined), "FILTER clause dropped")
      val got = approx.collect().head.getLong(0)
      assert(math.abs(got - exact).toDouble <= exact * 0.1,
        s"approx $got vs exact $exact")
    }
  }

  test("rejects non-numeric conf values without firing") {
    withRule("not-a-number") {
      val q = events.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("nd"))
      assert(!optimizedPlan(q).contains("approx_count_distinct"))
    }
  }
}
