package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.plans.RangeJoinRewrite

class RangeJoinRuleSpec extends SparkSpec {
  import spark.implicits._

  private def points: DataFrame =
    spark.range(0, 1000).select(col("id").as("pid"),
      (col("id") % 500).cast("double").as("x"))

  private def ranges: DataFrame =
    spark.range(0, 50).select(col("id").as("rid"),
      (col("id") * 10 - 3).cast("double").as("lo"),
      (col("id") * 10 + 4).cast("double").as("hi"))

  private def withRule[T](width: String)(body: => T): T = {
    spark.conf.set(RangeJoinRewrite.WidthKey, width)
    try body
    finally spark.conf.unset(RangeJoinRewrite.WidthKey)
  }

  test("range join rewrites BNLJ to an equi join with identical results") {
    val plain = points.join(ranges,
      col("x") >= col("lo") && col("x") <= col("hi"))
      .select("pid", "rid").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(plain.nonEmpty)
    withRule("10") {
      val joined = points.join(ranges,
        col("x") >= col("lo") && col("x") <= col("hi"))
      val got = joined.select("pid", "rid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == plain)
      val phys = joined.queryExecution.executedPlan.toString
      assert(!phys.contains("BroadcastNestedLoop"),
        s"rewrite did not remove the nested loop:\n$phys")
      assert(phys.contains("SortMergeJoin") ||
        phys.contains("ShuffledHashJoin") ||
        phys.contains("BroadcastHashJoin"))
    }
  }

  test("strict bounds and reversed operand order also rewrite exactly") {
    val plain = points.join(ranges,
      col("lo") < col("x") && col("hi") > col("x"))
      .select("pid", "rid").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    withRule("7") {
      val joined = points.join(ranges,
        col("lo") < col("x") && col("hi") > col("x"))
      assert(joined.select("pid", "rid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet == plain)
      assert(!joined.queryExecution.executedPlan.toString
        .contains("BroadcastNestedLoop"))
    }
  }

  test("degenerate and boundary intervals behave like the plain join") {
    // one inverted interval (lo > hi, matches nothing), one point-width
    // interval, one interval exactly on a bucket boundary
    val r2 = Seq((1L, 5.0, 5.0), (2L, 30.0, 20.0), (3L, 9.9, 10.1))
      .toDF("rid", "lo", "hi")
    val plain = points.join(r2,
      col("x") >= col("lo") && col("x") <= col("hi"))
      .select("pid", "rid").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    withRule("10") {
      val got = points.join(r2,
        col("x") >= col("lo") && col("x") <= col("hi"))
        .select("pid", "rid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == plain)
    }
  }

  test("rule stays inert without the conf and on equi joins") {
    // no conf: the pure range join must still be a nested loop
    val j1 = points.join(ranges,
      col("x") >= col("lo") && col("x") <= col("hi"))
    assert(j1.queryExecution.executedPlan.toString
      .contains("BroadcastNestedLoop"))
    // equi conjunct present: rule must not touch the join (the equality
    // already keys the shuffle)
    withRule("10") {
      val j2 = points.join(ranges, col("pid") === col("rid") &&
        col("x") >= col("lo") && col("x") <= col("hi"))
      val plan = j2.queryExecution.optimizedPlan.toString
      assert(!plan.contains("__graft_rb"))
    }
  }

  test("GraftExtensions injects the rewrite as an optimizer rule") {
    // the shared session is GraftSession's, which loads the extensions:
    // setting the width conf alone arms the rewrite
    withRule("10") {
      val j = points.join(ranges,
        col("x") >= col("lo") && col("x") <= col("hi"))
      assert(j.queryExecution.optimizedPlan.toString.contains("__graft_rb"))
    }
  }
}
