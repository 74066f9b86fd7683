package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** PlanAudit's predicates on two small plans: each kind holds on the
  * plan with the property and fails, by name, on the plan without it.
  */
class PlanAuditSpec extends SparkSpec {
  import PlanAudit._
  import spark.implicits._

  private lazy val nation = Tables(spark, sf, "nation")

  /** Customers per nation through a broadcast dimension, then ordered:
    * a filtered scan, a hash and a range exchange.
    */
  private lazy val joined: SparkPlan = finalPlan(Tables(spark, sf, "customer")
    .filter(col("c_acctbal") > 0)
    .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
    .groupBy("n_name").count().orderBy("count"))

  /** A global row number over the nation scan, beside a 1-row broadcast
    * constant: one single-partition exchange.
    */
  private lazy val ranked: SparkPlan = finalPlan(nation
    .crossJoin(broadcast(Seq(25L).toDF("nr")))
    .withColumn("rn", row_number().over(Window.orderBy("n_nationkey"))))

  private def broken(plan: SparkPlan, checks: Check*): Seq[String] =
    failures(plan, checks).map(_._1)

  test("each predicate holds with its property and fails by name without") {
    // (check, a plan that has the property, a plan that lacks it)
    val cases = Seq(
      (MaxExchanges(1), ranked, joined),
      (Has(classOf[BroadcastHashJoinExec]), joined, ranked),
      (Lacks(classOf[WindowExec]), joined, ranked),
      (PushedFilters, joined, ranked),
      (NoGlobalWindowOnData, joined, ranked),
      (Broadcasts("nation"), joined, ranked),
      (Broadcasts("nr"), ranked, joined),
      (JustifiedBnlj("1-row constant"), ranked, joined))
    cases.foreach { case (c, holds, lacks) =>
      assert(broken(holds, c).isEmpty, c.name)
      assert(broken(lacks, c) == Seq(c.name))
    }
    // range and single-partition exchanges count, not only hash ones
    assert(failures(joined, Seq(MaxExchanges(1))).map(_._2)
      == Seq("2 shuffle exchanges"))
    assert(broken(ranked, MaxExchanges(0)) == Seq("exchanges<=0"))
  }

  test("every entry lacks cartesian and BNLJ unless its row justifies one") {
    assert(broken(ranked, checksOf("no_such_entry"): _*)
      == Seq("lacks BroadcastNestedLoopJoinExec"))
    assert(broken(joined, checksOf("no_such_entry"): _*).isEmpty)
    assert(checksOf("q25_ann_topk").collect { case l: Lacks => l.node }
      == Seq(classOf[CartesianProductExec]))
  }

  test("a reused exchange is not counted") {
    val agg = nation.groupBy("n_regionkey").count()
    val plan = finalPlan(agg.union(agg))
    assert(broken(plan, Has(classOf[ReusedExchangeExec]), MaxExchanges(1))
      .isEmpty)
  }
}
