package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

import graft.plans.MvRewrite

class MvRewriteSpec extends SparkSpec {
  import spark.implicits._

  // base fact table: keys (k1, k2), covered measure v, uncovered w
  private lazy val root: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-mvrw").toString
    val base = Seq(
      ("a", "F", 1L, 1.5), ("a", "F", 2L, 2.5), ("a", "O", 3L, 3.5),
      ("b", "F", 4L, 4.5), ("b", "O", 5L, 5.5), ("b", "O", 6L, 6.5))
      .toDF("k1", "k2", "v", "w")
    base.write.mode("overwrite").parquet(s"$dir/base")
    spark.read.parquet(s"$dir/base")
      .groupBy("k1", "k2")
      .agg(count(lit(1)).as("cnt"), sum("v").as("sum_v"),
        min("v").as("min_v"), max("v").as("max_v"))
      .write.mode("overwrite").parquet(s"$dir/mv")
    dir
  }

  private def withRule[T](dir: String = root)(body: => T): T = {
    spark.conf.set(MvRewrite.SourceKey, s"$dir/base")
    spark.conf.set(MvRewrite.TargetKey, s"$dir/mv")
    spark.conf.set(MvRewrite.KeysKey, "k1,k2")
    try body
    finally Seq(MvRewrite.SourceKey, MvRewrite.TargetKey, MvRewrite.KeysKey)
      .foreach(spark.conf.unset)
  }

  private def scans(df: DataFrame, path: String): Boolean =
    df.queryExecution.optimizedPlan.collectFirst {
      case lr: LogicalRelation
          if lr.relation.isInstanceOf[HadoopFsRelation]
          && lr.relation.asInstanceOf[HadoopFsRelation]
            .location.rootPaths.exists(_.toString.contains(path)) => lr
    }.isDefined

  private def fact: DataFrame = spark.read.parquet(s"$root/base")

  private def rollup(df: DataFrame): DataFrame =
    df.groupBy("k1").agg(count(lit(1)).as("n"), sum("v").as("sv"),
      min("v").as("mn"), max("v").as("mx"))

  private def rows(df: DataFrame): Set[(String, Long, Long, Long, Long)] =
    df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4))).toSet

  test("subset-key rollup flips to the MV scan and matches exact") {
    val exact = rows(rollup(fact))
    withRule() {
      val q = rollup(fact)
      assert(scans(q, s"$root/mv"), "expected the MV scan")
      assert(!scans(q, s"$root/base"), "fact scan should be gone")
      assert(rows(q) === exact)
    }
  }

  test("key filters push through to the MV; full-key grouping works") {
    val exact = fact.filter(col("k2") === "F")
      .groupBy("k1", "k2").agg(sum("v").as("sv")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    withRule() {
      val q = fact.filter(col("k2") === "F")
        .groupBy("k1", "k2").agg(sum("v").as("sv"))
      assert(scans(q, s"$root/mv"))
      val got = q.collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      assert(got === exact)
    }
  }

  test("refusals: non-key filter, uncovered measure, distinct, FILTER, avg") {
    withRule() {
      // filter over a measure column — not answerable from the MV
      val f = fact.filter(col("v") > 3).groupBy("k1")
        .agg(sum("v").as("sv"))
      assert(scans(f, s"$root/base") && !scans(f, s"$root/mv"))
      // measure without partial columns in the MV
      val u = fact.groupBy("k1").agg(sum("w").as("sw"))
      assert(scans(u, s"$root/base") && !scans(u, s"$root/mv"))
      // DISTINCT is not derivable from partial aggregates
      val dd = fact.groupBy("k1").agg(countDistinct(col("v")).as("nd"))
      assert(scans(dd, s"$root/base") && !scans(dd, s"$root/mv"))
      // FILTER clause
      fact.createOrReplaceTempView("mv_fact")
      val fc = spark.sql(
        "SELECT k1, sum(v) FILTER (WHERE k2 = 'F') AS sv " +
          "FROM mv_fact GROUP BY k1")
      assert(scans(fc, s"$root/base") && !scans(fc, s"$root/mv"))
      // AVG partials are not in the layout contract
      val av = fact.groupBy("k1").agg(avg("v").as("a"))
      assert(scans(av, s"$root/base") && !scans(av, s"$root/mv"))
    }
  }

  test("global aggregate (empty GROUP BY) keeps the fact scan") {
    // COUNT(*) over an empty fact is 0; SUM(cnt) over the empty MV would
    // be NULL — the rewrite must refuse so Count's contract holds
    withRule() {
      val g = fact.agg(count(lit(1)).as("n"), sum("v").as("sv"))
      assert(scans(g, s"$root/base") && !scans(g, s"$root/mv"))
      assert(g.collect().head.getLong(0) === 6L)
    }
    // and the zero-row contract itself, on an empty base + empty MV
    val dir = java.nio.file.Files.createTempDirectory("graft-mvrw-e").toString
    val empty = Seq.empty[(String, String, Long, Double)]
      .toDF("k1", "k2", "v", "w")
    empty.write.mode("overwrite").parquet(s"$dir/base")
    empty.groupBy("k1", "k2")
      .agg(count(lit(1)).as("cnt"), sum("v").as("sum_v"))
      .write.mode("overwrite").parquet(s"$dir/mv")
    withRule(dir) {
      val n = spark.read.parquet(s"$dir/base")
        .agg(count(lit(1)).as("n")).collect().head
      assert(!n.isNullAt(0) && n.getLong(0) === 0L,
        "COUNT(*) over an empty table must be 0, never NULL")
    }
  }

  test("misconfigured key set degrades to no-rewrite, not an optimizer throw") {
    // MV grouped by k1 ONLY, but the conf (mis)declares keys = k1,k2:
    // k2 passes the key check yet is absent from the MV parquet — the
    // old mvAttr(name) lookup threw NoSuchElementException inside the
    // optimizer for both the grouping and the filter form
    val dir = java.nio.file.Files.createTempDirectory("graft-mvrw-k").toString
    val base = Seq(("a", "F", 1L), ("a", "O", 2L), ("b", "F", 4L))
      .toDF("k1", "k2", "v")
    base.write.mode("overwrite").parquet(s"$dir/base")
    spark.read.parquet(s"$dir/base").groupBy("k1")
      .agg(count(lit(1)).as("cnt"), sum("v").as("sum_v"))
      .write.mode("overwrite").parquet(s"$dir/mv")
    withRule(dir) {
      val f2 = spark.read.parquet(s"$dir/base")
      // grouping on the phantom key: decline, stay on the fact scan
      val qg = f2.groupBy("k1", "k2").agg(sum("v").as("sv"))
      assert(scans(qg, s"$dir/base") && !scans(qg, s"$dir/mv"))
      assert(qg.collect().length === 3)
      // filtering on the phantom key: decline likewise
      val qf = f2.filter(col("k2") === "F").groupBy("k1")
        .agg(sum("v").as("sv"))
      assert(scans(qf, s"$dir/base") && !scans(qf, s"$dir/mv"))
      assert(qf.collect().map(r =>
        (r.getString(0), r.getLong(1))).toSet === Set(("a", 1L), ("b", 4L)))
      // the well-configured key still rewrites on the same session
      val ok = f2.groupBy("k1").agg(sum("v").as("sv"))
      assert(scans(ok, s"$dir/mv"), "present key must still rewrite")
    }
  }

  test("inert without the confs; result unchanged by registration") {
    val q = rollup(fact)
    assert(scans(q, s"$root/base") && !scans(q, s"$root/mv"))
  }

  test("the shipped layout_mv_rewrite entry rewrites and matches exact") {
    val got = SparkEntry.queries("layout_mv_rewrite")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toSet
    val exact = Tables(spark, sf, "lineitem")
      .filter(col("l_linestatus") === "F")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("qty"),
        max(col("l_quantity")).as("max_qty"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toSet
    assert(got === exact)
  }
}
