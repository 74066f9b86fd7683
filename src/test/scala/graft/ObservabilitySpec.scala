package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.Observability
import graft.streaming.EventStream

class ObservabilitySpec extends SparkSpec {
  import spark.implicits._

  test("observe-based accounting reports rows and nulls with no extra scan") {
    Observability.register(spark)
    val df = Seq((1L, "a"), (2L, null: String), (3L, "c"), (4L, null: String))
      .toDF("id", "v")
    val observed = Observability.withRowAccounting(df, "acct", Seq("v"))
      .filter(col("id") =!= 99L) // metrics observe the PRE-filter rows
    // the audit rides the action itself — one job, one scan
    assert(observed.count() == 4)
    val m = Observability.awaitMetrics(spark, "acct").get
    assert(m.getAs[Long]("rows") == 4L)
    assert(m.getAs[Long]("nulls_v") == 2L)
  }

  test("observed metrics are kept per session") {
    val other = spark.newSession()
    def observe(s: org.apache.spark.sql.SparkSession, n: Int): Long = {
      Observability.register(s)
      Observability.withRowAccounting(s.range(n).toDF(), "per_session", Nil)
        .count()
    }
    def rows(s: org.apache.spark.sql.SparkSession): Long =
      Observability.awaitMetrics(s, "per_session").get.getAs[Long]("rows")
    assert(observe(spark, 3) == 3)
    assert(rows(spark) == 3L)
    assert(observe(other, 5) == 5)
    assert(rows(other) == 5L, "the other session reads its own row")
    assert(rows(spark) == 3L, "a second session must not overwrite the first")
  }

  test("stream health reports per-batch rows and bounded state") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Timestamp, String, Double)]
    val counts = EventStream.windowedCounts(
      stream.toDF().toDF("ts", "event_type", "value"))
    val q = counts.writeStream.format("memory").queryName("health_stream")
      .outputMode("update").start()
    try {
      def t(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
      stream.addData((t(0), "click", 1.0), (t(1), "view", 2.0))
      q.processAllAvailable()
      stream.addData((t(11), "click", 3.0))
      q.processAllAvailable()
      val health = Observability.streamHealth(q)
      assert(health.nonEmpty)
      assert(health.map(_.inputRows).sum == 3L)
      val last = health.last
      assert(last.stateRows > 0, "windowed agg must carry state")
      assert(last.stateBytes > 0,
        "state-store memory must be reported — the metric a stateful " +
          "op's 100x risk is read from")
      assert(health.exists(_.watermark.nonEmpty),
        "watermark must advance once data flows")
    } finally q.stop()
  }
}
