package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one JVM-wide session; suites run
  * in one forked JVM under `Test / fork := true`).
  */
object SparkSpec {
  lazy val spark: SparkSession = GraftSession(4)
  val sf: String = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  val sf: String = SparkSpec.sf

  /** Jobs, stages and shuffle bytes written of the Spark jobs `body` runs
    * on this thread (a listener on a job group).
    */
  protected def jobsOf(body: => Unit): (Int, Int, Long) = {
    import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
    import org.apache.spark.scheduler._
    val group = "graft-spec-jobs"
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val jobs = new AtomicInteger
    val shuffled = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties)
            .exists(_.getProperty("spark.jobGroup.id") == group)) {
          jobs.incrementAndGet(); j.stageIds.foreach(stages.add(_))
        }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        if (stages.contains(s.stageInfo.stageId)) shuffled.addAndGet(
          s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, getClass.getSimpleName)
      try body finally spark.sparkContext.clearJobGroup()
      org.apache.spark.ListenerDrain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    (jobs.get, stages.size, shuffled.get)
  }
}

