package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** One timed interval at a layer boundary. `parent` is the id of the
  * enclosing span on the same thread, or -1.
  */
final case class Span(id: Int, name: String, op: Int, parent: Int,
    startNs: Long, endNs: Long)

/** In-memory span recorder; written out once when the run ends. */
final class Trace(t0: Long) {
  val spans = mutable.ArrayBuffer[Span]()
  @volatile var on = false
  private val stack = new ThreadLocal[List[Int]] { override def initialValue = Nil }
  private var nextId = 0

  def span[T](name: String, op: Int)(body: => T): T =
    if (!on) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = stack.get.headOption.getOrElse(-1)
      stack.set(id :: stack.get)
      val s = System.nanoTime()
      try body
      finally {
        val e = System.nanoTime()
        stack.set(stack.get.tail)
        synchronized { spans += Span(id, name, op, parent, s - t0, e - t0) }
      }
    }
}

/** Per-stage task totals. */
final class StageAgg {
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var maxTaskMs = 0L
  var shuffleWriteB = 0L
  var spillB = 0L
  var inputB = 0L
}

/** A job as seen at start: owning op (job group), phase (job
  * description) and call site of its final stage.
  */
final case class JobRec(id: Int, op: Int, phase: String, site: String,
    stages: Seq[Int])

/** Job, stage and task counters from Spark's public listener bus. */
final class JobProbe extends SparkListener {
  val jobs = mutable.ArrayBuffer[JobRec]()
  val stageOwner = mutable.HashMap[Int, Int]() // stage -> first job
  val stages = mutable.HashMap[Int, StageAgg]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val op = prop("spark.jobGroup.id")
      .filter(_.startsWith("op-")).map(_.drop(3).toInt).getOrElse(-1)
    val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
    jobs += JobRec(e.jobId, op, prop("spark.job.description")
      .getOrElse(""), site, e.stageIds)
    e.stageIds.foreach(s => stageOwner.getOrElseUpdate(s, e.jobId))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
    a.tasks += 1
    a.maxTaskMs = a.maxTaskMs max e.taskInfo.duration
    Option(e.taskMetrics).foreach { m =>
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      a.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
      a.inputB += m.inputMetrics.bytesRead
    }
  }
}

/** Micro-batch progress of every streaming query in the session. */
final class StreamProbe extends StreamingQueryListener {
  val batchMs = mutable.ArrayBuffer[Long]()
  var addBatchMs = 0L
  var commitMs = 0L
  val stateRows = mutable.HashMap[java.util.UUID, Long]()
  val stateBytes = mutable.HashMap[java.util.UUID, Long]()

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    batchMs += d("triggerExecution")
    addBatchMs += d("addBatch")
    commitMs += d("walCommit") + d("commitOffsets")
    // state size as of the query's latest batch
    stateRows(p.runId) = p.stateOperators.map(_.numRowsTotal).sum
    stateBytes(p.runId) = p.stateOperators.map(_.memoryUsedBytes).sum
  }
}
