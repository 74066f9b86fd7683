package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.BenchAccess
import org.apache.spark.sql.SparkSession

import graft.{SparkEntry, Tables}

/** Benchmark client: drives the engine through its public functions from
  * one thread in a closed loop and writes a raw record of the run (ops,
  * setups, spans, listener counts) as JSON for `run.py` to reduce.
  *
  * Arguments are `key=value` pairs; see `run.py` for the full set.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val conf = args.map { a =>
      val i = a.indexOf('='); a.take(i) -> a.drop(i + 1)
    }.toMap
    conf("mode") match {
      case "run" => new Run(conf, jvmStartMs).run()
      case "pin" => new Run(conf, jvmStartMs).pin()
      case "selftest" => SelfTest.run()
    }
  }
}

/** One op's outcome. Times are seconds; `err` is empty when the output
  * checked out.
  */
final case class OpRec(id: Int, name: String, pass: Int, traced: Boolean,
    latency: Double, err: String, rows: Long, sum: String)

final case class Expected(kind: String, rows: Long, sum: String)

final class Run(conf: Map[String, String], jvmStartMs: Long) {
  private val t0 = System.nanoTime()
  private val tables = conf("tables")
  private val work = Paths.get(conf("work"))
  private val cores = conf("cores").toInt
  private val trace = new Trace(t0)
  private val jobs = new JobProbe
  private val streams = new StreamProbe
  private val ops = mutable.ArrayBuffer[OpRec]()
  private val setups = mutable.ArrayBuffer[(Double, Double, Double)]()
  private val passWall = mutable.ArrayBuffer[(Int, Boolean, Double)]()
  private val extras = mutable.LinkedHashMap[String, Double]()
  private var nextOp = 0
  private var spark: SparkSession = _

  private def now = System.nanoTime()
  private def secs(from: Long) = (now - from) / 1e9
  private def lines(key: String): Seq[String] =
    Files.readAllLines(Paths.get(conf(key)), UTF_8).asScala.toSeq
      .map(_.trim).filter(_.nonEmpty)

  // ---- session lifecycle -------------------------------------------------

  /** Build a session and resolve every table: the set-up a user waits for.
    * Records (set-up s, resolve-miss s, resolve-hit s); the set-up time
    * counts from process start for the first session of the JVM and from
    * the start of session creation for the fresh sessions of later
    * `cold_eager` passes.
    */
  private def setup(fromJvmStart: Boolean): Unit = {
    val s0 = now
    spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config(Tables.requiredConf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val m0 = now
    Tables.names.foreach(t => Tables(spark, tables, t))
    val m1 = now
    Tables.names.foreach(t => Tables(spark, tables, t))
    val h1 = now
    val total =
      if (fromJvmStart) (System.currentTimeMillis() - jvmStartMs) / 1e3
      else (m1 - s0) / 1e9
    setups += ((total, (m1 - m0) / 1e9, (h1 - m1) / 1e9))
  }

  private def stop(): Unit = {
    try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    catch { case _: Throwable => () }
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def traced(on: Boolean): Unit = {
    val sc = spark.sparkContext
    if (on && !trace.on) {
      sc.addSparkListener(jobs); spark.streams.addListener(streams)
    } else if (!on && trace.on) {
      BenchAccess.drain(sc)
      sc.removeSparkListener(jobs); spark.streams.removeListener(streams)
    }
    trace.on = on
  }

  // ---- ops ---------------------------------------------------------------

  private def timedOp(name: String, pass: Int)(body: Int => (String, Long, String)): Unit = {
    val id = { nextOp += 1; nextOp }
    val sc = spark.sparkContext
    sc.setJobGroup(s"op-$id", name)
    val s = now
    val (err, rows, sum) =
      try trace.span("op", id)(body(id))
      catch {
        case e: Throwable =>
          val msg = Option(e.getMessage).getOrElse("").takeWhile(_ != '\n').take(200)
          (s"${e.getClass.getSimpleName}: $msg", -1L, "")
      }
      finally sc.clearJobGroup()
    val lat = secs(s)
    if (err.nonEmpty) System.err.println(s"[graftbench] FAILED $name: $err")
    ops += OpRec(id, name, pass, trace.on, lat, err, rows, sum)
  }

  private def phase(p: String): Unit = spark.sparkContext.setJobDescription(p)

  /** An entry op: build the DataFrame, force the physical plan, consume it
    * into a checksum and compare with the pinned value (every entry needs
    * one, except in `pin` mode, which passes no pins).
    */
  private def entryOp(name: String, pass: Int, exp: Map[String, Expected]): Unit =
    timedOp(name, pass) { id =>
      phase("build")
      val df = trace.span("queries.build", id)(SparkEntry.queries(name)(spark, tables))
      phase("plan")
      trace.span("plans.plan", id)(df.queryExecution.executedPlan)
      phase("exec")
      val r = trace.span("exec.exec", id)(Checksum.of(df))
      val err = exp.get(name) match {
        case None => if (exp.isEmpty) "" else "no pinned value"
        case Some(e) if e.rows != r.rows => s"rows ${r.rows} != pinned ${e.rows}"
        case Some(e) if e.kind == "oracle" && e.sum != r.hex =>
          s"checksum ${r.hex} != pinned ${e.sum}"
        case _ => ""
      }
      (err, r.rows, r.hex)
    }

  private def pass(names: Seq[String], p: Int, exp: Map[String, Expected]): Unit = {
    val s = now
    names.foreach(n => entryOp(n, p, exp))
    passWall += ((p, trace.on, secs(s)))
  }

  private def expected(): Map[String, Expected] =
    lines("expected").filterNot(_.startsWith("#")).map { l =>
      val Array(n, k, r, s) = l.split('\t')
      n -> Expected(k, r.toLong, s)
    }.toMap

  // ---- workloads ---------------------------------------------------------

  def run(): Unit = {
    val passes = conf("passes").toInt
    val traceRun = conf("trace") == "1"
    setup(fromJvmStart = true)
    conf("workload") match {
      case "cold_eager" =>
        val names = lines("entries")
        val exp = expected()
        pass(names.sorted, 0, exp) // cold JVM: warms JIT and codegen, untimed
        (1 to passes).foreach { p =>
          stop(); setup(fromJvmStart = false)
          val on = traceRun && p % 2 == 0
          // even passes run the seed's order reversed, so of two consumers
          // of one cache each fills it as often as the other over a pair
          // of passes, whatever the seed
          val order = if (p % 2 == 0) names.reverse else names
          traced(on)
          pass(order, p, exp)
          traced(false)
          // a traced run takes each untraced pass's second touch too
          if (traceRun && !on) pass(order, -p, exp)
        }
      case "mr_etl" =>
        val mr = new MrRound(spark, conf, work)
        mr.prepare()
        mr.round(this, 0)
        (1 to passes).foreach { p =>
          traced(traceRun && p % 2 == 0)
          val s = now
          mr.round(this, p)
          passWall += ((p, trace.on, secs(s)))
        }
        traced(false)
    }
    extras("storage_bytes") =
      spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum.toDouble
    System.gc(); System.gc()
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    extras("retained_heap_bytes") = heap.toDouble
    stop()
    write()
  }

  /** Expose op timing to [[MrRound]]. */
  private[graftbench] def mrOp(name: String, pass: Int)(body: Int => (String, Long, String)): Unit = {
    timedOp(name, pass) { id => phase("exec"); body(id) }
  }
  private[graftbench] def span[T](name: String, op: Int)(body: => T): T =
    trace.span(name, op)(body)

  /** Runs each named entry twice in one session and writes one line per
    * entry: name, kind (oracle|rows), rows, checksum, eager jobs, first
    * and second latency, status (`ok`, the error, or `UNSTABLE:<sum>`).
    */
  def pin(): Unit = {
    setup(fromJvmStart = true)
    traced(true)
    val names =
      if (conf("entries") == "ALL") SparkEntry.queries.keys.toSeq.sorted
      else lines("entries")
    val oracle = SparkEntry.oracleSql.keySet
    names.foreach(n => entryOp(n, 1, Map.empty))
    names.foreach(n => entryOp(n, 2, Map.empty))
    BenchAccess.drain(spark.sparkContext)
    val byName = ops.groupBy(_.name)
    val out = names.map { n =>
      val Seq(a, b) = byName(n).sortBy(_.pass).toSeq
      val eager = jobs.jobs.count(j => j.op == a.id && j.phase == "build")
      Seq(n, if (oracle(n)) "oracle" else "rows", a.rows, a.sum, eager,
        f"${a.latency}%.3f", f"${b.latency}%.3f",
        if (a.err.nonEmpty) a.err else if (b.sum != a.sum) "UNSTABLE:" + b.sum else "ok"
      ).mkString("\t")
    }
    Files.write(Paths.get(conf("out")), (out.mkString("\n") + "\n").getBytes(UTF_8))
    stop()
  }

  // ---- output ------------------------------------------------------------

  private def write(): Unit = {
    val record = Map(
      "ops" -> ops.map(o => Map("id" -> o.id, "name" -> o.name, "pass" -> o.pass,
        "traced" -> o.traced, "latency_s" -> o.latency, "err" -> o.err, "rows" -> o.rows)),
      "setups" -> setups.map { case (t, miss, hit) =>
        Map("setup_s" -> t, "resolve_miss_s" -> miss, "resolve_hit_s" -> hit) },
      "passes" -> passWall.map { case (p, on, w) =>
        Map("pass" -> p, "traced" -> on, "wall_s" -> w) },
      "extras" -> extras,
      "spans" -> trace.spans.map(s => Map("id" -> s.id, "name" -> s.name, "op" -> s.op,
        "parent" -> s.parent, "start_s" -> s.startNs / 1e9, "end_s" -> s.endNs / 1e9)),
      "jobs" -> jobs.jobs.map(r => Map("id" -> r.id, "op" -> r.op, "phase" -> r.phase,
        "site" -> r.site,
        "stages" -> r.stages.filter(s => jobs.stageOwner.get(s).contains(r.id)))),
      "stages" -> jobs.stages.map { case (id, a) =>
        id.toString -> Map("tasks" -> a.tasks, "run_ms" -> a.runMs, "cpu_ns" -> a.cpuNs,
          "gc_ms" -> a.gcMs, "max_task_ms" -> a.maxTaskMs,
          "shuffle_write_b" -> a.shuffleWriteB, "spill_b" -> a.spillB,
          "input_b" -> a.inputB) },
      "streams" -> Map("batch_ms" -> streams.batchMs,
        "add_batch_ms" -> streams.addBatchMs, "commit_ms" -> streams.commitMs,
        "state_rows" -> streams.stateRows.values.sum,
        "state_bytes" -> streams.stateBytes.values.sum))
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new java.io.File(conf("out")), record)
  }
}
