package graft

import org.apache.spark.scheduler._

/** Dev drill-down for named entries: each runs 3 reps through the noop
  * sink Bench times, and every Spark job a rep launches is printed with
  * its start offset, wall time and stage count — the Spark-UI jobs page
  * for a headless box. Each rep also splits its jobs by layer: `eager`
  * jobs start before the entry function returns its DataFrame, `exec`
  * jobs during the noop write. The `PROBE` summary line carries every
  * rep's seconds and eager/exec job counts. `--explain` adds the
  * formatted AQE final plan of the last rep's frame.
  *
  * Usage: runMain graft.Probe <sfDir> [--explain] <entry>...
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val (flags, rest) = args.toSeq.partition(_.startsWith("--"))
    if (rest.size < 2) {
      System.err.println("usage: graft.Probe <sfDir> [--explain] <entry>...")
      sys.exit(2)
    }
    val sfDir = rest.head
    val names = rest.tail
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown entries: ${unknown.mkString(", ")}")
    val spark = GraftSession()
    Tables.names.foreach(t => Bench.warm(t)(Tables(spark, sfDir, t).count()))
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Int)]
    // jobs started per layer, keyed by the job group the rep runs under
    val perLayer = new java.util.concurrent.ConcurrentHashMap[String, Int]
    @volatile var t0 = System.nanoTime()
    sc.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.put(j.jobId, (System.nanoTime(), j.stageInfos.size))
        Option(j.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id")))
          .foreach(perLayer.merge(_, 1, _ + _))
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        Option(jobs.remove(j.jobId)).foreach { case (s, stages) =>
          println(f"  JOB ${j.jobId}%3d  +${(s - t0) / 1e9}%6.2f  " +
            f"${(System.nanoTime() - s) / 1e9}%6.3f s  stages=$stages")
        }
    })
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      var df: org.apache.spark.sql.DataFrame = null
      val reps = (1 to 3).map { r =>
        println(s"== $n rep $r ==")
        perLayer.clear()
        t0 = System.nanoTime()
        try {
          sc.setJobGroup("eager", n)
          df = fn(spark, sfDir)
          sc.setJobGroup("exec", n)
          df.write.format("noop").mode("overwrite").save()
        } finally sc.clearJobGroup()
        val secs = (System.nanoTime() - t0) / 1e9
        org.apache.spark.ListenerDrain(sc) // every job event delivered
        val eager = perLayer.getOrDefault("eager", 0)
        val exec = perLayer.getOrDefault("exec", 0)
        println(s"  LAYERS eager_jobs=$eager exec_jobs=$exec")
        (secs, eager, exec)
      }
      println(f"PROBE $n%-28s ${reps.map(r => f"${r._1}%.2f").mkString(" ")}" +
        s"  eager_jobs=${reps.map(_._2).mkString(",")}" +
        s" exec_jobs=${reps.map(_._3).mkString(",")}")
      if (flags.contains("--explain")) {
        PlanAudit.finalPlan(df)
        df.explain("formatted")
      }
    }
    spark.stop()
  }
}
