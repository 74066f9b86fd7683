package graft

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built — the role the reference's
  * `Master/info.txt` plays for its cluster shape. Every main and the
  * test session call [[apply]]; `getOrCreate` makes a repeat call in the
  * same JVM return the live session.
  */
object GraftSession {
  /** Local cores: `$SPARK_GRAFT_CPUS`, else every available processor. */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Every conf key a session of `threads` local cores carries; the
    * extensions key installs graft's SQL functions, rules and strategy.
    */
  def conf(threads: Int): Map[String, String] = Map(
    "spark.sql.extensions" -> classOf[GraftExtensions].getName,
    "spark.sql.shuffle.partitions" -> threads.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false") ++ Tables.requiredConf

  /** `master` overrides `local[threads]` (a cluster address). */
  def apply(threads: Int = cores, master: Option[String] = None)
    : SparkSession = {
    val spark = SparkSession.builder()
      .master(master.getOrElse(s"local[$threads]"))
      .config(conf(threads))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
