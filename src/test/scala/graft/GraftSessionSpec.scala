package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Pins the one session builder: the conf it sets, the shared test
  * session carrying that conf, and that no second builder appears in the
  * library (a copy that drifts from the first is how the mains once came
  * to disagree on cores, UTC and the table-read keys). Likewise plan
  * extensions have one install path, the GraftExtensions that the conf
  * loads.
  */
class GraftSessionSpec extends SparkSpec {

  test("conf: UTC, UI off, shuffle partitions = cores, every required key") {
    val c = GraftSession.conf(7)
    assert(c("spark.sql.extensions") === "graft.GraftExtensions")
    assert(c("spark.sql.session.timeZone") === "UTC")
    assert(c("spark.ui.enabled") === "false")
    assert(c("spark.sql.shuffle.partitions") === "7")
    Tables.requiredConf.foreach { case (k, v) =>
      assert(c.get(k) === Some(v), k)
    }
  }

  test("the shared test session carries every GraftSession conf entry") {
    assert(spark.sparkContext.master === "local[4]")
    GraftSession.conf(4).foreach { case (k, v) =>
      assert(spark.conf.get(k) === v, k)
    }
  }

  /** Files under src/main/scala whose text matches `re`. */
  private def filesMatching(re: scala.util.matching.Regex): List[String] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root),
      s"no $root under ${Paths.get("").toAbsolutePath}")
    val walk = Files.walk(root)
    try walk.iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => re
        .findFirstIn(new String(Files.readAllBytes(p), UTF_8)).isDefined)
      .map(p => root.relativize(p).toString).toList.sorted
    finally walk.close()
  }

  test("SparkSession.builder is called only in GraftSession.scala") {
    assert(filesMatching("""SparkSession\s*\.\s*[Bb]uilder""".r) ===
      List("graft/GraftSession.scala"))
  }

  test("plan extensions install only through GraftExtensions") {
    assert(filesMatching(
      """inject(Function|OptimizerRule|PlannerStrategy)""".r) ===
      List("graft/GraftExtensions.scala"))
    assert(filesMatching(
      """extraOptimizations|extraStrategies|registerFunction""".r) === Nil)
  }
}
