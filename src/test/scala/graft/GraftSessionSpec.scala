package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Pins the one session builder: the conf it sets, the shared test
  * session carrying that conf, and that no second builder appears in the
  * library (a copy that drifts from the first is how the mains once came
  * to disagree on cores, UTC and the table-read keys).
  */
class GraftSessionSpec extends SparkSpec {

  test("conf: UTC, UI off, shuffle partitions = cores, every required key") {
    val c = GraftSession.conf(7)
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

  test("SparkSession.builder is called only in GraftSession.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root),
      s"no $root under ${Paths.get("").toAbsolutePath}")
    val builder = """SparkSession\s*\.\s*[Bb]uilder""".r
    val walk = Files.walk(root)
    val hits =
      try walk.iterator.asScala
        .filter(_.toString.endsWith(".scala"))
        .filter(p => builder
          .findFirstIn(new String(Files.readAllBytes(p), UTF_8)).isDefined)
        .map(p => root.relativize(p).toString).toList.sorted
      finally walk.close()
    assert(hits === List("graft/GraftSession.scala"))
  }
}
