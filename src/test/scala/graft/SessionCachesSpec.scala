package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Pins [[SessionCache]], the one implementation of every session-keyed
  * cache: eviction releases each entry once, concurrent misses build
  * once, and no hand-rolled session-keyed map appears beside it. The
  * stopped-session purge is driven through the deadness-predicate seam
  * [[SessionCaches.getOrBuildWhere]]: one JVM holds one SparkContext, so
  * a live-plus-stopped session pair can't exist here to exercise
  * `isStopped` directly.
  */
class SessionCachesSpec extends SparkSpec {

  private def chm(entries: (String, String)*) = {
    val m = new java.util.concurrent.ConcurrentHashMap[String, String]
    entries.foreach { case (k, v) => m.put(k, v) }
    m
  }

  test("miss purges dead entries, keeps live ones, builds the key") {
    val m = chm("deadA" -> "a", "deadB" -> "b", "live" -> "c")
    var built = 0
    val got = SessionCaches.getOrBuildWhere(m, "fresh",
      (k: String) => k.startsWith("dead")) { built += 1; "d" }
    assert(got === "d" && built === 1)
    assert(!m.containsKey("deadA") && !m.containsKey("deadB"))
    assert(m.get("live") === "c" && m.get("fresh") === "d")
  }

  test("hit path never purges and never rebuilds (hot path = one get)") {
    val m = chm("dead" -> "a", "hot" -> "h")
    var built = 0
    val got = SessionCaches.getOrBuildWhere(m, "hot",
      (_: String) => true) { built += 1; "rebuilt" }
    assert(got === "h" && built === 0)
    // the dead entry survives: purging is a miss-path duty only
    assert(m.get("dead") === "a")
  }

  test("build runs at most once per key under concurrent misses") {
    def race(lookup: (() => String) => String): (Int, List[String]) = {
      val built = new java.util.concurrent.atomic.AtomicInteger(0)
      val got = new java.util.concurrent.ConcurrentLinkedQueue[String]
      val threads = (1 to 8).map { _ =>
        new Thread(() => {
          got.add(lookup { () =>
            built.incrementAndGet(); Thread.sleep(50); "v"
          })
          ()
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      (built.get(), got.asScala.toList)
    }
    // the raw seam
    val m = new java.util.concurrent.ConcurrentHashMap[String, String]
    assert(race(b => SessionCaches.getOrBuildWhere(m, "k",
      (_: String) => false)(b())) === ((1, List.fill(8)("v"))))
    assert(m.get("k") === "v")
    // the class every cache is an instance of
    val c = new SessionCache[Int, String](_ => ())
    assert(race(b => c(spark, "concurrent", 1)(b())) ===
      ((1, List.fill(8)("v"))))
  }

  test("SessionCache.evict releases each entry of (s, d) once, keeps other dirs") {
    val released = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val c = new SessionCache[Int, String](v => { released.add(v); () })
    (1 to 3).foreach(k => c(spark, "dirA", k)(s"a$k"))
    (1 to 2).foreach(k => c(spark, "dirB", k)(s"b$k"))
    c.evict(spark, "dirA")
    assert(released.asScala.toList.sorted === List("a1", "a2", "a3"))
    // a second evict finds nothing left to release
    c.evict(spark, "dirA")
    assert(released.size === 3)
    // dirB's entries stay cached (a hit returns the first value) and
    // were never released
    assert(c(spark, "dirB", 1)("rebuilt") === "b1")
    assert(c(spark, "dirB", 2)("rebuilt") === "b2")
    // dirA's entries are gone: the next lookup rebuilds
    assert(c(spark, "dirA", 1)("rebuilt") === "rebuilt")
    assert(released.asScala.forall(_.startsWith("a")))
  }

  test("session-keyed maps are declared only in SessionCaches.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root),
      s"no $root under ${Paths.get("").toAbsolutePath}")
    val sessionKeyedMap = """(?s)Map\[\s*\(SparkSession""".r
    val walk = Files.walk(root)
    val hits =
      try walk.iterator.asScala
        .filter(_.toString.endsWith(".scala"))
        .filter(p => sessionKeyedMap
          .findFirstIn(new String(Files.readAllBytes(p), UTF_8)).isDefined)
        .map(p => root.relativize(p).toString).toList.sorted
      finally walk.close()
    assert(hits === List("graft/SessionCaches.scala"))
  }
}
