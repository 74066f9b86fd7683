package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}

/** Pins [[Tables.parquetSchema]]: the driver footer read gives the schema
  * Spark's inference gives, resolving the ten tables launches no Spark
  * job, bad paths fail by name at call time, and `read.parquet` (the
  * inferring read) stays confined to the user-supplied layouts.
  */
class TablesSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("graft-tables").toString

  private def sameAsInferred(path: String): Unit =
    assert(Tables.parquetSchema(spark, path) ===
      spark.read.parquet(path).schema, path)

  test("footer schema equals the inferred schema for every sf0.001 table") {
    Tables.names.foreach(n => sameAsInferred(s"$sf/$n.parquet"))
  }

  test("footer schema equals the inferred schema for Spark-written dirs") {
    val d = tmp()
    val df = spark.range(0, 200, 1, 4).select(
      col("id"), col("id").cast("string").as("s"),
      (col("id") / 7).cast("decimal(12,2)").as("dec"),
      date_add(lit("2024-01-01").cast("date"), col("id").cast("int"))
        .as("day"),
      timestamp_micros(col("id") * 1000003L).as("ts"),
      array(col("id").cast("int")).as("arr"),
      map(col("s"), col("id")).as("m"),
      struct(col("id").as("a"), col("s").as("b")).as("st"))
    df.write.parquet(s"$d/multi")
    assert(new java.io.File(s"$d/multi").list()
      .count(_.endsWith(".parquet")) > 1)
    // hidden sub-directories (a stray staging copy) are not layout
    Files.createDirectories(Paths.get(s"$d/multi/.stray"))
    Files.createDirectories(Paths.get(s"$d/multi/_temporary"))
    sameAsInferred(s"$d/multi")
    df.limit(0).write.parquet(s"$d/empty")
    sameAsInferred(s"$d/empty")
  }

  test("TIMESTAMP(NANOS) events: raw ts is long, normalize makes it a " +
    "timestamp") {
    val d = tmp()
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,true)); " +
        "required binary event_type (STRING); }")
    val w = ExampleParquetWriter.builder(new Path(s"$d/events.parquet"))
      .withType(schema).withConf(new Configuration()).build()
    val g = new SimpleGroupFactory(schema)
    try w.write(g.newGroup().append("event_id", 1L)
      .append("ts", 1700000000123456789L).append("event_type", "click"))
    finally w.close()
    val raw = Tables.parquetSchema(spark, s"$d/events.parquet")
    assert(raw("ts").dataType === LongType)
    sameAsInferred(s"$d/events.parquet")
    val ev = Tables(spark, d, "events")
    assert(ev.schema("ts").dataType === TimestampType)
    assert(ev.select(unix_micros(col("ts"))).head().getLong(0) ===
      1700000000123456L)
  }

  test("resolving the ten tables in a fresh session runs no Spark job") {
    val fresh = spark.newSession()
    try {
      val (jobs, _, _) =
        jobsOf(Tables.names.foreach(n => Tables(fresh, sf, n)))
      assert(jobs === 0)
    } finally Tables.resolved.evict(fresh, sf)
  }

  test("a missing table, an empty dir and a nested dir fail by path") {
    val d = tmp()
    def failure(name: String): String =
      intercept[IllegalArgumentException](Tables(spark, d, name)).getMessage
    assert(failure("nope") ===
      s"parquet path does not exist: $d/nope.parquet")
    Files.createDirectories(Paths.get(s"$d/done.parquet"))
    Files.createFile(Paths.get(s"$d/done.parquet/_SUCCESS"))
    assert(failure("done") ===
      s"parquet directory $d/done.parquet has no data file")
    spark.range(3).write.parquet(s"$d/nested.parquet/k=1")
    assert(failure("nested") === s"parquet directory $d/nested.parquet " +
      "has a sub-directory k=1; only flat layouts are read here")
  }

  /** Sources that may call the inferring `read.parquet`, and why. */
  private val inferringReads = Map(
    "graft/operators/Compaction.scala" ->
      "compacts a user-supplied directory, which may be partitioned",
    "graft/plans/MvRewrite.scala" ->
      "reads the MV path a user sets in conf, which may be partitioned")

  test("read.parquet( appears only in the allowlisted sources") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root),
      s"no $root under ${Paths.get("").toAbsolutePath}")
    val call = """\bread\s*\.\s*parquet\s*\(""".r
    def code(line: String): String = {
      val t = line.trim
      if (t.startsWith("*") || t.startsWith("/*")) ""
      else t.split("//", 2)(0)
    }
    val walk = Files.walk(root)
    val hits =
      try walk.iterator.asScala
        .filter(_.toString.endsWith(".scala"))
        .flatMap { p =>
          val f = root.relativize(p).toString
          new String(Files.readAllBytes(p), UTF_8).linesIterator
            .zipWithIndex
            .filter { case (l, _) => call.findFirstIn(code(l)).isDefined }
            .map { case (_, i) => s"$f:${i + 1}" }
        }.toList.sorted
      finally walk.close()
    val outside = hits.filterNot(h => inferringReads.contains(h.split(':')(0)))
    assert(outside === Nil, "engine-owned layouts resolve through " +
      "Tables.parquetSchema; add a reason to inferringReads only for a " +
      "user-supplied layout")
    assert(hits.map(_.split(':')(0)).toSet === inferringReads.keySet)
  }
}
