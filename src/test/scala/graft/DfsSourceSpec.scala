package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.mr.MapReduce

/** The `graft-dfs` DataSourceV2 connector over the MR chunk store:
  * chunk-per-partition placement, manifest order as data, column
  * pruning, and size statistics.
  */
class DfsSourceSpec extends SparkSpec {

  /** Write `lines` as a source file, ingest via the MR WRITE verb. */
  private def store(lines: Seq[String], parts: Int): String = {
    val base = Files.createTempDirectory("graft-dfs-spec").toString
    val src = s"$base/src.txt"
    Files.writeString(java.nio.file.Paths.get(src),
      lines.mkString("", "\n", "\n"))
    val dfs = s"$base/store"
    MapReduce.write(spark, src, dfs, parts)
    dfs
  }

  test("executor-bound Hadoop conf survives Java serialization") {
    // the writer/reader factories ship the DRIVER's Hadoop conf to
    // executors via SerializableHadoopConf — a custom driver-side key
    // (an object-store credential in production) must survive the trip;
    // `new Configuration()` on the executor would silently drop it
    val conf = new org.apache.hadoop.conf.Configuration()
    conf.set("graft.test.credential", "s3-secret-stand-in")
    val wrapped = new graft.sources.SerializableHadoopConf(conf)
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.ObjectOutputStream(bos)
    out.writeObject(wrapped); out.close()
    val in = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bos.toByteArray))
    val back = in.readObject().asInstanceOf[graft.sources.SerializableHadoopConf]
    assert(back.value.get("graft.test.credential") == "s3-secret-stand-in")
  }

  test("chunk_id filters prune input partitions at planning time") {
    val dfs = store((1 to 40).map(i => s"line-$i"), parts = 4)
    def scanParts(df: org.apache.spark.sql.DataFrame): Int = {
      df.collect() // force planning through AQE
      df.queryExecution.executedPlan.collectLeaves().collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.inputPartitions.size
      }.sum
    }
    val all = spark.read.format("graft-dfs").load(dfs)
    assert(scanParts(all.select("value")) == 4)
    val one = all.filter(col("chunk_id") === 2).select("value", "chunk_id")
    assert(scanParts(one) == 1, "equality must plan exactly one chunk")
    // the residual filter still applies (values correct, not just fewer
    // partitions) and range predicates prune too
    // chunks are byte ranges: 311 bytes in 4, chunk 2 = [155, 233), which
    // holds the lines starting in (155, 233]: line-22 … line-31
    assert(one.select("value").collect().map(_.getString(0)).toSet
      == (22 to 31).map(i => s"line-$i").toSet)
    val range = all.filter(col("chunk_id") >= 2).select("value")
    assert(scanParts(range) == 2)
    // an unsupported shape keeps every chunk (conservative) but rows
    // stay correct
    val odd = all.filter(col("chunk_id") % 2 === 1).select("chunk_id")
      .distinct().collect().map(_.getInt(0)).toSet
    assert(odd == Set(1, 3))
  }

  test("round-trip: manifest order reassembles the original lines") {
    val lines = (1 to 97).map(i => s"line-$i")
    val dfs = store(lines, 4)
    val df = spark.read.format("graft-dfs").load(dfs)
    val got = df.orderBy(col("chunk_id"), col("line_no"))
      .select("value").collect().map(_.getString(0)).toSeq
    assert(got == lines)
  }

  test("one input partition per chunk, rows land in their chunk") {
    val dfs = store((1 to 40).map(_.toString), 4)
    val df = spark.read.format("graft-dfs").load(dfs)
    assert(df.rdd.getNumPartitions == 4, "chunk-per-partition placement")
    assert(df.select("chunk_id").distinct().count() == 4)
    // contiguous ranges: every chunk's lines sort before the next chunk's
    val perChunk = df.groupBy("chunk_id")
      .agg(min(col("value").cast("int")).as("mn"),
        max(col("value").cast("int")).as("mx"))
      .orderBy("chunk_id")
      .collect().map(r => (r.getInt(1), r.getInt(2)))
    perChunk.sliding(2).foreach {
      case Array((_, mx1), (mn2, _)) => assert(mx1 < mn2,
        "manifest order must follow the original line ranges")
      case _ =>
    }
  }

  test("column pruning reaches the reader: a count scans no text") {
    val dfs = store((1 to 10).map(_.toString), 2)
    val df = spark.read.format("graft-dfs").load(dfs)
    assert(df.count() == 10)
    val counted = df.groupBy().count()
    counted.collect()
    val plan = counted.queryExecution.executedPlan.toString
    assert(!plan.contains("value:string") || plan.contains("ReadSchema: struct<>"),
      s"count must prune the value column:\n$plan")
  }

  test("the optimizer sees true byte-size statistics (broadcast-able)") {
    val dfs = store((1 to 50).map(i => s"row-$i"), 2)
    val df = spark.read.format("graft-dfs").load(dfs)
    val size = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val actual = DfsTable_sizeOf(dfs)
    assert(size > 0 && size <= actual * 8,
      s"stats $size should track the store's $actual bytes, not default to huge")
  }

  private def DfsTable_sizeOf(dir: String): Long =
    graft.sources.DfsTable.chunks(dir,
      spark.sparkContext.hadoopConfiguration).map(_._3).sum

  test("write side: partitions become chunks, read paths interoperate") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-dfs-w").toString + "/store"
    // 3 partitions of known contiguous content (repartitionByRange on a
    // sortWithinPartitions'd index keeps lines where we put them)
    val lines = (1 to 30).map(i => f"w-$i%03d")
    spark.createDataset(lines).toDF("value")
      .withColumn("idx", org.apache.spark.sql.functions
        .monotonically_increasing_id())
      .repartitionByRange(3, col("idx"))
      .sortWithinPartitions("idx")
      .select("value")
      .write.format("graft-dfs").mode("overwrite").save(dir)
    // connector read: chunk ids 0..2, manifest order == written order
    val back = spark.read.format("graft-dfs").load(dir)
      .orderBy(col("chunk_id"), col("line_no"))
      .select("value").collect().map(_.getString(0)).toSeq
    assert(back == lines)
    assert(spark.read.format("graft-dfs").load(dir)
      .select("chunk_id").distinct().count() == 3)
    // MR-facade READ interop: same store, same byte order
    assert(MapReduce.read(spark, dir).collect().toSeq == lines)
  }

  test("append extends the manifest; overwrite truncates; bad schemas rejected") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-dfs-t").toString + "/store"
    spark.createDataset(Seq("old-1", "old-2")).toDF("value")
      .coalesce(1).write.format("graft-dfs").mode("append").save(dir)
    // append: the new chunk lands AFTER the existing manifest
    spark.createDataset(Seq("appended")).toDF("value")
      .coalesce(1).write.format("graft-dfs").mode("append").save(dir)
    val appended = spark.read.format("graft-dfs").load(dir)
      .orderBy(col("chunk_id"), col("line_no"))
      .select("value").collect().map(_.getString(0)).toSeq
    assert(appended == Seq("old-1", "old-2", "appended"))
    spark.createDataset(Seq("new-1")).toDF("value")
      .coalesce(1).write.format("graft-dfs").mode("overwrite").save(dir)
    val got = spark.read.format("graft-dfs").load(dir)
      .select("value").collect().map(_.getString(0)).toSeq
    assert(got == Seq("new-1"), "overwrite must replace prior chunks")
    intercept[Exception] {
      Seq((1, "x")).toDF("id", "value")
        .write.format("graft-dfs").mode("overwrite").save(dir)
    }
    intercept[Exception] {
      Seq(("x".getBytes(UTF_8), 1)).toDF("value", "id")
        .write.format("graft-dfs").mode("overwrite").save(dir)
    }
  }

  test("one write's commit leaves another write's staged chunks alone") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-dfs-2w").toString + "/store"
    // writer A stages a chunk through the connector's own write path ...
    val a = new graft.sources.DfsBatchWrite(dir, truncate = false, lines = true)
    val task = a.createBatchWriterFactory(null).createWriter(0, 0L)
    Seq("a-1", "a-2").foreach(v => task.write(
      org.apache.spark.sql.catalyst.InternalRow(
        org.apache.spark.unsafe.types.UTF8String.fromString(v))))
    val staged = task.commit()
    // ... writer B writes and commits in between ...
    Seq("b-1").toDF("value").coalesce(1)
      .write.format("graft-dfs").mode("append").save(dir)
    // ... and A's commit still finds its staged chunk
    a.commit(Array(staged))
    val got = spark.read.format("graft-dfs").load(dir)
      .orderBy(col("chunk_id"), col("line_no"))
      .select("value").collect().map(_.getString(0)).toSeq
    assert(got == Seq("b-1", "a-1", "a-2"))
    assert(!Files.exists(Paths.get(dir, "_temp")),
      "the last commit removes the emptied staging root")
  }

  test("binary rows are written verbatim; reads keep value: string") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-dfs-bin").toString + "/store"
    Seq("a\r", "b").map(_.getBytes(UTF_8)).toDF("value").coalesce(1)
      .write.format("graft-dfs").mode("overwrite").save(dir)
    assert(Files.readAllBytes(Paths.get(dir, "part-00000")).toSeq
      == "a\rb".getBytes(UTF_8).toSeq)
    val df = spark.read.format("graft-dfs").load(dir)
    assert(df.schema == graft.sources.DfsTable.Schema)
    assert(df.select("value", "chunk_id", "line_no").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq
      == Seq(("a", 0, 0L), ("b", 0, 1L)))
    // a null row is rejected, as for string rows, not written as nothing
    intercept[Exception] {
      Seq[Array[Byte]](null).toDF("value")
        .write.format("graft-dfs").mode("overwrite").save(dir)
    }
  }

  test("undecodable bytes pass through a graft-dfs write and read raw") {
    val base = Files.createTempDirectory("graft-dfs-raw")
    val src = base.resolve("raw.txt")
    val bytes = "ok\n".getBytes(UTF_8) ++ Array(0xFF, 0xFE, '\n').map(_.toByte)
    Files.write(src, bytes)
    val dir = base.resolve("store").toString
    spark.read.text(src.toString)
      .write.format("graft-dfs").mode("overwrite").save(dir)
    val back = spark.read.format("graft-dfs").load(dir)
      .orderBy("chunk_id", "line_no").select(col("value").cast("binary"))
      .collect().map(_.getAs[Array[Byte]](0))
    assert(back.flatMap(_ :+ '\n'.toByte).toSeq == bytes.toSeq)
  }

  test("graft-dfs is the only chunk-store writer: no text sink in src/main") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root),
      s"no $root under ${Paths.get("").toAbsolutePath}")
    // `.write`, any chained calls, then the text sink; readers do not match
    val textSink = ("""\.write\b(?:\s*\.\s*\w+\s*\([^()]*\))*\s*\.\s*""" +
      """(?:text\s*\(|format\s*\(\s*"text"\s*\))""").r
    val walk = Files.walk(root)
    val hits =
      try walk.iterator.asScala
        .filter(_.toString.endsWith(".scala"))
        .filter(p => textSink
          .findFirstIn(new String(Files.readAllBytes(p), UTF_8)).isDefined)
        .map(p => root.relativize(p).toString).toList.sorted
      finally walk.close()
    assert(hits === Nil)
  }

  test("a filtered projection keeps the pruned schema and right rows") {
    val dfs = store(Seq("alpha", "beta", "gamma", "delta"), 2)
    val df = spark.read.format("graft-dfs").load(dfs)
      .filter(col("value").startsWith("g")).select("value")
    assert(df.collect().map(_.getString(0)).toSeq == Seq("gamma"))
  }
}
