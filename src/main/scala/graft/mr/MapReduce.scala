package graft.mr

import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.hadoop.mapreduce.TaskAttemptID
import org.apache.hadoop.mapreduce.lib.input.{FileSplit, LineRecordReader}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.SerializableHadoopConf

/** MR-core parity facade (SURVEY.md §2.1–2.2, Phase 1): the reference
  * engine's three verbs — WRITE, READ, MAPREDUCE — re-expressed on Spark
  * primitives, honoring the Hadoop-Streaming contract the reference
  * implements:
  *
  *  - a record is a text line; during MR it is a comma-separated
  *    `key,value` line, keyed on the first comma field (reference
  *    `Worker/worker_v1.py:133`; no comma → whole line is the key);
  *  - MAP = arbitrary line → 0..n lines (`Worker/worker_v1.py:113-116`);
  *  - SHUFFLE = hash-partition on key (`Worker/shuffler.py:6-10`,
  *    `Worker/worker_v1.py:124-153`) — here one Dataset `repartition`
  *    Exchange; any consistent hash preserves the co-location semantics;
  *  - pre-reduce SORT = whole-line code-point order within partition
  *    (`Worker/worker_v1.py:184-191`, Python `list.sort()`) — here
  *    `sortWithinPartitions` on UTF-8 bytes;
  *  - REDUCE = user fold over the sorted partition, keys contiguous
  *    (`Worker/worker_v1.py:196-199`).
  *
  * The chunk store is the `graft-dfs` connector's: WRITE commits through
  * it in one job, each chunk a verbatim byte range of the source, and READ
  * is its scan, whose partition order is manifest order, so neither
  * shuffles. That order holds for narrow consumers
  * (`collect`, `toLocalIterator`, a `graft-dfs` write); a consumer that
  * shuffles and needs it reads `graft-dfs` and sorts on `chunk_id, line_no`.
  *
  * The typed relational surface (graft.queries) is the engine's real API;
  * this facade exists so every job the reference runs today has a literal
  * home, including external executable scripts via `rdd.pipe` (Spark's
  * own Hadoop-Streaming analogue). The pipe path leaves whole-stage
  * codegen — keep it for compatibility, not hot paths.
  */
object MapReduce {

  /** First-comma-field key, `Worker/worker_v1.py:133` semantics:
    * `line.split(',')[0]`, so a line with no comma keys on itself.
    */
  def keyOf(line: String): String = {
    val i = line.indexOf(',')
    if (i < 0) line else line.substring(0, i)
  }

  /** S1 WRITE: ingest a text file as `partitions` chunks `part-00000` …,
    * committed through `graft-dfs` in ONE job with no shuffle. Task k
    * copies the source bytes `[b_k, b_{k+1})` VERBATIM, `b_k` being the
    * offset of the first line Hadoop's `LineRecordReader` gives for split
    * `[k·len/p, (k+1)·len/p)` (`b_0 = 0`, `b_p = len`): each line lands in
    * its split's chunk, no cut falls inside a `\r\n`, and the chunks in
    * order ARE the source, terminators, BOM and non-UTF-8 bytes included.
    * Contract: chunks are balanced by BYTES, not by line count as the
    * reference's (`Client/client_v1.py:96-115`); a split that reads no line
    * is an empty chunk. Compressed sources are rejected: a split cannot
    * seek inside them.
    */
  def write(spark: SparkSession, src: String, dfsDir: String,
      partitions: Int): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val path = new Path(src)
    require(new CompressionCodecFactory(conf).getCodec(path) == null,
      s"WRITE needs an uncompressed text source, got $src")
    val len = path.getFileSystem(conf).getFileStatus(path).getLen
    val hconf = new SerializableHadoopConf(conf)
    val slices = spark.sparkContext.parallelize(0 until partitions, partitions)
      .flatMap { k =>
        val ctx = new TaskAttemptContextImpl(hconf.value, new TaskAttemptID())
        def lineStart(split: Long): Long = {
          val reader = new LineRecordReader()
          try {
            reader.initialize(new FileSplit(path, split, len - split,
              Array.empty[String]), ctx)
            if (reader.nextKeyValue()) reader.getCurrentKey.get else len
          } finally reader.close()
        }
        val (from, to) = (lineStart(k * len / partitions),
          lineStart((k + 1) * len / partitions))
        val in = path.getFileSystem(hconf.value).open(path)
        TaskContext.get().addTaskCompletionListener[Unit](_ => in.close())
        // rows of at most 1 MiB; the writer concatenates binary rows as is
        (from until to by (1L << 20)).iterator.map { at =>
          val bytes = new Array[Byte](math.min(1L << 20, to - at).toInt)
          in.readFully(at, bytes)
          bytes
        }
      }
    spark.createDataset(slices)(Encoders.BINARY)
      .write.format("graft-dfs").mode("overwrite").save(dfsDir)
  }

  /** S2 READ: the DFS dir as one dataset of lines in MANIFEST ORDER —
    * part files in name order, lines within each file in file order —
    * matching the reference's chunk reassembly (`Client/client_v1.py:
    * 172-175`): a WRITE→READ roundtrip returns the text scan's lines, but
    * keeps a leading UTF-8 BOM (`\uFEFF` starts the first line, as the
    * reference's Python mapper sees it). This is the `graft-dfs` scan: one
    * partition per chunk, in name order, each read front to back, so
    * partition order IS manifest order and no sort or shuffle runs. The
    * order holds for narrow consumers (`collect`, `toLocalIterator`, a
    * `graft-dfs` write); a consumer that shuffles and still needs it reads
    * `graft-dfs` and sorts on `chunk_id, line_no`. A missing dir fails at
    * the first action, with the path in the error.
    */
  def read(spark: SparkSession, dfsDir: String): Dataset[String] = {
    import spark.implicits._
    spark.read.format("graft-dfs").load(dfsDir).select("value").as[String]
  }

  /** D1 MAP: per-line transform with flatMap power (0..n output lines). */
  def mapLines(ds: Dataset[String])(
      mapper: String => IterableOnce[String]): Dataset[String] = {
    import ds.sparkSession.implicits._
    ds.flatMap(mapper)
  }

  /** D2+D3: hash-partition lines on the first-comma key (`substring_index`
    * is exactly [[keyOf]]) into `numPartitions` partitions, then sort each
    * partition on (key, line): keys contiguous, lines within a key in
    * whole-line order. Strings compare as UTF-8 bytes, i.e. code-point
    * order — the order of the reference's Python `list.sort()`. A
    * `repartition` with an explicit count is never coalesced by AQE, and
    * the key column is projected after the exchange so it is not shuffled.
    */
  private def shuffleSorted(lines: Dataset[String], numPartitions: Int)
      : DataFrame = {
    val key = substring_index(col("value"), ",", 1)
    lines.toDF("value")
      .repartition(numPartitions, key)
      .select(key.as("key"), col("value"))
      .sortWithinPartitions("key", "value")
  }

  /** D2+D3+D4: shuffle on the first-comma key, sort each partition, then
    * stream each contiguous key group through the reducer — the exact
    * Hadoop contract, including whole-line value order within a group.
    * The reducer sees the whole sorted partition as a stream, so the
    * group framing is per-partition imperative logic.
    */
  def reduceByLineKey(ds: Dataset[String], numPartitions: Int)(
      reducer: (String, Iterator[String]) => IterableOnce[String])
      : Dataset[String] = {
    import ds.sparkSession.implicits._
    shuffleSorted(ds, numPartitions).as[(String, String)].mapPartitions { it =>
      new Iterator[Iterator[String]] {
        private val buf = it.buffered
        def hasNext: Boolean = buf.hasNext
        def next(): Iterator[String] = {
          val key = buf.head._1
          val group = new Iterator[String] {
            def hasNext: Boolean = buf.hasNext && buf.head._1 == key
            def next(): String = buf.next()._2
          }
          val out = reducer(key, group).iterator
          // reducers that don't drain the group must not break framing
          new Iterator[String] {
            def hasNext: Boolean =
              if (out.hasNext) true else { while (group.hasNext) group.next(); false }
            def next(): String = out.next()
          }
        }
      }.flatten
    }
  }

  /** One whole MR round, closure form: MAP → SHUFFLE → SORT → REDUCE
    * (reference orchestration `Master/masterhandler.py:59-191`). Catalyst/
    * DAG scheduler provides the stage barriers the master hand-codes.
    */
  def mapReduce(input: Dataset[String],
      mapper: String => IterableOnce[String],
      reducer: (String, Iterator[String]) => IterableOnce[String],
      numPartitions: Int): Dataset[String] =
    reduceByLineKey(mapLines(input)(mapper), numPartitions)(reducer)

  /** One whole MR round, external-executable form — literal parity with
    * the reference's user contract (arbitrary stdin→stdout programs,
    * `Worker/worker_v1.py:113-116,196-199`), via `RDD.pipe`. The reducer
    * command receives its whole partition sorted, keys contiguous, exactly
    * like a Hadoop Streaming / YaMR reducer.
    */
  def mapReducePipe(input: Dataset[String], mapperCmd: String,
      reducerCmd: String, numPartitions: Int): Dataset[String] = {
    val spark = input.sparkSession
    import spark.implicits._
    val mapped = spark.createDataset(input.rdd.pipe(mapperCmd))
    val sorted = shuffleSorted(mapped, numPartitions).select("value").as[String]
    spark.createDataset(sorted.rdd.pipe(reducerCmd))
  }
}
