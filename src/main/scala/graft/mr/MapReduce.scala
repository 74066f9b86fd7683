package graft.mr

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

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
  * READ runs no shuffle: it is the `graft-dfs` scan, whose partition
  * order is manifest order. That order holds for narrow consumers
  * (`collect`, `toLocalIterator`, `write.text`); a consumer that shuffles
  * and needs it reads `graft-dfs` and sorts on `chunk_id, line_no`.
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

  /** Marker file recording that the source had NO trailing newline, so
    * `Cli -r` can reassemble byte-for-byte (text lines lose the final
    * newline's presence/absence at split time). Underscore-prefixed →
    * invisible to Spark file scans, like _SUCCESS.
    */
  private[graft] val NoTrailingNewline = "_no_trailing_newline"

  /** S1 WRITE: ingest a local text file into the DFS dir, split into
    * `partitions` chunks of CONTIGUOUS line ranges, chunk order = line
    * order — the reference splits by line count (`Client/client_v1.py:
    * 96-115`), so chunk k holds lines before chunk k+1's. Range-partition
    * on the global line index reproduces that: part-file name order IS
    * manifest order, and READ can reassemble the original file
    * byte-for-byte. (Empty chunks the reference pads are native here.)
    */
  def write(spark: SparkSession, src: String, dfsDir: String,
      partitions: Int): Unit = {
    import spark.implicits._
    import org.apache.hadoop.fs.{FileUtil, Path}
    val conf = spark.sparkContext.hadoopConfiguration
    // Spark file listings treat dot/underscore-prefixed names as hidden
    // even when the path is given explicitly — a ".env" source would
    // silently scan as empty. Stage a visible copy beside the target.
    val srcPath = new Path(src)
    val hidden = { val n = srcPath.getName
      n.startsWith(".") || n.startsWith("_") }
    val staged = if (!hidden) None else {
      val stage = new Path(s"$dfsDir.staging-src")
      FileUtil.copy(srcPath.getFileSystem(conf), srcPath,
        stage.getFileSystem(conf), stage, false, true, conf)
      Some(stage)
    }
    val scanPath = staged.map(_.toString).getOrElse(src)
    try {
      spark.createDataset(spark.read.textFile(scanPath).rdd.zipWithIndex())
        .toDF("value", "idx")
        .repartitionByRange(partitions, col("idx"))
        .sortWithinPartitions("idx")
        .select("value")
        .write.mode("overwrite").text(dfsDir)
      if (!endsWithNewline(spark, scanPath)) {
        val marker = new Path(dfsDir, NoTrailingNewline)
        marker.getFileSystem(conf).create(marker, true).close()
      }
    } finally staged.foreach(p => p.getFileSystem(conf).delete(p, false))
  }

  /** True iff the source file's last byte is \n (empty files count as
    * newline-terminated: they roundtrip to empty). Hadoop FS API, so the
    * check works for any source the scan itself can read.
    */
  private def endsWithNewline(spark: SparkSession, src: String): Boolean = {
    val path = new org.apache.hadoop.fs.Path(src)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val len = fs.getFileStatus(path).getLen
    if (len == 0) true
    else {
      val in = fs.open(path)
      try { in.seek(len - 1); in.read() == '\n' }
      finally in.close()
    }
  }

  /** True iff `write` recorded that the dataset's source lacked a final
    * newline (datasets produced by MR output default to newline-
    * terminated, matching the text sink's own framing).
    */
  private[graft] def lacksTrailingNewline(spark: SparkSession,
      dfsDir: String): Boolean = {
    val marker = new org.apache.hadoop.fs.Path(dfsDir, NoTrailingNewline)
    marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(marker)
  }

  /** S2 READ: the DFS dir as one dataset of lines in MANIFEST ORDER —
    * part files in name order, lines within each file in file order —
    * matching the reference's chunk reassembly (`Client/client_v1.py:
    * 172-175`), so a WRITE→READ roundtrip returns the original line
    * sequence. This is the `graft-dfs` scan: one partition per chunk, in
    * name order, each read front to back, so partition order IS manifest
    * order and no sort or shuffle runs. The order holds for narrow
    * consumers (`collect`, `toLocalIterator`, `write.text`); a consumer
    * that shuffles and still needs it reads `graft-dfs` and sorts on
    * `chunk_id, line_no`. A missing dir fails at the first action, with
    * the path in the error.
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
