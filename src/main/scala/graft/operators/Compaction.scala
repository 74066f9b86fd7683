package graft.operators

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Small-file compaction — the table-maintenance pass every long-lived
  * 100 TB warehouse needs: streaming ingest and fine-grained partitioned
  * writes accumulate thousands of KB-sized files, and each one costs a
  * scan task + a namenode/listing entry, so scan parallelism degenerates
  * into scheduling overhead. Compaction rewrites a directory into
  * ~`targetBytes` files (the OPTIMIZE verb of modern table formats).
  *
  * Scale shape: the file inventory comes from the Hadoop `FileSystem`
  * API (works on HDFS/S3A, not just local disk) and is
  * file-count-sized metadata at the driver — never row data. The
  * rewrite itself is one distributed pass: `repartition(nOut)`
  * round-robins rows into evenly sized output files. Round-robin
  * deliberately discards clustering; to compact AND preserve a sort
  * layout, pass `clusterBy` — `repartitionByRange` keeps the range
  * clustering that layout passes like q79's Z-ordering produced, at the
  * cost of a range-boundary sample pass.
  *
  * The reference has no storage maintenance at all — its DFS keeps
  * whatever chunk layout WRITE produced (reference
  * `Master/masterhandler.py:209-213` stores chunk locations verbatim) —
  * so this is [EXT] surface: the op a reference user inherits from the
  * platform the moment their corpus outlives one ingest.
  */
object Compaction {

  /** (fileCount, totalBytes, rowCount) of a parquet directory. File
    * inventory via the Hadoop FS (cluster-portable); row count is one
    * parquet-metadata-only Spark job (count() over parquet reads footers,
    * not pages).
    */
  def stats(spark: SparkSession, dir: String): (Long, Long, Long) = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listFiles(p, true)
    var n = 0L
    var bytes = 0L
    while (files.hasNext) {
      val f = files.next()
      val name = f.getPath.getName
      if (!name.startsWith("_") && !name.startsWith(".")) {
        n += 1; bytes += f.getLen
      }
    }
    // `dir` is a user's layout, possibly partitioned (the listing above
    // recurses), so Spark infers its schema; Tables.parquetSchema reads
    // flat engine layouts only
    (n, bytes, spark.read.parquet(dir).count())
  }

  /** Rewrite `inDir` into `outDir` with ceil(bytes/targetBytes) files.
    * `clusterBy` non-empty → range-partition on those columns so the
    * output keeps (and repairs) that clustering; empty → round-robin,
    * the cheapest even packing. Returns a 2-row audit frame
    * (phase, files, rows) — the before/after a maintenance job logs.
    */
  def compact(spark: SparkSession, inDir: String, outDir: String,
      targetBytes: Long, clusterBy: Seq[String] = Nil): DataFrame = {
    val (inFiles, inBytes, inRows) = stats(spark, inDir)
    val nOut = math.max(1L, (inBytes + targetBytes - 1) / targetBytes).toInt
    val df = spark.read.parquet(inDir) // user layout: see stats
    val packed =
      if (clusterBy.nonEmpty)
        df.repartitionByRange(nOut, clusterBy.map(col): _*)
          .sortWithinPartitions(clusterBy.map(col): _*)
      else df.repartition(nOut)
    packed.write.mode("overwrite").parquet(outDir)
    val (outFiles, _, outRows) = stats(spark, outDir)
    import spark.implicits._
    Seq(("before", inFiles, inRows), ("after", outFiles, outRows))
      .toDF("phase", "files", "rows")
  }
}
