package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{
  ArrayType, DataType, LongType, MapType, StructType, TimestampNTZType,
  TimestampType}

/** Loaders for the driver-generated parquet tables (see TESTDATA.md).
  *
  * The reference engine's "catalog" is a JSON map of logical file name →
  * chunk locations (reference `Master/masterhandler.py:209-213`): a name
  * resolves with a metadata lookup and no job. Here names resolve to
  * `<sfDir>/<name>.parquet`, and resolution is one driver-side footer
  * read ([[parquetSchema]]) handed to `spark.read.schema(...).parquet`,
  * so it launches no Spark job; `spark.read.parquet` alone would run one
  * schema-inference job per table.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Resolved-plan cache: even with the schema read from one footer,
    * every resolution pays a file listing plus that footer read, and a
    * bench/verify session resolves the same ten immutable tables
    * hundreds of times. The cache reuses the analyzed relation (logical
    * plan, NOT data — nothing is persisted/pinned), keyed per session so
    * separate test sessions never share. TESTDATA dirs are immutable for
    * a session's lifetime; a test that rewrites a table dir in place must
    * evict it.
    */
  private[graft] val resolved = new SessionCache[String, DataFrame](_ => ())

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    resolved(spark, sfDir, name) {
      normalize(readFlat(spark, s"$sfDir/$name.parquet"))
    }

  /** `spark.read.parquet(path)` for a flat layout, with the schema from
    * [[parquetSchema]] instead of an inference job.
    */
  def readFlat(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(parquetSchema(spark, path)).parquet(path)

  /** The schema `spark.read.parquet(path)` infers, read on the driver
    * from one parquet footer, with no Spark job. The file is the one
    * Spark's non-merging inference picks: `path` itself when it is a
    * file; for a directory, its `_common_metadata`, else its `_metadata`
    * summary, else its first data file in path order (names starting
    * with `_` or `.` are hidden, as in Spark's listing). The footer goes
    * through Spark's own converter, so the row-metadata schema Spark
    * writes wins and the session's `nanosAsLong`/`inferTimestampNTZ`
    * settings apply. Every layout this engine writes is flat; a
    * directory with a visible sub-directory (a partitioned layout) is
    * refused rather than misread, as are a missing path and a directory
    * with no file to read.
    */
  def parquetSchema(spark: SparkSession, path: String): StructType = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val conf = session.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val st = try fs.getFileStatus(p) catch {
      case _: java.io.FileNotFoundException => throw
        new IllegalArgumentException(s"parquet path does not exist: $path")
    }
    val file =
      if (!st.isDirectory) st
      else {
        val (dirs, files) = fs.listStatus(p)
          .filterNot(s => hiddenName(s.getPath.getName))
          .sortBy(_.getPath.toString).partition(_.isDirectory)
        dirs.headOption.foreach { d => throw new IllegalArgumentException(
          s"parquet directory $path has a sub-directory " +
            s"${d.getPath.getName}; only flat layouts are read here") }
        val summaries = Seq("_common_metadata", "_metadata")
        summaries.flatMap(n => files.find(_.getPath.getName == n)).headOption
          .orElse(files.find(f => !summaries.contains(f.getPath.getName)))
          .getOrElse(throw new IllegalArgumentException(
            s"parquet directory $path has no data file"))
      }
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, conf),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    asNullable(ParquetFileFormat.readSchemaFromFooter(
      new Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(session.sessionState.conf)))
      .asInstanceOf[StructType]
  }

  /** Spark's listing filter (`HadoopFSUtils.shouldFilterOutPathName`). */
  private def hiddenName(n: String): Boolean =
    ((n.startsWith("_") && !n.contains("=")) || n.startsWith(".") ||
      n.endsWith("._COPYING_")) &&
      !(n.startsWith("_common_metadata") || n.startsWith("_metadata"))

  /** A file relation's data schema is all-nullable (Spark's
    * `asNullable`, which is not public).
    */
  private def asNullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = asNullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(asNullable(a.elementType), true)
    case m: MapType =>
      MapType(asNullable(m.keyType), asNullable(m.valueType), true)
    case other => other
  }

  /** Timestamp normalization across TESTDATA generations. Older drops
    * wrote events.ts as parquet TIMESTAMP(NANOS) (vectorized reader
    * rejects it; with spark.sql.legacy.parquet.nanosAsLong it arrives as
    * epoch-nanos LongType — integer `div`, not /: ns epoch values exceed
    * double's 2^53 exact range, and floor-to-microsecond matches DuckDB's
    * ns→us truncation). Current drops write TIMESTAMP(MICROS) with
    * isAdjustedToUTC=false, which Spark 4 infers as TIMESTAMP_NTZ unless
    * the session disables inferTimestampNTZ — NTZ breaks watermarks,
    * unix_micros and Row.getTimestamp, so any NTZ column is cast to the
    * instant type here as a belt-and-braces fallback (UTC sessions make
    * the two readings value-identical, matching DuckDB's naive read).
    * Exposed so the readStream twin applies the identical rewrite.
    */
  def normalize(df: DataFrame): DataFrame = {
    val nanosFixed =
      df.schema.find(f => f.name == "ts" && f.dataType == LongType) match {
        case Some(_) =>
          df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case None => df
      }
    nanosFixed.schema.fields.filter(_.dataType == TimestampNTZType)
      .foldLeft(nanosFixed) { (d, f) =>
        d.withColumn(f.name, col(f.name).cast(TimestampType))
      }
  }

  /** Session config required to read all TESTDATA tables (nanos-timestamp
    * handling for `events`; micros-NTZ read as instants so watermarks and
    * epoch functions type-check). [[GraftSession]] applies it, alongside
    * spark.sql.session.timeZone=UTC, on every session this engine builds.
    */
  val requiredConf: Map[String, String] =
    Map("spark.sql.legacy.parquet.nanosAsLong" -> "true",
        "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false")
}
