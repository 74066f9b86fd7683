package graft.sources

import java.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.Text
import org.apache.hadoop.util.LineReader
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{MetadataColumn, SupportsMetadataColumns, SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownRequiredColumns, SupportsReportStatistics}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types.{BinaryType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Java-serializable Hadoop Configuration carrier: factories are
  * serialized to executors, so the driver's session conf (object-store
  * credentials, custom fs schemes) must ride along explicitly — a bare
  * `new Configuration()` on the executor would silently drop every
  * driver-side setting. Same write/readFields recipe Spark's own
  * (package-private) SerializableConfiguration uses.
  */
class SerializableHadoopConf(@transient private var conf: Configuration)
    extends Serializable {
  def value: Configuration = conf
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    conf.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    conf = new Configuration(false)
    conf.readFields(in)
  }
}

/** `graft-dfs`: a DataSourceV2 connector over the engine's chunk store —
  * the idiomatic Spark home for the reference DFS's READ semantics
  * (reference `Client/client_v1.py:172-175` reassembles chunks in
  * manifest order; `Master/masterhandler.py:29-31` maps a logical file to
  * its chunk list). The connector is the store's only writer
  * ([[graft.mr.MapReduce.write]] and `Cli -mr` output commit through it),
  * so it owns the format: visible chunks `part-%05d` whose NAME order is
  * the manifest order, each holding contiguous text lines, and the
  * temp-then-rename commit ([[DfsBatchWrite]]); no marker files. The
  * `value` type picks the framing: BINARY rows are written verbatim
  * (WRITE's source byte ranges), STRING rows as the line plus `\n`.
  *
  * Design for the cluster:
  *  - one InputPartition PER CHUNK — the reference's chunk-per-worker
  *    placement expressed as Spark's native parallelism unit;
  *  - manifest order exposed AS DATA (`chunk_id`, `line_no`): partitions
  *    are planned in chunk order and each chunk is read front to back, so
  *    narrow consumers (`collect`, `toLocalIterator`, a write) see
  *    manifest order as-is — [[graft.mr.MapReduce.read]] relies on exactly
  *    that — but no order survives a shuffle, so a consumer that shuffles
  *    and needs the order sorts on `chunk_id, line_no`;
  *  - column pruning pushed into the reader (a `count()` never
  *    materializes line text — `SupportsPushDownRequiredColumns`);
  *  - file-size statistics reported to the optimizer
  *    (`SupportsReportStatistics`), so AQE/broadcast planning sees the
  *    store's true size instead of defaulting to "huge".
  *
  * Registered as `spark.read.format("graft-dfs").load(dir)` via the
  * DataSourceRegister service file.
  */
class DfsDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-dfs"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    DfsTable.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val path = properties.get("path")
    require(path != null, "graft-dfs requires a store directory: .load(dir)")
    new DfsTable(path, StructType(schema.map(_.copy(nullable = false))))
  }

  // writes pass the frame's schema, so a binary `value` reaches the writer
  // uncast (made non-null: Spark rejects null rows); reads infer `Schema`
  override def supportsExternalMetadata(): Boolean = true
}

object DfsTable {
  /** Data schema: the line text. Placement (`chunk_id`, `line_no`) is
    * exposed as METADATA columns — Spark's own `_metadata` idiom — so
    * writes validate against `value` alone while reads can still
    * reconstruct manifest order by selecting the metadata by name.
    */
  val Schema: StructType = StructType(Seq(
    StructField("value", StringType, nullable = false)))

  /** The active session's Hadoop conf, read on the driver. */
  private[sources] def sessionConf: Configuration =
    SparkSession.active.sparkContext.hadoopConfiguration

  private[sources] def metaCol(colName: String, dt: org.apache.spark.sql.types.DataType)
    : MetadataColumn = new MetadataColumn {
    override def name(): String = colName
    override def dataType(): org.apache.spark.sql.types.DataType = dt
    override def isNullable: Boolean = false
    override def comment(): String =
      "graft-dfs placement: manifest order = (chunk_id, line_no)"
  }

  /** Visible files of the store dir in NAME order (= manifest order; the
    * `_`/`.`-prefixed temp and checksum files are metadata, exactly
    * Spark's own hidden-file convention). Returns (chunk id, path, bytes).
    */
  def chunks(dir: String, conf: Configuration): Seq[(Int, String, Long)] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    fs.listStatus(p).toSeq
      .filter(s => s.isFile && { val n = s.getPath.getName
        !n.startsWith("_") && !n.startsWith(".") })
      .sortBy(_.getPath.getName)
      .zipWithIndex
      .map { case (s, i) => (i, s.getPath.toString, s.getLen) }
  }
}

class DfsTable(path: String, dataSchema: StructType) extends Table
    with SupportsRead with SupportsWrite with SupportsMetadataColumns {
  override def name(): String = s"graft-dfs:$path"
  override def schema(): StructType = dataSchema
  override def metadataColumns(): Array[MetadataColumn] = Array(
    DfsTable.metaCol("chunk_id", IntegerType),
    DfsTable.metaCol("line_no", LongType))
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)
  override def newScanBuilder(options: CaseInsensitiveStringMap)
    : ScanBuilder = {
    require(dataSchema.map(f => f.name -> f.dataType) == Seq("value" -> StringType),
      s"graft-dfs reads a single `value` string column; got $dataSchema")
    new DfsScanBuilder(path)
  }
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new DfsWriteBuilder(path, info.schema())
}

class DfsScanBuilder(path: String) extends ScanBuilder
    with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters {
  private var required: StructType = DfsTable.Schema
  private var chunkFilters: Array[Filter] = Array.empty
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  /** Accept filters over the `chunk_id` placement column for CHUNK
    * PRUNING (the reference's chunk-lookup-by-manifest, expressed as
    * planning-time partition elimination). ALL filters are returned as
    * residual — Spark re-evaluates them post-scan, so pruning is purely
    * an optimization and unsupported shapes cost nothing.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    chunkFilters = filters.filter(_.references.sameElements(
      Array("chunk_id")))
    filters
  }
  override def pushedFilters(): Array[Filter] = chunkFilters
  override def build(): Scan = new DfsScan(path, required, chunkFilters)
}

class DfsScan(path: String, required: StructType,
    chunkFilters: Array[Filter] = Array.empty)
    extends Scan with Batch with SupportsReportStatistics {
  // listed ONCE on the driver with the session's Hadoop conf
  private lazy val files = DfsTable.chunks(path, DfsTable.sessionConf)

  /** Planning-time evaluation of a pushed chunk_id predicate against a
    * concrete chunk id — conservative: anything unrecognized keeps the
    * chunk (Spark re-applies every filter post-scan).
    */
  private def keeps(f: Filter, id: Int): Boolean = {
    import org.apache.spark.sql.sources._
    def v(x: Any): Option[Long] = x match {
      case n: Number => Some(n.longValue)
      case _ => None
    }
    f match {
      case EqualTo("chunk_id", x) => v(x).forall(id.toLong == _)
      case GreaterThan("chunk_id", x) => v(x).forall(id.toLong > _)
      case GreaterThanOrEqual("chunk_id", x) => v(x).forall(id.toLong >= _)
      case LessThan("chunk_id", x) => v(x).forall(id.toLong < _)
      case LessThanOrEqual("chunk_id", x) => v(x).forall(id.toLong <= _)
      case In("chunk_id", xs) => xs.flatMap(v).contains(id.toLong) ||
        xs.exists(v(_).isEmpty)
      case And(l, r) => keeps(l, id) && keeps(r, id)
      case Or(l, r) => keeps(l, id) || keeps(r, id)
      case _ => true
    }
  }

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String = s"graft-dfs $path"

  private lazy val kept =
    files.filter { case (id, _, _) => chunkFilters.forall(keeps(_, id)) }

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): util.OptionalLong =
      util.OptionalLong.of(kept.map(_._3).sum)
    override def numRows(): util.OptionalLong = util.OptionalLong.empty()
  }

  override def planInputPartitions(): Array[InputPartition] =
    kept.map { case (id, f, _) => DfsChunk(id, f): InputPartition }.toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new DfsReaderFactory(required, new SerializableHadoopConf(DfsTable.sessionConf))
}

/** One chunk = one Spark partition (serialized to executors). */
case class DfsChunk(chunkId: Int, file: String) extends InputPartition

/** WRITE side: each Spark partition becomes one chunk, partition order
  * = manifest order (the reference's chunk-per-worker WRITE,
  * `Client/client_v1.py:96-115`). Exactly-once via the standard
  * temp-then-rename commit: tasks write to
  * `_temp/<write>/part-<pid>-<task>`, only files named in COMMITTED task
  * messages are renamed to their final `part-%05d` slot (a
  * speculative/retried attempt's file is never referenced and is swept
  * with the write's staging dir), so readers see each chunk exactly
  * once. Each write stages in its own `_temp` subdirectory, so one
  * write's commit or abort never sweeps another's staged chunks. Input
  * must carry one `value` column, binary (written verbatim) or string
  * (a line plus `\n`); other columns are rejected up front, not
  * silently dropped.
  */
class DfsWriteBuilder(path: String, schema: StructType)
    extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def build(): Write = {
    require(schema.fieldNames.sameElements(Array("value"))
      && Seq(StringType, BinaryType).contains(schema.fields.head.dataType),
      s"graft-dfs writes a single `value` string or binary column; got $schema")
    val lines = schema.fields.head.dataType == StringType
    new Write { write =>
      override def toBatch: BatchWrite =
        new DfsBatchWrite(path, doTruncate, lines)
    }
  }
}

case class DfsCommit(partitionId: Int, tempFile: String)
  extends WriterCommitMessage

class DfsBatchWrite(dir: String, truncate: Boolean, lines: Boolean)
    extends BatchWrite {
  private val staging = new Path(dir, s"_temp/${java.util.UUID.randomUUID}")

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
    : DataWriterFactory = new DfsWriterFactory(staging.toString, lines,
      new SerializableHadoopConf(DfsTable.sessionConf))

  /** Drop this write's staging dir, then `_temp` once no write stages. */
  private def sweep(fs: org.apache.hadoop.fs.FileSystem): Unit = {
    fs.delete(staging, true)
    val temp = staging.getParent
    // a non-recursive delete refuses a dir another write staged in since
    try {
      if (fs.exists(temp) && fs.listStatus(temp).isEmpty)
        fs.delete(temp, false)
    } catch { case _: java.io.IOException => () }
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val conf = DfsTable.sessionConf
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    if (truncate && fs.exists(p))
      DfsTable.chunks(dir, conf).foreach { case (_, f, _) =>
        fs.delete(new Path(f), false) }
    fs.mkdirs(p)
    // append lands AFTER the existing manifest (new chunks extend the
    // file, the reference's MR-output append at masterhandler.py:171)
    val base = if (truncate) 0 else DfsTable.chunks(dir, conf).size
    messages.collect { case DfsCommit(pid, temp) =>
      val dest = new Path(p, f"part-${base + pid}%05d")
      // rename reports failure via its RETURN VALUE (name collision,
      // cross-fs temp) — ignoring it would silently drop a committed
      // chunk; fail the job instead of losing data
      if (!fs.rename(new Path(temp), dest))
        throw new java.io.IOException(
          s"graft-dfs commit: rename $temp -> $dest failed")
    }
    sweep(fs) // uncommitted attempts swept
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    sweep(staging.getFileSystem(DfsTable.sessionConf))
}

/** Tasks write into `staging`. `lines`: string rows, each written plus
  * `\n`; else binary rows, as is.
  */
class DfsWriterFactory(staging: String, lines: Boolean,
    conf: SerializableHadoopConf) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
    : DataWriter[InternalRow] = new DataWriter[InternalRow] {
    private val temp = new Path(staging, s"part-$partitionId-$taskId")
    private val fs = temp.getFileSystem(conf.value)
    private val out = new java.io.BufferedOutputStream(fs.create(temp, true))

    // raw bytes, not decoded: the reader passes them through the same way
    override def write(row: InternalRow): Unit =
      if (lines) { row.getUTF8String(0).writeTo(out); out.write('\n') }
      else out.write(row.getBinary(0))

    override def commit(): WriterCommitMessage = {
      out.close()
      DfsCommit(partitionId, temp.toString)
    }

    override def abort(): Unit = {
      out.close()
      fs.delete(temp, false)
    }

    override def close(): Unit = ()
  }
}

class DfsReaderFactory(required: StructType, conf: SerializableHadoopConf)
    extends PartitionReaderFactory {
  // the projection is fixed per scan: resolve each column's slot once
  private val valuePos = required.fieldNames.indexOf("value")
  private val lineNoPos = required.fieldNames.indexOf("line_no")
  private val chunkIdPos = required.fieldNames.indexOf("chunk_id")

  override def createReader(p: InputPartition)
    : PartitionReader[InternalRow] = {
    val chunk = p.asInstanceOf[DfsChunk]
    new PartitionReader[InternalRow] {
      private val path = new Path(chunk.file)
      // raw line bytes (\n, \r\n or \r framing), no decode/re-encode
      private val reader = new LineReader(
        path.getFileSystem(conf.value).open(path))
      private val text = new Text()
      private var lineNo = -1L
      // one row per reader, refilled in place: the unsafe projection Spark
      // plans over every row-based scan copies it before the next call
      private val row = new GenericInternalRow(required.length)
      if (chunkIdPos >= 0) row.setInt(chunkIdPos, chunk.chunkId)

      // readLine returns 0 only at end of stream (an empty line still
      // consumes its terminator)
      override def next(): Boolean = {
        lineNo += 1
        reader.readLine(text) > 0
      }

      override def get(): InternalRow = {
        if (valuePos >= 0) row.update(valuePos, UTF8String.fromBytes(text.copyBytes()))
        if (lineNoPos >= 0) row.setLong(lineNoPos, lineNo)
        row
      }

      override def close(): Unit = reader.close()
    }
  }
}
