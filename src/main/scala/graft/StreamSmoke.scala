package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

import graft.operators.Observability

/** Off-gate STREAMING scale smoke (round-10 verdict items 6 + 8): the
  * batch-shaped ScaleSmoke covers the corpus-scaling batch entries, but
  * the stream_* monitors had never run above sf0.1 and never as
  * MULTI-batch streams — their 100× risk is per-batch STATE growth,
  * which a one-batch MemoryStream replay cannot show. Here each monitor
  * is attached to a REAL file stream over the 10× corpus, split into 8
  * files and delivered one file per micro-batch (maxFilesPerTrigger=1),
  * and the per-batch state bytes from the progress feed are printed —
  * flat state across batches is the pass criterion (bounded by
  * windows × types × buckets for the drift monitors, by the delta for
  * the ingest paths), rising state is the alarm. Also runs the
  * DfsSource chunk-store write/read roundtrip at 10× and asserts the
  * chunk-id filter actually PRUNES input partitions (the DSv2 pushdown
  * path was previously spec-tested at toy scale only).
  *
  * Usage: runMain graft.StreamSmoke [dir]   (default /tmp/sfbig —
  * rebuild with tools/make_scale_corpus.py)
  */
object StreamSmoke {

  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/tmp/sfbig")
    val spark = GraftSession()
    import spark.implicits._

    val base = java.nio.file.Files
      .createTempDirectory("graft-streamsmoke").toString

    // staging: split a frame into 8 parquet files so the file source
    // delivers 8 micro-batches
    def stage(df: DataFrame, name: String): String = {
      val dir = s"$base/$name"
      df.repartition(8).write.mode("overwrite").parquet(dir)
      dir
    }
    def fileStream(dir: String): DataFrame =
      Tables.normalize(spark.readStream
        .schema(Tables.parquetSchema(spark, dir))
        .option("maxFilesPerTrigger", "1")
        .parquet(dir))

    // drain + report per-batch health, then stop. Returns max state
    // bytes so the summary can flag growth.
    def report(name: String, q: StreamingQuery): Unit = {
      q.processAllAvailable()
      val h = Observability.streamHealth(q)
      q.stop()
      h.foreach { b =>
        println(f"STREAMSMOKE $name%-22s batch=${b.batchId}%-3d " +
          f"rows=${b.inputRows}%-8d stateRows=${b.stateRows}%-8d " +
          f"stateBytes=${b.stateBytes}%-10d dropped=${b.droppedLate}")
      }
      val bytes = h.map(_.stateBytes).filter(_ > 0)
      if (bytes.size >= 2)
        println(f"STREAMSMOKE $name%-22s state first=${bytes.head} " +
          f"last=${bytes.last} ratio=${bytes.last.toDouble /
            math.max(bytes.head, 1)}%.2f")
    }

    // ---- drift monitors: 1M events, 8 micro-batches ----------------
    val ev = Tables(spark, d, "events")
    val evDir = stage(ev, "events")
    val model = graft.streaming.DriftMonitor.refModel(
      ev.filter(dayofmonth(col("ts")) <= 15)
        .select(col("event_type"), col("value")))
    def cur: DataFrame = fileStream(evDir)
      .filter(dayofmonth(col("ts")) > 15)
      .select(col("ts"), col("event_type"), col("value"))
    report("stream_psi_drift", graft.streaming.DriftMonitor
      .psi(cur, model, "5 days")
      .writeStream.format("memory").queryName("ss_psi")
      .outputMode(OutputMode.Complete()).start())
    report("stream_emd_drift", graft.streaming.DriftMonitor
      .emd(cur, model, "5 days")
      .writeStream.format("memory").queryName("ss_emd")
      .outputMode(OutputMode.Complete()).start())

    // ---- streaming dedup: 50k docs, odd parity arrives in 8 batches -
    val docs = Tables(spark, d, "documents")
    val seedDocs = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    val arrivals = docs.filter(pmod(col("doc_id"), lit(2)) =!= 0)
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    val arrDir = stage(arrivals, "docs")
    val ledger = s"$base/ledger"
    graft.streaming.StreamingDedup.seed(seedDocs, ledger)
    report("stream_dedup_inc", graft.streaming.StreamingDedup.attach(
      fileStream(arrDir), ledger, s"$base/sdd-ck"))
    println("STREAMSMOKE stream_dedup_inc ingested=" +
      graft.streaming.StreamingDedup.ingested(spark, ledger).count())

    // ---- ANN streaming ingest: 19k-vector index, 1k arrive in 8 ----
    val e = Tables(spark, d, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val held = e.filter(pmod(col("vec_id"), lit(20)) === 7)
    val annRoot = s"$base/ann"
    graft.queries.SimilarityQueries.persistAnnIndex(
      e.filter(pmod(col("vec_id"), lit(20)) =!= 7), annRoot)
    val annDir = stage(held, "vecs")
    report("sim_ann_stream_ingest", graft.streaming.AnnIngest.attach(
      fileStream(annDir), annRoot, s"$base/ann-ck"))
    println("STREAMSMOKE sim_ann_stream_ingest served=" +
      graft.streaming.AnnIngest.serveTopK(spark, annRoot).count())

    // ---- DfsSource chunk store at 10× (verdict item 8) -------------
    val store = s"$base/dfsstore"
    val t0 = System.nanoTime()
    docs.orderBy(col("doc_id")).select(col("text").as("value"))
      .write.format("graft-dfs").mode("overwrite").save(store)
    val wSecs = (System.nanoTime() - t0) / 1e9
    val full = spark.read.format("graft-dfs").load(store)
    val t1 = System.nanoTime()
    val nRows = full.count()
    val rSecs = (System.nanoTime() - t1) / 1e9
    val nChunks = full.select(col("chunk_id")).distinct().count()
    val pruned = full.filter(col("chunk_id") === 3)
    val prunedParts = pruned.rdd.getNumPartitions
    val fullParts = full.rdd.getNumPartitions
    println(f"STREAMSMOKE dfs_roundtrip write=$wSecs%.2fs read=$rSecs%.2fs " +
      s"rows=$nRows chunks=$nChunks scanParts=$fullParts " +
      s"prunedParts=$prunedParts")
    require(prunedParts == 1 && fullParts.toLong == nChunks,
      s"chunk pruning failed: expected 1 of $nChunks partitions, " +
        s"got $prunedParts of $fullParts")
    require(nRows == docs.count(), "roundtrip lost rows")

    spark.stop()
  }
}
