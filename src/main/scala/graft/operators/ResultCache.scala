package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Content-addressed QUERY RESULT CACHE — the warehouse result-reuse
  * verb (Snowflake's persisted query results, BigQuery's cached
  * results): a repeated query is served from its stored result instead
  * of recomputing the plan, and any change to the inputs invalidates
  * the entry automatically because it changes the key.
  *
  * The key is a digest of
  *  - the CANONICALIZED optimized logical plan (exprIds normalized, so
  *    two syntactically different but plan-identical queries share an
  *    entry), and
  *  - an input fingerprint: every input file's (path, length, mtime).
  *    A rewritten/appended input changes the fingerprint → new key →
  *    recompute; the stale entry is simply never addressed again (GC
  *    by prefix age is a directory sweep, not implemented here).
  *    At production scale key on table SNAPSHOT VERSIONS (one number
  *    per table — the VersionedTable lineage) instead of file listings;
  *    the file form is the general fallback for plain directories.
  *
  * Storage reuses the commit-marker recipe ([[VersionedTable]]) with a
  * write-then-claim publish: the result parquet is staged under a
  * UNIQUE temp dir (`data/.<key>.<uuid>`), RENAMED into `data/<key>`,
  * and only then is the marker `_commits/<key>` created with
  * `overwrite = false`. When the destination already exists, rename on
  * BOTH local FS and HDFS moves the source INTO it as a nested child
  * (POSIX `mv` semantics) rather than replacing it — so a racing loser
  * can never clobber a winner's published files; its staging copy lands
  * dot-hidden inside the winner's dir and is swept (on the publish path
  * immediately, and on every later HIT for the crashed-loser case). A
  * crashed writer leaves only invisible temp/stray orphans. Writing
  * `data/<key>` in place with mode(overwrite) would let the loser
  * delete the winner's files AFTER the winner's marker became visible —
  * readers could then hit missing/partial parquet.
  *
  * Non-deterministic plans (rand(), current_timestamp()) are REFUSED:
  * caching one would freeze a value the query contract says varies.
  * ResultCacheSpec pins: second call serves without re-executing the
  * plan (side-effect counter), input mutation invalidates, equivalent
  * plans share an entry, non-deterministic plans are rejected, parquet
  * round-trip preserves the result.
  */
object ResultCache {

  private def fs(spark: SparkSession, root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The cache key for `df` under its current inputs. */
  def keyOf(df: DataFrame): String = {
    val plan = df.queryExecution.optimizedPlan
    require(plan.find(p => p.expressions.exists(
        e => e.find(!_.deterministic).isDefined)).isEmpty,
      "refusing to cache a non-deterministic plan")
    val spark = df.sparkSession
    val f = fs(spark, "/")
    val inputs = df.inputFiles.sorted.map { p =>
      val st = f.getFileStatus(new Path(p))
      s"$p:${st.getLen}:${st.getModificationTime}"
    }
    java.security.MessageDigest.getInstance("MD5")
      .digest((plan.canonicalized.toString + inputs.mkString("\n"))
        .getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  /** The production-scale key: canonicalized plan digest + one NUMBER
    * per input [[VersionedTable]] (its latest committed version) —
    * O(tables) instead of O(files), no file-listing RPC storm at 100 TB,
    * and immune to physical rewrites that preserve the logical snapshot
    * (compaction commits a NEW version, so it correctly invalidates
    * only when the table actually moved). The caller names the
    * VersionedTable roots the plan reads; any append/merge/delete bumps
    * that table's version and re-keys the entry.
    */
  def keyOfVersioned(df: DataFrame, tableRoots: Seq[String]): String = {
    val plan = df.queryExecution.optimizedPlan
    require(plan.find(p => p.expressions.exists(
        e => e.find(!_.deterministic).isDefined)).isEmpty,
      "refusing to cache a non-deterministic plan")
    val spark = df.sparkSession
    val vers = tableRoots.sorted.map { r =>
      val v = VersionedTable.versions(spark, r)
      require(v.nonEmpty, s"no committed version under $r")
      s"$r@${v.last}"
    }
    java.security.MessageDigest.getInstance("MD5")
      .digest((plan.canonicalized.toString + vers.mkString("\n"))
        .getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  /** [[cached]] with the snapshot-version key — see [[keyOfVersioned]]. */
  def cachedVersioned(df: DataFrame, root: String,
      tableRoots: Seq[String]): (DataFrame, Boolean) =
    serve(df, root, keyOfVersioned(df, tableRoots))

  /** Serve `df`'s result from the cache under `root`, computing and
    * committing it on the first miss. Returns (result, hit?).
    */
  def cached(df: DataFrame, root: String): (DataFrame, Boolean) =
    serve(df, root, keyOf(df))

  private def serve(df: DataFrame, root: String, key: String)
    : (DataFrame, Boolean) = {
    val spark = df.sparkSession
    val f = fs(spark, root)
    val marker = new Path(root, s"_commits/$key")
    val dataDir = new Path(root, s"data/$key")
    // dot-hidden stray staging dirs nested under the published result
    // (a loser that crashed between its nested rename and its own
    // sweep) are invisible to the parquet reader but never reclaimed
    // by the publish path once the marker exists — sweep them on hits
    def sweepStrays(): Unit =
      if (f.exists(dataDir))
        f.listStatus(dataDir).filter(_.getPath.getName.startsWith("."))
          .filter(_.isDirectory) // keep _SUCCESS-style dot/underscore FILES
          .foreach(s => f.delete(s.getPath, true))
    if (f.exists(marker)) {
      sweepStrays()
      (graft.Tables.readFlat(spark, dataDir.toString), true)
    } else {
      // Write-then-claim: stage under a unique temp dir, then rename into
      // place. With an existing destination, rename (local FS and HDFS
      // alike — POSIX mv semantics) nests the source INSIDE it instead of
      // replacing it, so a racing loser cannot delete or rewrite files a
      // winner already published — it drops its temp/stray copy and
      // serves the winner's (identical) result.
      val tmp = new Path(
        root, s"data/.${key}.${java.util.UUID.randomUUID().toString}")
      df.write.mode("overwrite").parquet(tmp.toString)
      if (f.exists(dataDir) || !f.rename(tmp, dataDir))
        f.delete(tmp, true) // racer won the dir; drop our staging copy
      // if a racer's rename landed between the exists check and ours,
      // our copy nested into the winner's dir — sweep it (and any other
      // crashed racer's stray while here)
      sweepStrays()
      f.mkdirs(marker.getParent)
      try { f.create(marker, false).close() }
      catch { case _: java.io.IOException => () } // racer won; same bytes
      (graft.Tables.readFlat(spark, dataDir.toString), false)
    }
  }
}
