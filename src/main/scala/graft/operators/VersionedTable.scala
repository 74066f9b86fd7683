package graft.operators

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, lit, sum, when}

/** Minimal versioned-table layout: snapshot isolation + time travel on
  * plain parquet, the transaction-log idea (Delta/Iceberg's core) cut to
  * its essentials:
  *
  * ```
  * root/
  *   data/v=N/part-*.parquet   one immutable directory per version
  *   _commits/N                commit marker — a version EXISTS only
  *                             once its marker does
  * ```
  *
  * `write` stages the new snapshot directory FIRST and creates the
  * commit marker LAST with `create(overwrite = false)` — the atomic
  * claim. A crashed writer leaves an orphan data directory that no
  * reader ever sees (readers resolve versions from markers only), and
  * two racing writers targeting the same version cannot both win the
  * marker. `read` with no version resolves the newest committed one;
  * `read(v)` is time travel. The same recipe IdempotentSink uses for
  * streaming batches, lifted to table snapshots — and on a real
  * cluster the Path API targets HDFS/S3A unchanged.
  *
  * A version is either FULL (its data directory is the whole table) or
  * a FRAGMENT ([[writeFragment]]: the directory holds only a delta;
  * the version's logical content = newest full version below it ∪ the
  * fragments in between). Fragments make continuous appends O(delta)
  * instead of O(table); [[compact]] folds a chain back into one full
  * snapshot. The flag rides in the commit marker (empty = full, one
  * byte = fragment) so it commits atomically with the version and
  * every pre-existing table reads as all-full.
  *
  * This intentionally stops short of a full log (no schema evolution
  * journal, no compaction of manifests): VersionedTableSpec pins the
  * contract that matters — isolation, time travel, atomicity.
  */
object VersionedTable {

  private def fs(spark: SparkSession, root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The commit markers, ascending by version (empty for a fresh root):
    * one listing of `_commits`, from which every version view derives.
    */
  private def commits(spark: SparkSession, root: String)
      : Seq[(Long, FileStatus)] = {
    val dir = new Path(root, "_commits")
    val f = fs(spark, root)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).map(s => (s.getPath.getName.toLong, s))
      .sortBy(_._1).toSeq
  }

  /** Committed version numbers, ascending (empty for a fresh root). */
  def versions(spark: SparkSession, root: String): Seq[Long] =
    commits(spark, root).map(_._1)

  /** Committed versions with their fragment flag, ascending. A FULL
    * version's marker is an empty file (the original layout — every
    * pre-fragment table reads as all-full); a FRAGMENT marker carries
    * one byte. The flag lives in the marker itself so it is committed
    * atomically with the version.
    */
  def versionMeta(spark: SparkSession, root: String): Seq[(Long, Boolean)] =
    commits(spark, root).map { case (v, s) => (v, s.getLen > 0L) }

  /** Commit wall-clock instants (marker modification times), ascending
    * by version: (version, epochMillis). The marker IS the commit, so
    * its mtime is the commit time — no separate metadata write.
    */
  def versionTimes(spark: SparkSession, root: String): Seq[(Long, Long)] =
    commits(spark, root).map { case (v, s) => (v, s.getModificationTime) }

  /** Timestamp time travel (Delta's `AS OF TIMESTAMP` rule): the newest
    * version committed at or before `tsMillis`. Versions are monotonic,
    * so among time-eligible commits the max VERSION wins (robust to
    * sub-granularity mtime ties). Fails loudly when the table has no
    * commit that old — same contract as reading a missing version.
    */
  def readAsOf(spark: SparkSession, root: String, tsMillis: Long)
      : DataFrame = {
    val eligible = versionTimes(spark, root).filter(_._2 <= tsMillis)
    require(eligible.nonEmpty,
      s"no version of $root committed at or before $tsMillis")
    read(spark, root, Some(eligible.map(_._1).max))
  }

  private def commit(df: DataFrame, root: String,
      fragment: Boolean): Long = {
    val spark = df.sparkSession
    val next = versions(spark, root).lastOption.getOrElse(0L) + 1L
    val dataDir = new Path(root, s"data/v=$next")
    df.write.mode("overwrite").parquet(dataDir.toString)
    val marker = new Path(root, s"_commits/$next")
    val f = fs(spark, root)
    f.mkdirs(marker.getParent)
    // atomic claim: create(overwrite = false) throws if the version was
    // committed concurrently — the staged directory is then abandoned
    val out = f.create(marker, false)
    if (fragment) out.write('F')
    out.close()
    next
  }

  /** Write `df` as the next FULL version; returns the committed version. */
  def write(df: DataFrame, root: String): Long = commit(df, root, false)

  /** Commit an existing version's data files AS the next FULL version
    * by byte copy — no decode/re-encode of the rows (round 13; the
    * delete fast path's "untouched part" move). Same crash invariant
    * as [[write]]: the staged directory is invisible until the marker
    * lands. Returns the committed version.
    */
  def commitCopy(spark: SparkSession, root: String, srcVersion: Long)
      : Long = {
    require(versions(spark, root).contains(srcVersion),
      s"commitCopy: version $srcVersion not committed under $root")
    val next = versions(spark, root).last + 1L
    val f = fs(spark, root)
    val src = new Path(root, s"data/v=$srcVersion")
    val dst = new Path(root, s"data/v=$next")
    org.apache.hadoop.fs.FileUtil.copy(f, src, f, dst,
      false /* deleteSource */, spark.sparkContext.hadoopConfiguration)
    val marker = new Path(root, s"_commits/$next")
    f.mkdirs(marker.getParent)
    f.create(marker, false).close()
    next
  }

  /** [[write]] guarded by CHECK constraints (the Delta/warehouse
    * `ALTER TABLE ADD CONSTRAINT CHECK` verb): every named predicate
    * must hold on EVERY row or the commit is refused — validation runs
    * BEFORE the marker is created, so a refused write leaves at most an
    * invisible orphan under `data/` (the same crash invariant the
    * write path already guarantees) and readers never observe a
    * constraint-violating snapshot. One validation pass counts all
    * violations together (one aggregate over the staged frame, not one
    * scan per constraint); the error reports per-constraint counts.
    * NULL predicate results PASS (SQL CHECK's UNKNOWN-is-satisfied
    * rule, as Delta implements it) — guard nullable columns with an
    * explicit IS NOT NULL constraint.
    */
  def writeChecked(df: DataFrame, root: String,
      constraints: Seq[(String, org.apache.spark.sql.Column)]): Long = {
    require(constraints.nonEmpty, "writeChecked needs ≥ 1 constraint")
    // coalesce: sum() over ZERO rows is NULL — an empty commit satisfies
    // every constraint vacuously and must land, not NPE on getLong.
    val counts = df.select(constraints.map { case (n, c) =>
      coalesce(sum(when(c.isNull || c, 0L).otherwise(1L)), lit(0L)).as(n)
    }: _*).collect().head
    val bad = constraints.zipWithIndex.collect {
      case ((n, _), i) if counts.getLong(i) > 0 => s"$n=${counts.getLong(i)}"
    }
    require(bad.isEmpty,
      s"constraint violations, commit refused: ${bad.mkString(", ")}")
    commit(df, root, false)
  }

  /** Commit `df` as the next version as a DELTA FRAGMENT: the version's
    * data directory holds ONLY these rows, and the version's logical
    * content is its base (the newest full version below it) unioned
    * with every fragment in between — O(delta) bytes written per
    * append instead of O(table). The append/compact split every log-
    * structured store makes (LSM memtable flush, Iceberg append
    * snapshot, FAISS add()): appends are cheap, [[compact]] folds the
    * chain back into one full snapshot when it grows. Requires a full
    * base version to already exist. No key semantics here — a caller
    * needing upsert shading dedups across [[readParts]] (the ANN index
    * does, delta-bounded).
    */
  def writeFragment(df: DataFrame, root: String): Long = {
    require(versionMeta(df.sparkSession, root).exists(!_._2),
      s"writeFragment needs an existing full base version under $root")
    commit(df, root, true)
  }

  /** The resolved chain of a version: its base full snapshot plus the
    * fragment versions layered on top, each as its own DataFrame.
    * `(baseVersion, baseDf, Seq((fragVersion, fragDf)) ascending)`.
    */
  def readParts(spark: SparkSession, root: String,
      version: Option[Long] = None)
      : (Long, DataFrame, Seq[(Long, DataFrame)]) = {
    val meta = versionMeta(spark, root)
    require(meta.nonEmpty, s"no committed versions under $root")
    val v = version match {
      case Some(x) =>
        require(meta.exists(_._1 == x),
          s"version $x not committed (have ${meta.map(_._1).mkString(",")})")
        x
      case None => meta.last._1
    }
    val fulls = meta.filter { case (mv, frag) => !frag && mv <= v }
    require(fulls.nonEmpty, s"version $v has no full base under $root")
    val base = fulls.last._1
    def dataOf(mv: Long) =
      spark.read.parquet(new Path(root, s"data/v=$mv").toString)
    val frags = meta.collect {
      case (mv, true) if mv > base && mv <= v => (mv, dataOf(mv))
    }
    (base, dataOf(base), frags)
  }

  /** Fold the current chain (base + fragments) into ONE new full
    * version — the compaction verb for fragment appends. Subsequent
    * reads resolve to the new base alone; pre-compaction versions stay
    * time-travelable until [[expire]]d. Returns the committed version.
    */
  def compact(spark: SparkSession, root: String): Long =
    write(read(spark, root), root)

  /** MERGE (upsert) into the newest snapshot, committing the result as
    * the NEXT version — the table-format `MERGE INTO ... WHEN MATCHED
    * UPDATE WHEN NOT MATCHED INSERT` cut to the versioned-layout
    * primitives: matched keys are replaced by their update row,
    * unmatched update rows insert, untouched rows carry over. One
    * anti-join + union (the q105 upsert shape) + one snapshot write —
    * readers keep snapshot isolation (pre-merge versions stay
    * readable), and a crashed merge leaves an orphan directory no
    * reader sees. Returns the committed version.
    */
  def merge(spark: SparkSession, root: String, updates: DataFrame,
      key: String): Long = {
    // MERGE INTO rejects multiple matches per target row; without this
    // guard duplicate update keys would silently commit duplicate rows
    // (the anti-join removes the one old row, the union keeps N new
    // ones). One bounded-by-updates aggregate, checked pre-commit.
    import org.apache.spark.sql.functions.{col, count, lit}
    val dup = updates.groupBy(col(key)).agg(count(lit(1)).as("__n"))
      .filter(col("__n") > 1).limit(1).collect()
    require(dup.isEmpty,
      s"merge: duplicate update rows for $key=${dup.headOption.map(_.get(0))
        .getOrElse("")} — MERGE requires at most one update per target key")
    val cur = read(spark, root)
    write(cur.join(updates.select(key), Seq(key), "left_anti")
      .unionByName(updates), root)
  }

  /** DELETE by key set, committed as the next version — the
    * right-to-be-forgotten primitive: one anti-join against the newest
    * snapshot, snapshot isolation preserved (pre-delete versions stay
    * readable — which is exactly why [[expire]] exists: compliance is
    * delete + expire, not delete alone). Returns the committed version.
    */
  def delete(spark: SparkSession, root: String, keys: DataFrame,
      key: String): Long = {
    val cur = read(spark, root)
    write(cur.join(keys.select(key), Seq(key), "left_anti"), root)
  }

  /** PHYSICALLY remove every committed version below `keepFrom` —
    * the vacuum/retention verb: time travel ends at `keepFrom`, and the
    * deleted rows' bytes are actually gone (a GDPR delete is not done
    * while an old snapshot still serves them). Markers are removed
    * FIRST, then data directories — a crash between the two leaves an
    * orphan directory no reader resolves (the write-path invariant,
    * mirrored). Refuses to expire everything; returns the versions
    * removed.
    */
  def expire(spark: SparkSession, root: String, keepFrom: Long): Seq[Long] = {
    val meta = versionMeta(spark, root)
    val committed = meta.map(_._1)
    val doomed = committed.filter(_ < keepFrom)
    require(doomed.size < committed.size,
      s"expire($keepFrom) would remove every committed version")
    // a surviving fragment resolves against the newest FULL version at
    // or below it — that base must survive too, or reads break. Callers
    // compact first, then expire the pre-compaction chain.
    meta.filter { case (v, frag) => frag && v >= keepFrom }.foreach {
      case (v, _) =>
        val base = meta.filter { case (mv, frag) => !frag && mv <= v }
          .map(_._1).lastOption
        require(base.exists(_ >= keepFrom),
          s"expire($keepFrom) would remove the full base of surviving " +
            s"fragment v=$v — compact() first")
    }
    val f = fs(spark, root)
    doomed.foreach { v =>
      f.delete(new Path(root, s"_commits/$v"), false)
      f.delete(new Path(root, s"data/v=$v"), true)
    }
    doomed
  }

  /** VACUUM the table's ORPHANS — data directories with NO commit
    * marker (a crashed/refused write's invisible residue; the commit
    * protocol guarantees readers never see them, but their bytes stay
    * on disk forever without this). Only orphans whose newest file is
    * older than `olderThanMs` are removed: an IN-FLIGHT write is also
    * marker-less, and the age horizon is what keeps VACUUM safe to run
    * next to live writers (Delta's VACUUM retention rule). Committed
    * versions are never touched — that is [[expire]]'s job. Returns the
    * removed version directories' numbers.
    */
  def vacuumOrphans(spark: SparkSession, root: String,
      olderThanMs: Long): Seq[Long] = {
    val f = fs(spark, root)
    val dataDir = new Path(root, "data")
    if (!f.exists(dataDir)) return Seq.empty
    val committed = versions(spark, root).toSet
    val horizon = System.currentTimeMillis() - olderThanMs
    def newestMtime(p: Path): Long = {
      val st = f.getFileStatus(p)
      if (!st.isDirectory) st.getModificationTime
      else (st.getModificationTime +:
        f.listStatus(p).map(s => newestMtime(s.getPath)).toSeq).max
    }
    f.listStatus(dataDir).toSeq
      .map(_.getPath)
      .filter(_.getName.startsWith("v="))
      .map(p => (p, p.getName.stripPrefix("v=").toLong))
      .filter { case (_, v) => !committed.contains(v) }
      .filter { case (p, _) => newestMtime(p) < horizon }
      .map { case (p, v) => f.delete(p, true); v }
      .sorted
  }

  /** CHANGELOG between two committed versions — the inverse of CDC
    * apply (q123): keys only in `to` emit I, keys only in `from` emit
    * D, keys in both whose non-key content differs emit U (carrying the
    * `to` row; D rows carry NULL content). One co-partitioned
    * full-outer join on the key with 16-byte content hashes — the q75
    * snapshot-diff shape over real snapshot versions. Invariant
    * (spec-pinned): applying the changelog to `from` reproduces `to`
    * exactly — so a versioned table can FEED a Debezium-style pipeline,
    * not just consume one.
    */
  def changelog(spark: SparkSession, root: String, from: Long, to: Long,
      key: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val a = read(spark, root, Some(from))
    val b = read(spark, root, Some(to))
    val valCols = a.columns.filter(_ != key).sorted.toSeq
    require(valCols == b.columns.filter(_ != key).sorted.toSeq,
      "changelog requires identical schemas")
    def h(df: DataFrame) = md5(to_json(struct(valCols.map(col): _*)))
    val av = a.select(col(key).as("__cl_k"), h(a).as("__cl_ha"))
    val bv = b.select((col(key).as("__cl_k") +:
      valCols.map(col)) :+ h(b).as("__cl_hb"): _*)
    av.join(bv, Seq("__cl_k"), "full_outer")
      .withColumn("op",
        when(col("__cl_ha").isNull, lit("I"))
          .when(col("__cl_hb").isNull, lit("D"))
          .when(col("__cl_ha") =!= col("__cl_hb"), lit("U")))
      .filter(col("op").isNotNull)
      .select((col("__cl_k").as(key) +: valCols.map(col)) :+ col("op"): _*)
  }

  /** Read a committed version's LOGICAL content (default: the newest):
    * the version's base full snapshot unioned with any fragment
    * versions layered on top of it. A table with no fragments reads
    * exactly its one snapshot directory, as before.
    */
  def read(spark: SparkSession, root: String,
      version: Option[Long] = None): DataFrame = {
    val (_, base, frags) = readParts(spark, root, version)
    frags.map(_._2).foldLeft(base)(_ unionByName _)
  }
}
