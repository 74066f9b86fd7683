package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.vectors._

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (SURVEY.md §2.11 [EXT]).
  *
  *  - q25: brute-force exact cosine top-k — the correctness baseline.
  *    Query set broadcasts against the corpus; per-query top-k via
  *    window. At 100 TB the corpus side stays partitioned and only the
  *    (small) query set is replicated — this shape scales to any corpus
  *    size, it is the k·|Q| per-partition heap that matters.
  *  - sim_ann_lsh: random-hyperplane LSH variant — the scale path. Each
  *    vector gets a B-bit bucket signature (sign of dot with B fixed
  *    pseudo-random planes); candidates are corpus vectors in any of the
  *    query's multi-probe buckets (hamming ≤ h flips of its own bucket),
  *    ranked by exact cosine. B and h are parameters with the scaling
  *    law documented on annLsh. Approximate recall → no SQL oracle
  *    (driver records rows-only); AnnSpec sweeps B × h, pins the default
  *    setting's recall ≥ 0.6 vs q25 (this corpus's "neighbors" sit at
  *    cosine ≈ 0.4, i.e. ~65°, so per-plane agreement is only ~0.64 —
  *    recall is bounded by the data's geometry, not the implementation).
  */
object SimilarityQueries {

  private val K = 10
  private val NumQueries = 20

  /** LSH defaults for the driver's sim_ann_lsh entry — the best sweep
    * setting at this corpus scale (500 vectors): AnnSpec sweeps
    * planes × probe radius and pins this one's recall.
    */
  private val NumPlanes = 4
  private val ProbeHamming = 2

  /** Fixed pseudo-random ±1 hyperplanes, seeded — deterministic across
    * runs and engines (seed 42, dim 64).
    */
  private def planes(dim: Int, numPlanes: Int): Seq[Array[Float]] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(numPlanes)(Array.fill(dim)(if (rnd.nextBoolean()) 1.0f else -1.0f))
  }

  private def bucketCol(emb: Column, dim: Int, numPlanes: Int): Column =
    planes(dim, numPlanes).zipWithIndex.map { case (p, i) =>
      when(vec_dot(emb, typedlit(p.toSeq)) > 0, lit(1 << i)).otherwise(lit(0))
    }.reduce(_ + _)

  /** Random-hyperplane LSH ANN, parameterized by plane count and
    * multi-probe radius.
    *
    * Scaling law (how to pick `numPlanes` as the corpus grows): expected
    * bucket population is n / 2^numPlanes, so plane count must grow as
    * log₂(n / targetBucketSize) — at n = 500 (this test corpus) 4 planes
    * give ~31 vectors/bucket; at n = 10⁹ the same bucket size needs ~25
    * planes. Recall: two vectors at angle θ agree on one plane with
    * probability 1 − θ/π, land in the same bucket with (1 − θ/π)^B, and
    * hamming-h probing adds the binomial tail Σ_{i≤h} C(B,i)·p^(B−i)·
    * (1−p)^i — so as B grows, raise `probeHamming` (candidates probed:
    * Σ_{i≤h} C(B,i) buckets) to hold recall. Candidate work per query is
    * (buckets probed) × (bucket population): the knobs trade recall
    * against exactly that product.
    *
    * Join shape: corpus stays partitioned; only the (tiny) exploded
    * query×probe side broadcasts. Each candidate's bucket matches at most
    * one probe mask (masks are distinct), so no dedup shuffle is needed
    * between the join and the top-k window.
    */
  private[graft] def annLsh(e: DataFrame, numPlanes: Int, probeHamming: Int,
      numQueries: Int = NumQueries, k: Int = K): DataFrame = {
    val dim = 64
    val withBucket =
      e.withColumn("bucket", bucketCol(col("embedding"), dim, numPlanes))
    val masks = (0 until (1 << numPlanes))
      .filter(m => Integer.bitCount(m) <= probeHamming)
    val q = withBucket.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
        explode(array(masks.map(m =>
          col("bucket").bitwiseXOR(lit(m))): _*)).as("qb"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    withBucket.join(broadcast(q),
        col("bucket") === col("qb") && col("vec_id") =!= col("q_id"))
      .withColumn("sim", vec_cosine(col("qe"), col("embedding")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("rk"),
        round(col("sim"), 6).as("sim"))
  }

  /** Per-subspace PQ codebooks (M × Ks × subDim): seeds from the lowest
    * vec_ids' sub-slices + `iters` Lloyd rounds (argmax-dot assignment,
    * per-dimension mean update — each round is one Spark job over the
    * SUB-slice, same discipline as [[trainCentroids]]). Driver-side KB
    * metadata: 8 × 16 × 8 floats = 4 KB.
    */
  private[graft] def trainPqCodebooks(e: DataFrame, m: Int, subDim: Int,
      ks: Int, iters: Int = 1): Array[Array[Array[Float]]] = {
    // seeds: one collect of the lowest-ks full vectors, sliced locally
    val seedRows = e.filter(col("vec_id") < ks).orderBy(col("vec_id"))
      .collect()
      .map(_.getAs[scala.collection.Seq[Float]]("embedding").toArray)
    var cbs: Array[Array[Array[Float]]] = Array.tabulate(m)(ms =>
      seedRows.map(v => v.slice(ms * subDim, (ms + 1) * subDim)))
    (1 to iters).foreach { _ =>
      // ONE job updates ALL m codebooks: every row contributes one
      // (subspace, assigned-code, position, value) quadruple per
      // subspace dimension, folded by a single grouped mean
      val perSub = array((0 until m).map { ms =>
        val sub = expr(s"slice(embedding, ${ms * subDim + 1}, $subDim)")
        val sims = array(cbs(ms).zipWithIndex.map { case (c, i) =>
          struct(vec_dot(sub, typedlit(c.toSeq)).as("sim"),
            lit(i).as("idx"))
        }: _*)
        struct(lit(ms).as("ms"), array_max(sims).getField("idx").as("c"),
          sub.as("sub"))
      }: _*)
      val means = e.select(explode(perSub).as("a"))
        .select(col("a.ms").as("ms"), col("a.c").as("c"),
          posexplode(col("a.sub")))
        .groupBy(col("ms"), col("c"), col("pos"))
        .agg(avg(col("col")).as("m"))
        .groupBy(col("ms"), col("c"))
        .agg(expr("transform(sort_array(collect_list(struct(pos, m)))," +
          " x -> CAST(x.m AS FLOAT))").as("centroid"))
        .collect().map(r => (r.getInt(0), r.getInt(1)) ->
          r.getAs[scala.collection.Seq[Float]]("centroid").toArray).toMap
      cbs = Array.tabulate(m)(ms => cbs(ms).indices.map(i =>
        means.getOrElse((ms, i), cbs(ms)(i))).toArray)
    }
    cbs
  }

  // IVF / PQ hyper-parameters (shared by build, persist, and serve)
  private[graft] val IvfC = 16
  private[graft] val IvfProbes = 4
  private[graft] val IvfLloydIters = 2
  private[graft] val PqM = 8
  private[graft] val PqSubDim = 8
  private[graft] val PqKs = 16

  /** Driver-side index metadata: coarse IVF centroids + per-subspace PQ
    * codebooks — the KB-scale half of the index; the corpus-scale half
    * is the encoded (vec_id, c, codes, embedding) table.
    */
  private[graft] case class AnnArtifacts(coarse: Array[Array[Float]],
      cbs: Array[Array[Array[Float]]])

  /** PQ encode expression: per subspace, argmax-dot sub-centroid index —
    * a narrow expression pass; the codes column is 8 small ints/vector.
    */
  private def pqCodesCol(cbs: Array[Array[Array[Float]]]): Column =
    array((0 until PqM).map { ms =>
      val sims = array(cbs(ms).zipWithIndex.map { case (c, i) =>
        struct(vec_dot(
          expr(s"slice(embedding, ${ms * PqSubDim + 1}, $PqSubDim)"),
          typedlit(c.toSeq)).as("sim"), lit(i).as("idx"))
      }: _*)
      array_max(sims).getField("idx")
    }: _*)

  /** Train quantizers and encode the corpus: the BUILD half of the ANN
    * index, shared by the in-query path and [[persistAnnIndex]].
    */
  private[graft] def buildAnnIndex(e: DataFrame)
      : (DataFrame, AnnArtifacts) = {
    val coarse = trainCentroids(e, IvfC, IvfLloydIters)
    val cbs = trainPqCodebooks(e, PqM, PqSubDim, PqKs)
    (assignCluster(e, coarse).withColumn("codes", pqCodesCol(cbs)),
      AnnArtifacts(coarse, cbs))
  }

  /** Persist the index as VersionedTable snapshots under `root` —
    * codebooks are built ONCE and served MANY times (the FAISS
    * lifecycle), instead of retraining inside every query: `index/`
    * holds the encoded corpus partitioned by nothing but its snapshot
    * version (at production scale, cluster-partition it by `c` so a
    * probe prunes files); `coarse/` and `cb/` hold the KB metadata.
    * Each rebuild commits a NEW version — time travel gives rollback to
    * a previous index generation for free.
    */
  private[graft] def persistAnnIndex(e: DataFrame, root: String): Long = {
    val (indexed, arts) = buildAnnIndex(e)
    val v = graft.operators.VersionedTable.write(
      indexed.select(col("vec_id"), col("c"), col("codes"),
        col("embedding")), s"$root/index")
    writeArtifacts(e.sparkSession, arts, root)
    v
  }

  /** Re-commit the KB metadata tables UNCHANGED as their next snapshot
    * versions — version alignment for the append/compact/delete paths,
    * where the quantizers by definition do not change. A byte copy of
    * each table's newest committed files (commitCopy): zero Spark jobs
    * where [[writeArtifacts]] paid a driver-toDF + parquet re-encode
    * job per table per index commit (round 13 — job-count cut inside
    * the invocation; the committed bytes are identical either way).
    */
  private def recommitArtifacts(spark: SparkSession, root: String): Unit =
    Seq("coarse", "cb").foreach { t =>
      val tr = s"$root/$t"
      graft.operators.VersionedTable.commitCopy(spark, tr,
        graft.operators.VersionedTable.versions(spark, tr).last)
    }

  /** Commit the KB metadata tables (coarse centroids, PQ codebooks) as
    * their next snapshot versions.
    */
  private def writeArtifacts(spark: SparkSession, arts: AnnArtifacts,
      root: String): Unit = {
    import spark.implicits._
    // coalesce(1): KB metadata tables — one file per version at any
    // scale, not defaultParallelism near-empty parts (guide §6)
    graft.operators.VersionedTable.write(
      arts.coarse.zipWithIndex.toSeq
        .map { case (vals, i) => (i, vals.toSeq) }.toDF("idx", "vals")
        .coalesce(1),
      s"$root/coarse")
    graft.operators.VersionedTable.write(
      (for (ms <- arts.cbs.indices; c <- arts.cbs(ms).indices)
        yield (ms, c, arts.cbs(ms)(c).toSeq)).toDF("ms", "code", "vals")
        .coalesce(1),
      s"$root/cb")
    ()
  }

  /** Encode vectors against EXISTING artifacts (coarse assignment + PQ
    * codes) — the serve-time half of the index, reused by
    * [[appendToAnnIndex]].
    */
  private[graft] def encodeWith(e: DataFrame, arts: AnnArtifacts)
      : DataFrame =
    assignCluster(e, arts.coarse).withColumn("codes", pqCodesCol(arts.cbs))
      .select(col("vec_id"), col("c"), col("codes"), col("embedding"))

  /** INCREMENTAL index update: encode `newVecs` with the index's
    * existing quantizers (no retraining — the standard serving pattern:
    * codebooks drift slowly, arrivals are continuous) and commit the
    * encoded delta as a FRAGMENT version — O(delta) rows written, NOT
    * a rewrite of the corpus (a 10⁹-vector index ingesting minute-level
    * batches must not write 10⁹ rows per minute). Reads resolve
    * base ∪ fragments with newest-fragment-wins shading on vec_id
    * ([[loadAnnIndex]]), so a replayed batch converges instead of
    * duplicating; [[compactAnnIndex]] folds the chain back into one
    * full snapshot. The KB metadata tables are re-committed unchanged
    * so all three snapshots stay version-aligned; rollback to the
    * pre-append index is `loadAnnIndex(version)`. Retrain (a fresh
    * [[persistAnnIndex]]) when drift accumulates — the append/compact/
    * retrain split is exactly FAISS add() / merge / train().
    */
  private[graft] def appendToAnnIndex(newVecs: DataFrame, root: String)
      : Long = {
    val spark = newVecs.sparkSession
    val arts = loadAnnArtifacts(spark, root)
    val v = graft.operators.VersionedTable.writeFragment(
      encodeWith(newVecs, arts), s"$root/index")
    recommitArtifacts(spark, root)
    v
  }

  /** Fold the index's fragment chain into one full snapshot (shading
    * applied, so replay leftovers are dropped for good) and re-commit
    * the metadata tables for alignment. Run when the chain grows —
    * after it, old versions can be [[graft.operators.VersionedTable.expire]]d.
    */
  private[graft] def compactAnnIndex(spark: SparkSession, root: String)
      : Long = {
    val (indexed, _) = loadAnnIndex(spark, root)
    val v = graft.operators.VersionedTable.write(indexed, s"$root/index")
    recommitArtifacts(spark, root)
    v
  }

  /** The FORGET flow for the served index: drop `keys` (vec_id) from
    * the corpus so the doomed BYTES are gone from every remaining file
    * — compliance deletion must reach serving, not just the source
    * table (q238 deletes table rows; this deletes their embeddings
    * from the index). Completion is `VersionedTable.expire(root +
    * "/index", v)` (+ coarse/cb) with the returned v.
    *
    * Round 13 — TOUCHED-PARTS delete (the fragment-tombstone shape,
    * O(affected parts) not O(corpus)): when the base snapshot holds
    * none of the doomed keys (checked with a pushed-down isin scan),
    * its files are BYTE-COPIED as the next full version — no corpus
    * decode/re-encode — and each fragment is re-committed minus the
    * doomed rows (delta-bounded; a fully-doomed fragment is simply not
    * re-committed). Resolution semantics (newest-fragment-wins shading
    * at load) are preserved because the surviving fragments re-commit
    * in their original order; artifacts re-commit once per index
    * commit so the three tables stay version-aligned. No tombstone
    * MARKERS anywhere: every part that contained a doomed row is
    * rewritten without it, so post-expire files carry none of the
    * bytes — AnnSpec pins it. A doomed key in the BASE falls back to
    * the full fold-and-rewrite. `keys` must be a bounded compliance
    * id list (collected; guarded like FeedGuard).
    */
  private[graft] def deleteFromAnnIndex(keys: DataFrame, root: String)
      : Long = {
    val spark = keys.sparkSession
    val doomed = keys.select(col("vec_id")).limit(100001)
      .collect().map(_.getLong(0)).toSeq
    require(doomed.size <= 100000,
      "deleteFromAnnIndex expects a bounded compliance id list; " +
        "got more than 100000 keys — delete in batches")
    val (baseV, baseDf, frags) = graft.operators.VersionedTable
      .readParts(spark, s"$root/index")
    val baseAffected = doomed.nonEmpty &&
      baseDf.filter(col("vec_id").isin(doomed: _*)).limit(1).count() > 0
    if (baseAffected) {
      // slow path: fold the chain and rewrite the corpus minus keys
      val (indexed, _) = loadAnnIndex(spark, root)
      val v = graft.operators.VersionedTable.write(
        indexed.join(keys.select(col("vec_id")), Seq("vec_id"),
          "left_anti"),
        s"$root/index")
      recommitArtifacts(spark, root)
      v
    } else {
      val v = graft.operators.VersionedTable
        .commitCopy(spark, s"$root/index", baseV)
      recommitArtifacts(spark, root)
      frags.foreach { case (_, f) =>
        val kept = f.filter(!col("vec_id").isin(doomed: _*))
        if (kept.limit(1).count() > 0) {
          graft.operators.VersionedTable
            .writeFragment(kept, s"$root/index")
          recommitArtifacts(spark, root)
        }
      }
      // the entry expires `< v`: the copied base and the surviving
      // fragment chain above it are exactly the post-delete snapshot
      v
    }
  }

  /** Load ONLY the KB metadata (coarse centroids + PQ codebooks) — the
    * append path needs quantizers, not the encoded corpus.
    */
  private[graft] def loadAnnArtifacts(spark: SparkSession, root: String,
      version: Option[Long] = None): AnnArtifacts = {
    val coarse = graft.operators.VersionedTable
      .read(spark, s"$root/coarse", version)
      .orderBy(col("idx")).collect()
      .map(_.getAs[scala.collection.Seq[Float]]("vals").toArray)
    val cb = graft.operators.VersionedTable
      .read(spark, s"$root/cb", version)
      .collect().map(r => (r.getInt(0), r.getInt(1)) ->
        r.getAs[scala.collection.Seq[Float]]("vals").toArray).toMap
    val m = cb.keys.map(_._1).max + 1
    val ks = cb.keys.map(_._2).max + 1
    AnnArtifacts(coarse, Array.tabulate(m, ks)((ms, c) => cb((ms, c))))
  }

  /** Load the NEWEST committed index snapshot (or `version` for time
    * travel): the serve-side counterpart of [[persistAnnIndex]].
    * Fragment appends are resolved with newest-wins shading on vec_id:
    * later fragments shade earlier ones AND the base (upsert + replay
    * convergence). The dedup work is DELTA-bounded, never a corpus
    * shuffle — the window runs over fragment rows only, and the base is
    * anti-joined against the (small) fragment key set; a fragment-free
    * index skips all of it.
    */
  private[graft] def loadAnnIndex(spark: SparkSession, root: String,
      version: Option[Long] = None): (DataFrame, AnnArtifacts) = {
    val (_, base, frags) = graft.operators.VersionedTable
      .readParts(spark, s"$root/index", version)
    val indexed =
      if (frags.isEmpty) base
      else {
        val fragRows = frags
          .map { case (fv, df) => df.withColumn("__fv", lit(fv)) }
          .reduce(_ unionByName _)
        val w = Window.partitionBy(col("vec_id"))
          .orderBy(col("__fv").desc)
        val latest = fragRows
          .withColumn("__rk", row_number().over(w))
          .filter(col("__rk") === 1).drop("__rk", "__fv")
        base.join(latest.select(col("vec_id")), Seq("vec_id"), "left_anti")
          .unionByName(latest)
      }
    (indexed, loadAnnArtifacts(spark, root, version))
  }

  /** IVF serve: probe the query's nearest coarse cells, exact cosine
    * within probed cells only. `indexed` carries (vec_id, c, embedding)
    * — built in-query or loaded from a snapshot.
    */
  /** q234 core: ground truth (q_id, neighbor_id, rk) vs a candidate
    * list (c_qid, c_nid, c_rk) → per-query (recall_at_k, mrr).
    */
  private[graft] def retrievalEval(gt: DataFrame,
      cand: DataFrame): DataFrame =
    gt.join(cand,
        col("q_id") === col("c_qid") && col("neighbor_id") === col("c_nid"),
        "left")
      .groupBy(col("q_id"))
      .agg(
        round(sum(when(col("c_rk").isNotNull, 1L).otherwise(0L))
          .cast("double") / count(lit(1)), 6).as("recall_at_k"),
        round(max(when(col("rk") === 1,
          coalesce(lit(1.0) / col("c_rk"), lit(0.0)))), 6).as("mrr"))

  private[graft] def annIvfFrom(indexed: DataFrame,
      coarse: Array[Array[Float]], numQueries: Int = NumQueries,
      k: Int = K): DataFrame = {
    val q = indexed.filter(col("vec_id") < numQueries)
      .withColumn("sims", simArray(coarse))
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
        explode(expr(s"transform(slice(reverse(array_sort(sims)), 1, " +
          s"$IvfProbes), x -> x.idx)")).as("probe"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    indexed.join(broadcast(q),
        col("c") === col("probe") && col("vec_id") =!= col("q_id"))
      .withColumn("sim", vec_cosine(col("qe"), col("embedding")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("rk"),
        round(col("sim"), 6).as("sim"))
  }

  /** IVF-PQ serve: coarse pruning + ADC scan over the code column only
    * + exact cosine re-rank of the per-query top-`pool`. See the
    * sim_ann_ivfpq entry comment for the scale argument.
    */
  private[graft] def annIvfPqFrom(indexed: DataFrame, arts: AnnArtifacts,
      numQueries: Int = NumQueries, k: Int = K, pool: Int = 50)
      : DataFrame = {
    val cbs = arts.cbs
    val q = indexed.filter(col("vec_id") < numQueries)
      .withColumn("sims", simArray(arts.coarse))
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
        explode(expr(s"transform(slice(reverse(array_sort(sims)), 1, " +
          s"$IvfProbes), x -> x.idx)")).as("probe"))
    // ADC: approx dot = Σ_m dot(q_m, codebook_m[code_m]) — candidates
    // carry codes ONLY (embedding dropped before the join: the
    // bandwidth win PQ exists for)
    val adcScore = (0 until PqM).map { ms =>
      vec_dot(expr(s"slice(qe, ${ms * PqSubDim + 1}, $PqSubDim)"),
        element_at(typedlit(cbs(ms).map(_.toSeq).toSeq),
          element_at(col("codes"), lit(ms + 1)) + 1))
    }.reduce(_ + _)
    val wAdc = Window.partitionBy(col("q_id"))
      .orderBy(col("adc").desc, col("vec_id"))
    val cand = indexed.drop("embedding")
      .join(broadcast(q), col("c") === col("probe") &&
        col("vec_id") =!= col("q_id"))
      .withColumn("adc", adcScore)
      .withColumn("prk", row_number().over(wAdc))
      .filter(col("prk") <= pool)
      .select(col("q_id"), col("qe"), col("vec_id"))
    // exact re-rank: embeddings joined back for pool×queries rows only
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    cand.join(indexed.select(col("vec_id"), col("embedding")), "vec_id")
      .withColumn("sim", vec_cosine(col("qe"), col("embedding")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("rk"),
        round(col("sim"), 6).as("sim"))
  }

  /** IVF-PQ retrieval, train-and-query form (AnnSpec's recall baseline;
    * the driver entries serve from a persisted snapshot instead).
    */
  private[graft] def annIvfPq(e: DataFrame, numQueries: Int = NumQueries,
      k: Int = K, pool: Int = 50): DataFrame = {
    val (indexed, arts) = buildAnnIndex(e)
    annIvfPqFrom(indexed, arts, numQueries, k, pool)
  }

  /** Session-scoped persisted-index roots: built+committed once per
    * (session, table dir), served by both IVF entries. Lifecycle:
    * [[graft.SessionCache]].
    */
  private[graft] object AnnIndexCache {
    private[graft] val cache = new graft.SessionCache[Unit, String](_ => ())
    def root(s: SparkSession, d: String): String =
      cache(s, d, ()) {
        val r = java.nio.file.Files.createTempDirectory("graft-annidx")
          .toString
        persistAnnIndex(
          Tables(s, d, "embeddings").select(col("vec_id"), col("embedding")),
          r)
        r
      }

    /** Byte-level clone of the cached index snapshot tree into `dest` —
      * the production "branch an index for maintenance" move: entries
      * that MUTATE (append/delete/expire) get their own root without
      * retraining quantizers the cache already trained on the same
      * corpus. Copies data before commit markers per directory walk
      * order is irrelevant here: the source is quiescent (fully
      * committed) and the copy is private until returned.
      */
    def cloneTo(s: SparkSession, d: String, dest: String): Unit =
      cloneTree(root(s, d), dest)

    def cloneTree(srcRoot: String, dest: String): Unit = {
      val src = java.nio.file.Paths.get(srcRoot)
      val dst = java.nio.file.Paths.get(dest)
      val it = java.nio.file.Files.walk(src).iterator()
      while (it.hasNext) {
        val p = it.next()
        val t = dst.resolve(src.relativize(p).toString)
        if (java.nio.file.Files.isDirectory(p))
          java.nio.file.Files.createDirectories(t)
        else {
          java.nio.file.Files.createDirectories(t.getParent)
          java.nio.file.Files.copy(p, t,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        }
      }
    }
  }

  /** Per-centroid (sim, idx) struct array for argmax assignment. */
  private def simArray(cents: Array[Array[Float]]): Column =
    array(cents.zipWithIndex.map { case (c, i) =>
      struct(vec_cosine(col("embedding"), typedlit(c.toSeq)).as("sim"),
        lit(i).as("idx"))
    }: _*)

  /** Deterministic k-means-lite coarse quantizer shared by sim_ann_ivf
    * and dedup_semantic: seeds = lowest vec_ids, `iters` Lloyd rounds as
    * Spark jobs (assign = argmax cosine against broadcast centroid
    * literals; update = per-dimension mean via posexplode+groupBy). The
    * returned centroids are KB-scale driver metadata — the standard IVF
    * shape; the corpus itself never leaves the executors.
    */
  private[graft] def trainCentroids(e: DataFrame, c: Int, iters: Int)
      : Array[Array[Float]] = {
    var centroids: Array[Array[Float]] = e.filter(col("vec_id") < c)
      .orderBy(col("vec_id")).collect()
      .map(_.getAs[scala.collection.Seq[Float]]("embedding").toArray)
    (1 to iters).foreach { _ =>
      val assigned = e.withColumn("sims", simArray(centroids))
        .withColumn("c", expr("array_max(sims).idx"))
        .select(col("c"), posexplode(col("embedding")))
      val means = assigned.groupBy(col("c"), col("pos"))
        .agg(avg(col("col")).as("m"))
        .groupBy(col("c"))
        .agg(expr("transform(sort_array(collect_list(struct(pos, m))), x -> CAST(x.m AS FLOAT))")
          .as("centroid"))
        .collect().map(r => r.getInt(0) ->
          r.getAs[scala.collection.Seq[Float]]("centroid").toArray).toMap
      centroids = centroids.indices
        .map(i => means.getOrElse(i, centroids(i))).toArray
    }
    centroids
  }

  /** Cluster assignment column (argmax cosine; ties break to the lower
    * centroid index via the struct ordering).
    */
  private[graft] def assignCluster(e: DataFrame,
      cents: Array[Array[Float]]): DataFrame =
    e.withColumn("sims", simArray(cents))
      .withColumn("c", expr("array_max(sims).idx")).drop("sims")

  /** SemDeDup-style semantic dedup [Abbas et al. '23, arXiv:2303.09540]:
    * k-means-cluster the embeddings with the shared quantizer, compare
    * pairs ONLY within a cluster, and drop the higher-id side of any
    * pair with exact cosine ≥ `thr`. Approximate by design — a dup pair
    * split across clusters is unseen (the quantizer quality is the
    * recall knob; precision is exact because the within-cluster cosine
    * is exact). Scale shape: the cluster id IS the shuffle key, per-
    * cluster work is (n/C)² — C grows with n to hold cluster size
    * constant, exactly the SemDeDup recipe at 100 TB. Output: one row
    * per dropped vector with its lowest-id duplicate and best sim.
    */
  private[graft] def semanticDedup(e: DataFrame, c: Int, thr: Double)
      : DataFrame = {
    val indexed = assignCluster(e, trainCentroids(e, c, 2))
    val a = indexed.select(col("c"), col("vec_id").as("id_a"),
      col("embedding").as("ea"))
    val b = indexed.select(col("c"), col("vec_id").as("id_b"),
      col("embedding").as("eb"))
    a.join(b, Seq("c"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("sim", vec_cosine(col("ea"), col("eb")))
      .filter(col("sim") >= thr)
      .groupBy(col("id_b"))
      .agg(min(col("id_a")).as("dup_of"),
        round(max(col("sim")), 6).as("max_sim"))
      .select(col("id_b").as("vec_id"), col("dup_of"), col("max_sim"))
  }

  /** q85: Lloyd k-means, hash-checked cross-engine. The floating-point
    * discipline that makes an ITERATIVE ML algorithm oracle-comparable:
    * distances fold per-dimension squared deltas through a DECIMAL(25,12)
    * accumulator and centroid updates sum DECIMAL(20,8)-rounded
    * coordinates (the q51 trick) — decimal addition is exact and
    * order-independent, so partition order can't flip an argmin and both
    * engines compute bit-identical assignments. Scale shape: classic
    * distributed Lloyd — per iteration one scan + one K-group partial
    * aggregation carrying K×(dim+1) cells; the only driver state is the
    * centroid matrix (KB — the IVF-centroid pattern). Ties break to the
    * lower cluster id via the (dist, k) struct ordering.
    */
  /** Exact squared distance from the `e` array column to a centroid
    * literal — decimal accumulation so assignment argmins are
    * cross-engine bit-identical (the q85 discipline).
    */
  private def sqDistTo(c: Array[Double]): Column =
    aggregate(
      zip_with(col("e"), typedlit(c.toSeq),
        (x, y) => ((x - y) * (x - y)).cast("decimal(25,12)")),
      lit(0).cast("decimal(25,12)"),
      (acc, v) => (acc + v).cast("decimal(25,12)"))

  private def withAssignment(e: DataFrame, cs: Array[Array[Double]])
    : DataFrame = {
    val dk = array(cs.zipWithIndex.map { case (c, i) =>
      struct(sqDistTo(c).as("d"), lit(i).as("k"))
    }: _*)
    e.withColumn("k", array_min(dk).getField("k"))
  }

  private def lloydSumCols(dim: Int): Seq[Column] = (0 until dim).map(j =>
    sum(element_at(col("e"), j + 1).cast("decimal(20,8)"))
      .cast("double").as(s"s$j"))

  /** Lloyd training loop: init = k lowest vec_ids, `iters − 1` collected
    * update rounds; centroids are driver metadata (KB) throughout.
    * Shared by q85's k-means output and the silhouette audit.
    */
  /** The Lloyd-prepped embedding corpus: (vec_id, e: array<double>). */
  private[graft] def lloydCorpus(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "embeddings").select(col("vec_id"),
      col("embedding").cast("array<double>").as("e"))

  private[graft] def lloydFit(e: DataFrame, k: Int, iters: Int, dim: Int)
    : Array[Array[Double]] = {
    val seed: Array[Array[Double]] = e.orderBy(col("vec_id")).limit(k)
      .collect()
      .map(_.getAs[scala.collection.Seq[Double]]("e").toArray)
    lloydFrom(e, seed, iters - 1, dim)
  }

  /** Warm-started Lloyd updates from EXPLICIT centroids — the
    * incremental-clustering form (the q231 warm-start story applied to
    * k-means): when the corpus gains vectors, continue from the
    * persisted centroids instead of re-seeding. Decimal-exact update
    * sums make the continuation IDENTITY hold exactly (k-then-m
    * updates == k+m updates — AnnSpec pins it), so warm restarts are
    * not merely "close", they are the same trajectory. Per-update cost
    * is unchanged: one K-group decimal aggregation; centroids stay
    * driver metadata.
    */
  private[graft] def lloydFrom(e: DataFrame, init: Array[Array[Double]],
      updates: Int, dim: Int): Array[Array[Double]] = {
    var cents = init
    (0 until updates).foreach { _ =>
      val upd = withAssignment(e, cents).groupBy(col("k"))
        .agg(count(lit(1)).as("n"), lloydSumCols(dim): _*)
        .collect()
        .map { r =>
          r.getInt(0) -> (0 until dim)
            .map(j => r.getDouble(2 + j) / r.getLong(1)).toArray
        }.toMap
      // empty clusters keep their previous centroid
      cents = cents.indices.map(i => upd.getOrElse(i, cents(i))).toArray
    }
    cents
  }

  private[graft] def kmeansLloyd(emb: DataFrame, k: Int, iters: Int,
      dim: Int): DataFrame = {
    val e = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("e"))
    kmeansReport(e, lloydFit(e, k, iters, dim), dim)
  }

  /** The (cluster, n, c_norm) report against EXPLICIT centroids — the
    * final Lloyd round split out so cached fits ([[LloydFitCache]]) and
    * fresh fits share one report plan. Assignment against the collected
    * centroids, then size + updated-centroid norm in ONE aggregation —
    * the output stays a distributed plan end-to-end.
    */
  private[graft] def kmeansReport(e: DataFrame,
      cents: Array[Array[Double]], dim: Int): DataFrame = {
    val normExpr = round(sqrt((0 until dim)
      .map(j => (col(s"s$j") / col("n")) * (col(s"s$j") / col("n")))
      .reduce(_ + _)), 6)
    withAssignment(e, cents).groupBy(col("k"))
      .agg(count(lit(1)).as("n"), lloydSumCols(dim): _*)
      .select(col("k").as("cluster"), col("n"), normExpr.as("c_norm"))
  }

  /** Centroid-form silhouette [Rousseeuw, J. Comp. Appl. Math. 1987] —
    * the cluster-quality audit over the trained k-means: per point,
    * a = distance to its OWN centroid, b = distance to the NEAREST
    * OTHER centroid, s = (b − a)/max(a, b). The centroid form replaces
    * the exact silhouette's O(n²) point-pair distances with k centroid
    * literals per row — the variant that scales; the plan is ONE narrow
    * pass (distances against the same sorted struct array the
    * assignment uses) + one k-group aggregation. Per-point s is rounded
    * and decimal-summed so the per-cluster means are order-independent.
    * Iterative training + float sqrt → rows-only; AnnSpec pins crafted
    * blob geometry.
    */
  private[graft] def silhouette(emb: DataFrame, k: Int, iters: Int,
      dim: Int): DataFrame = {
    val e = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("e"))
    silhouetteFrom(e, lloydFit(e, k, iters, dim))
  }

  /** Silhouette audit against EXPLICIT centroids (fit split out for
    * [[LloydFitCache]] sharing; [[silhouette]] stays the
    * fit-and-audit seam AnnSpec drives on crafted frames).
    */
  private[graft] def silhouetteFrom(e: DataFrame,
      cents: Array[Array[Double]]): DataFrame = {
    val dk = array(cents.zipWithIndex.map { case (c, i) =>
      struct(sqDistTo(c).cast("double").as("d"), lit(i).as("k"))
    }: _*)
    val s = e.withColumn("ds", array_sort(dk)) // (d, k) lexicographic
      .select(col("vec_id"),
        col("ds")(0).getField("k").as("cluster"),
        sqrt(col("ds")(0).getField("d")).as("a"),
        sqrt(col("ds")(1).getField("d")).as("b"))
      .withColumn("s",
        when(greatest(col("a"), col("b")) > 0,
          round((col("b") - col("a")) / greatest(col("a"), col("b")), 6))
          .otherwise(lit(0.0)))
    s.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("s").cast("decimal(18,6)")).cast("double")
          / count(lit(1)), 6).as("mean_silhouette"))
  }

  /** q94's kernel: feature-hashed unit-norm text vectors, exploded as
    * (doc_id, dim, val) rows. See the queries-map comment.
    */
  private[graft] def hashEmbed(docs: DataFrame, dims: Int): DataFrame = {
    val tok = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    val h = tok.select(col("doc_id"),
      (conv(substring(md5(col("w")), 1, 4), 16, 10).cast("int")
        % dims).as("dim"),
      when(conv(substring(md5(col("w")), 5, 1), 16, 10).cast("int")
        % 2 === 0, 1).otherwise(-1).as("sgn"))
    val v = h.groupBy(col("doc_id"), col("dim"))
      .agg(sum(col("sgn")).cast("double").as("raw"))
    val w = Window.partitionBy(col("doc_id"))
    v.withColumn("nrm", sqrt(sum(col("raw") * col("raw")).over(w)))
      .filter(col("nrm") > 0)
      .select(col("doc_id"), col("dim"),
        round(col("raw") / col("nrm"), 6).as("val"))
  }

  /** Maximal-marginal-relevance diverse re-rank [Carbonell & Goldstein,
    * SIGIR'98] of a per-query candidate pool: greedily pick the
    * candidate maximizing λ·sim(q,i) − (1−λ)·max_{j∈S} cos(i,j), so
    * each pick trades query relevance against redundancy with what is
    * already selected — the serving-side answer to "my top-10 are ten
    * near-copies" that retrieval-augmented pipelines run after ANN.
    *
    * Scale contract: the GREEDY stage is quadratic in the pool, so it
    * must never see the corpus — candidates arrive pre-bounded (top-N
    * per query from q25's broadcast scan or the IVF index), and the
    * selection runs INSIDE each query's group via flatMapGroups:
    * distributed across queries, O(pool²·dim) within one, no driver
    * collect. λ = 1 degenerates to plain top-k with the exact q25 tie
    * order (sim desc, vec_id asc) — the identity AnnSpec pins; ties in
    * the marginal score resolve to the smaller vec_id, making the
    * selection deterministic.
    */
  private[graft] def mmrSelect(cand: DataFrame, k: Int, lambda: Double)
    : DataFrame = {
    val s = cand.sparkSession
    import s.implicits._
    cand
      .select(col("q_id").cast("long"), col("vec_id").cast("long"),
        col("sim").cast("double"), col("embedding"))
      .as[(Long, Long, Double, Array[Float])]
      .groupByKey(_._1)
      .flatMapGroups { (qid, it) =>
        val cs = it.toArray.sortBy(c => (-c._3, c._2))
        val n = cs.length
        def cos(a: Array[Float], b: Array[Float]): Double = {
          var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
          while (i < a.length) {
            dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
            nb += b(i).toDouble * b(i); i += 1
          }
          if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
        }
        val chosen = new Array[Boolean](n)
        val penalty = new Array[Double](n) // max cos to selected so far
        val out = Seq.newBuilder[(Long, Long, Int, Double, Double)]
        var step = 0
        while (step < math.min(k, n)) {
          var best = -1; var bestScore = Double.NegativeInfinity
          var i = 0
          while (i < n) {
            if (!chosen(i)) {
              val pen = if (step == 0) 0.0 else penalty(i)
              val score = lambda * cs(i)._3 - (1.0 - lambda) * pen
              // ties → smaller vec_id; cs is sorted (sim desc, id asc)
              // so strict > keeps the earliest (smallest-id) winner
              if (score > bestScore) { bestScore = score; best = i }
            }
            i += 1
          }
          chosen(best) = true
          out += ((qid, cs(best)._2, step + 1, cs(best)._3, bestScore))
          var j = 0
          while (j < n) {
            if (!chosen(j)) {
              val c = cos(cs(j)._4, cs(best)._4)
              if (step == 0 || c > penalty(j)) penalty(j) = c
            }
            j += 1
          }
          step += 1
        }
        out.result().iterator
      }
      .toDF("q_id", "vec_id", "rk", "sim", "mmr_score")
      .select(col("q_id"), col("vec_id"), col("rk"),
        round(col("sim"), 6).as("sim"),
        round(col("mmr_score"), 6).as("mmr_score"))
  }

  /** q270 embedding-hygiene audit — the ingestion gate ahead of every
    * ANN/dedup consumer of `embeddings`: corrupt vectors (NaN/Inf
    * elements from a failed encoder batch), zero vectors (cosine is
    * undefined — they silently match everything or nothing depending
    * on the kernel), and dimension mismatches (a mid-stream encoder
    * swap) all poison indexes quietly. One narrow per-row pass (dim,
    * finite flag, squared-norm in integer 1e-8 micros — per-element
    * rounding so the per-row reduction is integer and order-free, the
    * q256 float-sum lesson) then ONE aggregation: counts, dim extrema,
    * and the exact norm mean (micro-longs) + p50/p90
    * (percentile_disc ↔ quantile_disc, the q117 pairing) over the
    * once-rounded norms of the finite vectors.
    */
  def embHygiene(e: DataFrame): DataFrame = {
    val bad = expr("exists(embedding, x -> isnan(x) OR " +
      "abs(cast(x as double)) = cast('Infinity' as double))")
    val n2m = expr("aggregate(embedding, 0L, (acc, x) -> acc + " +
      "cast(round(cast(x as double) * cast(x as double) * 1e8, 0) " +
      "as bigint))")
    val r = e.select(size(col("embedding")).cast("long").as("dim"),
        bad.as("bad"), when(!bad, n2m).as("n2m"))
      .withColumn("norm",
        when(!col("bad"), round(sqrt(col("n2m") / lit(1e8)), 6)))
    r.agg(count(lit(1)).as("n_vecs"),
        count_distinct(col("dim")).as("n_dims_distinct"),
        min(col("dim")).as("dim_min"), max(col("dim")).as("dim_max"),
        sum(when(col("bad"), 1L).otherwise(0L)).as("n_nonfinite"),
        sum(when(col("n2m") === 0L, 1L).otherwise(0L)).as("n_zero_norm"),
        sum(round(col("norm") * lit(1e6), 0).cast("long")).as("mn"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY norm)")
          .as("p50"),
        expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY norm)")
          .as("p90"))
      .select(col("n_vecs"), col("n_dims_distinct"), col("dim_min"),
        col("dim_max"), col("n_nonfinite"), col("n_zero_norm"),
        round(col("mn") / (col("n_vecs") - col("n_nonfinite"))
          / lit(1e6), 6).as("norm_mean"),
        col("p50").as("norm_p50"), col("p90").as("norm_p90"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = centroidQueries ++ Map(
    "q270_emb_hygiene" -> ((s, d) =>
      embHygiene(Tables(s, d, "embeddings"))),
    // Oracle-checked Lloyd k-means over the embedding corpus (K=5, two
    // assign→update rounds): output = per-cluster size + updated-centroid
    // L2 norm. See kmeansLloyd for the decimal discipline that makes the
    // iteration hash-comparable cross-engine.
    "q85_kmeans" -> ((s, d) => kmeansReport(lloydCorpus(s, d),
      LloydFitCache.corpusFit(s, d, k = 5, iters = 2, dim = 64),
      dim = 64)),

    // cluster-quality audit over the same trained k-means (rows-only —
    // iterative; see silhouette's scaladoc for the centroid-form trade).
    // Reads q85's EXACT model from LloydFitCache — "the same trained
    // k-means" is now literal, not a re-derivation.
    "ml_silhouette" -> ((s, d) => silhouetteFrom(lloydCorpus(s, d),
      LloydFitCache.corpusFit(s, d, k = 5, iters = 2, dim = 64))),

    // ml_kmeans_inc: INCREMENTAL k-means (rows-only; AnnSpec) — train
    // on the corpus minus every 10th vector, then fold the full corpus
    // in with ONE warm update from the persisted centroids
    // (lloydFrom), instead of re-seeding Lloyd from scratch — the
    // clustering twin of q231's warm-started PageRank. Output is q85's
    // (cluster, n, c_norm) shape over the updated model.
    "ml_kmeans_inc" -> ((s, d) => {
      val full = lloydCorpus(s, d)
      val base = full.filter(pmod(col("vec_id"), lit(10)) =!= 7)
      kmeansReport(full,
        lloydFrom(full, lloydFit(base, 5, 2, 64), 1, 64), dim = 64)
    }),

    // Feature-hashed text embeddings [hashing trick, Weinberger et al.
    // ICML'09]: the in-engine embedder for when no model is available —
    // each token lands in md5-bucket dim ∈ [0, 32) with an md5-derived
    // ±1 sign; per-doc sums L2-normalize into a sparse unit vector that
    // feeds the ANN / k-means / SemDeDup family. md5 is used (not
    // xxhash64) because it is the one hash both engines share, keeping
    // the query exactly oracle-checkable; swap xxhash64 in production
    // for ~4× cheaper hashing. Scale shape: one explode + one (doc, dim)
    // partial aggregation; the normalization window partitions on
    // doc_id over ≤ 32 rows. Output exploded as (doc_id, dim, val) —
    // the q51 convention that keeps float arrays hash-comparable.
    "q94_hash_embed" -> ((s, d) =>
      hashEmbed(Tables(s, d, "documents"), dims = 32)),

    // Exact brute-force cosine top-k for the first NumQueries vectors.
    "q25_ann_topk" -> ((s, d) => {
      val e = Tables(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val q = e.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("sim").desc, col("vec_id"))
      e.join(broadcast(q), col("vec_id") =!= col("q_id"))
        .withColumn("sim", vec_cosine(col("qe"), col("embedding")))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= K)
        .select(col("q_id"), col("vec_id").as("neighbor_id"), col("rk"),
          round(col("sim"), 6).as("sim"))
    }),

    // q245 MMR diverse top-k: q25's candidate generation widened to a
    // 50-deep pool per query, then the greedy λ = 0.7 trade-off inside
    // each query group (see mmrSelect for the scale contract). Greedy
    // float selection → rows-only; AnnSpec pins a hand-checked
    // redundant-pool pick, the λ = 1 ≡ q25 identity, and set sanity.
    "q245_mmr_rerank" -> ((s, d) => {
      val e = Tables(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val q = e.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("sim").desc, col("vec_id"))
      val pool = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
        .withColumn("sim", vec_cosine(col("qe"), col("embedding")))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 50)
        .select(col("q_id"), col("vec_id"), col("sim"), col("embedding"))
      mmrSelect(pool, K, 0.7)
    }),

    // q214 FILTERED similarity search — ANN with a metadata predicate,
    // the "find near vectors from the SAME source/label" serving shape
    // every vector store exposes (pre-filter form: the predicate prunes
    // candidates BEFORE ranking, so k survivors are guaranteed — vs
    // post-filtering a top-k that can come up short). Same scale
    // contract as q25: the bounded query set broadcasts WITH its label,
    // the corpus side stays partitioned and the label equality rides
    // the join condition into the build side — at 100 TB a
    // label-partitioned corpus layout turns it into partition pruning.
    "q214_ann_filtered" -> ((s, d) => {
      val e = Tables(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"), col("label"))
      val q = e.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
          col("label").as("qlabel"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("sim").desc, col("vec_id"))
      e.join(broadcast(q),
          col("vec_id") =!= col("q_id") && col("label") === col("qlabel"))
        .withColumn("sim", vec_cosine(col("qe"), col("embedding")))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= K)
        .select(col("q_id"), col("label"), col("vec_id").as("neighbor_id"),
          col("rk"), round(col("sim"), 6).as("sim"))
    }),

    // q216 hard-negative mining — the contrastive-training counterpart
    // of q214: for each anchor, the nearest vectors with a DIFFERENT
    // label are the hard negatives (similar in embedding space, wrong
    // class — the pairs that actually move an embedding model
    // [SimCLR/DPR practice]). q182's popularity negatives are the easy
    // baseline; these are the informative ones. Same broadcast shape
    // as q25/q214, inequality predicate in the join condition.
    "q216_hard_negatives" -> ((s, d) => {
      val e = Tables(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"), col("label"))
      val q = e.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
          col("label").as("qlabel"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("sim").desc, col("vec_id"))
      e.join(broadcast(q),
          col("vec_id") =!= col("q_id") && col("label") =!= col("qlabel"))
        .withColumn("sim", vec_cosine(col("qe"), col("embedding")))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("q_id"), col("qlabel"), col("vec_id").as("neg_id"),
          col("label").as("neg_label"), col("rk"),
          round(col("sim"), 6).as("sim"))
    }),

    // k-NN classification on top of the exact top-k: each query vector
    // takes the majority label of its K nearest neighbors (ties first to
    // the bigger vote count, then to the smaller label — deterministic).
    // Same scale shape as q25 (broadcast query set, corpus partitioned);
    // the vote argmax window runs over <= |labels| rows per query —
    // bounded metadata.
    "q149_knn_classify" -> ((s, d) => {
      val e = Tables(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"), col("label"))
      val q = e.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("sim").desc, col("vec_id"))
      val nn = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
        .withColumn("sim", vec_cosine(col("qe"), col("embedding")))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= K)
      val vw = Window.partitionBy(col("q_id"))
        .orderBy(col("n_votes").desc, col("label"))
      nn.groupBy(col("q_id"), col("label"))
        .agg(count(lit(1)).as("n_votes"))
        .withColumn("vr", row_number().over(vw))
        .filter(col("vr") === 1)
        .select(col("q_id"), col("label").as("pred_label"), col("n_votes"))
    }),

    // IVF ANN: inverted-file index with a k-means-lite coarse quantizer.
    // Deterministic: seeds = lowest vec_ids, 2 Lloyd iterations computed
    // as Spark jobs (assign = argmax cosine against broadcast centroid
    // literals; update = per-dimension mean via posexplode+groupBy).
    // Query probes its `Probes` nearest centroids and ranks only those
    // clusters' vectors by exact cosine — at 100 TB the corpus stays
    // partitioned by cluster and only centroids (a few KB) move.
    // The index is PERSISTED (VersionedTable snapshots: encoded corpus
    // + centroid/codebook metadata) and SERVED from the newest committed
    // version — codebooks train once per corpus, not once per query (the
    // FAISS build/serve split). AnnSpec pins serve-from-snapshot ==
    // train-and-query exactly.
    "sim_ann_ivf" -> ((s, d) => {
      val (indexed, arts) = loadAnnIndex(s, AnnIndexCache.root(s, d))
      annIvfFrom(indexed, arts.coarse)
    }),

    // q234 retrieval evaluation — recall@K and MRR of the served IVF
    // index against the exact brute-force ground truth (q25), the
    // eval-harness op every retrieval pipeline runs before swapping an
    // index into serving. Both sides are the SHIPPED driver entries
    // (not reimplementations), joined on (query, neighbor): recall@K =
    // overlap/K; MRR = 1/rank of the TRUE nearest neighbor in the
    // served list (0 when the index misses it). Per-query rows of
    // query-set-bounded size; one join of two K·|queries| tables —
    // metadata scale. Rows-only (IVF floats); AnnSpec pins the
    // self-eval identity (brute vs brute ≡ 1.0) and the recall floor.
    "q234_retrieval_eval" -> ((s, d) => {
      val gt = queries("q25_ann_topk")(s, d)
        .select(col("q_id"), col("neighbor_id"), col("rk"))
      val cand = queries("sim_ann_ivf")(s, d)
        .select(col("q_id").as("c_qid"), col("neighbor_id").as("c_nid"),
          col("rk").as("c_rk"))
      retrievalEval(gt, cand)
    }),

    // IVF-PQ [Jégou et al., TPAMI'11] — the memory-bandwidth scale path
    // for ANN: vectors are COMPRESSED to M subspace codes (64 floats /
    // 256 B → 8 small ints), the coarse IVF prunes clusters, the ADC
    // scan ranks candidates by Σ_m dot(q_m, codebook_m[code_m]) reading
    // ONLY the code column, and exact cosine re-ranks the top-C pool.
    // At 100 TB the ADC scan touches ~3% of the bytes a raw-vector scan
    // reads — that, not FLOPs, is the win. Here: M=8 subspaces × 16
    // codes (1 Lloyd round per subspace, seeded deterministically);
    // plain PQ (no residual encoding — documented trade: residuals add
    // one subtract per dim and ~recover a few recall points); re-rank
    // pool C=50 per query. Approximate → rows-only; AnnSpec pins recall
    // against q25's exact top-k.
    "sim_ann_ivfpq" -> ((s, d) => {
      val (indexed, arts) = loadAnnIndex(s, AnnIndexCache.root(s, d))
      annIvfPqFrom(indexed, arts)
    }),

    // STEADY-STATE SERVING latency — the FAISS build/serve split made
    // measurable: every other ANN entry amortizes the one-time index
    // build into its own timing, so this entry is the serving shape
    // alone — load the newest COMMITTED snapshot (the session cache
    // guarantees it exists; Bench's min-of-2 guarantees at least one
    // fully-warm serve) and answer a 5× larger query batch (100
    // queries) through the IVF-PQ path: coarse probe → ADC scan over
    // the code column → exact re-rank. Rows-only (approximate floats);
    // AnnSpec pins the job-count split — serving from a committed
    // snapshot launches NO quantizer/codebook training jobs (build ran
    // k-means Lloyd rounds; serve is scan+join jobs only).
    "sim_ann_serve" -> ((s, d) => {
      val (indexed, arts) = loadAnnIndex(s, AnnIndexCache.root(s, d))
      annIvfPqFrom(indexed, arts, numQueries = 100)
    }),

    // STREAMING index ingest: quantizers train on the corpus MINUS a
    // held-out slice, the held-out vectors then ARRIVE as two real
    // micro-batches through AnnIngest (exactly-once append with
    // existing codebooks), and the entry serves top-k from the final
    // snapshot — the continuously-maintained serving index end-to-end.
    // Rows-only (streaming + approximate); AnnIngestSpec pins arrival
    // visibility, replay convergence, and version alignment.
    "sim_ann_stream_ingest" -> ((s, d) => {
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val e = Tables(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      // hold out 20 vectors OUTSIDE the query range (queries are
      // vec_id < NumQueries, seeds are the lowest ids)
      val holdPred = col("vec_id") >= 100 && col("vec_id") < 120
      val heldOut = e.filter(holdPred)
      val root = java.nio.file.Files
        .createTempDirectory("graft-annstream").toString
      persistAnnIndex(e.filter(!holdPred), root)
      val rows = heldOut
        .as[(Long, Array[Float])].collect().toSeq
      val stream = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Array[Float])]
      val q = graft.streaming.AnnIngest.attach(
        stream.toDF().toDF("vec_id", "embedding"),
        root, s"$root/ck")
      val (b1, b2) = rows.partition(_._1 % 2 == 0)
      stream.addData(b1); q.processAllAvailable()
      stream.addData(b2); q.processAllAvailable()
      q.stop()
      graft.streaming.AnnIngest.serveTopK(s, root)
    }),

    // sim_ann_forget — the FORGET flow end-to-end on a served index:
    // plant an exact clone of query vector 0 under a fresh id, verify
    // it serves as q0's top-1, then DELETE it (anti-join + next full
    // version) and EXPIRE every pre-delete snapshot so the vector's
    // bytes are gone from all of time travel. Returns the post-forget
    // top-k — the planted id must be absent (compliance deletion
    // reaching serving, not just the source table; q238 is the table
    // half). Own temp root: the shared AnnIndexCache index keeps
    // serving the other entries untouched (snapshot isolation between
    // entries mirrors production serve-during-maintenance). Rows-only
    // (IVF floats); AnnSpec pins the full plant/delete/expire contract.
    "sim_ann_forget" -> ((s, d) => {
      val e = Tables(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val root = java.nio.file.Files
        .createTempDirectory("graft-annforget").toString
      // branch the SHARED index snapshot (byte clone — same corpus,
      // same artifacts) instead of retraining quantizers: the entry
      // measures the FORGET flow, not a second index build
      AnnIndexCache.cloneTo(s, d, root)
      val clone = e.filter(col("vec_id") === 0L)
        .select(lit(990000L).as("vec_id"), col("embedding"))
      appendToAnnIndex(clone, root)
      val (planted, artsP) = loadAnnIndex(s, root)
      // the pre-forget gate only asserts q0's top-1 — serve THAT query,
      // not the full NumQueries batch (round 13; the returned result is
      // still the full post-forget serve below)
      val top = annIvfPqFrom(planted, artsP, numQueries = 1)
        .filter(col("q_id") === 0L && col("rk") === 1).head()
      require(top.getLong(1) == 990000L,
        s"planted clone must serve as q0 top-1 before the forget: $top")
      val v = deleteFromAnnIndex(
        clone.select(col("vec_id")), root)
      Seq("index", "coarse", "cb").foreach { t =>
        graft.operators.VersionedTable.expire(s, s"$root/$t", v)
      }
      val (after, artsA) = loadAnnIndex(s, root)
      annIvfPqFrom(after, artsA)
    }),

    // SemDeDup semantic dedup over the embedding corpus — cluster with
    // the shared quantizer, exact cosine within clusters only, drop the
    // higher id of each ≥ 0.4 pair (0.4 matches q24's exact all-pairs
    // threshold, so AnnSpec can pin precision/recall against it).
    "dedup_semantic" -> ((s, d) => semanticDedup(
      Tables(s, d, "embeddings").select(col("vec_id"), col("embedding")),
      c = 16, thr = 0.4)),

    // LSH-bucketed ANN: exact cosine only within the query's probed
    // buckets — see annLsh for the plane-count/probe-radius scaling law.
    "sim_ann_lsh" -> ((s, d) =>
      annLsh(Tables(s, d, "embeddings").select(col("vec_id"), col("embedding")),
        NumPlanes, ProbeHamming))
  )

  private[queries] def cosSql(a: String, b: String): String =
    s"""(list_sum([CAST($a.embedding[i] AS DOUBLE) * CAST($b.embedding[i] AS DOUBLE)
       |           FOR i IN range(1, len($a.embedding) + 1)])
       | / (sqrt(list_sum([CAST($a.embedding[i] AS DOUBLE) * CAST($a.embedding[i] AS DOUBLE)
       |                   FOR i IN range(1, len($a.embedding) + 1)]))
       |  * sqrt(list_sum([CAST($b.embedding[i] AS DOUBLE) * CAST($b.embedding[i] AS DOUBLE)
       |                   FOR i IN range(1, len($b.embedding) + 1)]))))""".stripMargin

  /** Per-label centroid, exploded to (label, dim): the cluster-centroid
    * primitive behind IVF training — one shuffle on (label, dim) with
    * partial sums, no vectors collected anywhere. Decimal sums keep the
    * reduction order-independent, so the result is hash-comparable.
    */
  def centroidQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // q204 int8 embedding quantization audit — the storage/serving
    // compression pass of a vector pipeline: per-vector symmetric scale
    // s = max|x|/127, quantize q = clip(round(x/s)), report the
    // reconstruction error Σ(x − q·s)² and clip count. Entirely NARROW
    // (zero shuffles): per-row array fold in fixed left-to-right order,
    // double arithmetic over identical float inputs, scale rounded to
    // 9 dp so both engines quantize against the same constant — the
    // oracle hash-compares every row. At 100 TB this is map-only work
    // fused behind the scan (the q28/q76 shape).
    "q204_quantize" -> ((s, d) =>
      graft.Tables(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"))
        .withColumn("scale", expr("round(array_max(transform(embedding," +
          " x -> abs(cast(x as double)))) / 127, 9)"))
        .filter(col("scale") > 0)
        .select(col("vec_id"), col("scale"),
          expr("round(aggregate(embedding, cast(0 as double), (a, x) ->" +
            " a + pow(cast(x as double) - least(greatest(" +
            "round(cast(x as double) / scale, 0), -127), 127) * scale, 2))" +
            ", 6)").as("sq_err"),
          expr("cast(aggregate(embedding, 0, (a, x) -> a + " +
            "IF(abs(cast(x as double) / scale) > 127, 1, 0)) as int)")
            .as("n_clipped"))),

    // q198 source-profile similarity — the distribution-level dedup
    // audit: pairwise COSINE between each source's unigram count vector
    // ("are two feeds near-duplicates of each other wholesale?", the
    // corpus-governance question upstream of per-document dedup). The
    // corpus contributes ONE grouped count to (source, word) cells;
    // dots come from a vocab-keyed self-join of that bounded profile
    // table (never the corpus), norms from a per-source Σc² — all exact
    // longs until one final double division per pair, so the oracle
    // hash-compares all |sources|²/2 rows.
    "q198_source_similarity" -> ((s, d) => {
      val cells = graft.Tables(s, d, "documents")
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy(col("source"), col("w"))
        .agg(count(lit(1)).as("c"))
      val norms = cells.groupBy(col("source"))
        .agg(sum(col("c") * col("c")).as("nn"))
      cells.as("a")
        .join(cells.as("b"),
          col("a.w") === col("b.w") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("source_a"),
          col("b.source").as("source_b"))
        .agg(sum(col("a.c") * col("b.c")).as("dot"))
        .join(broadcast(norms.select(col("source").as("source_a"),
          col("nn").as("na"))), "source_a")
        .join(broadcast(norms.select(col("source").as("source_b"),
          col("nn").as("nb"))), "source_b")
        .select(col("source_a"), col("source_b"), col("dot"),
          round(col("dot").cast("double")
            / sqrt(col("na").cast("double") * col("nb")), 6).as("cosine"))
    }),

    "q51_centroids" -> ((s, d) =>
      graft.Tables(s, d, "embeddings")
        .select(col("label"), posexplode(col("embedding")))
        .groupBy(col("label"), col("pos"))
        .agg(round(sum(col("col").cast("decimal(20,8)")).cast("double")
            / count(lit(1)), 6).as("c"),
          count(lit(1)).as("n")))
  )

  def oracle: Map[String, String] = Map(
    "q270_emb_hygiene" ->
      """WITH r0 AS (SELECT CAST(len(embedding) AS BIGINT) AS dim,
        |    len(list_filter(embedding, x -> isnan(x) OR isinf(x))) > 0
        |      AS bad,
        |    embedding FROM embeddings),
        |r AS (SELECT dim, bad,
        |    CASE WHEN NOT bad THEN CAST(COALESCE(list_sum(
        |      list_transform(embedding, x ->
        |        CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e8,
        |          0) AS BIGINT))), 0) AS BIGINT) END AS n2m
        |  FROM r0),
        |r2 AS (SELECT dim, bad, n2m,
        |    CASE WHEN NOT bad THEN round(sqrt(n2m / 1e8), 6) END AS norm
        |  FROM r)
        |SELECT CAST(count(*) AS BIGINT) AS n_vecs,
        |  CAST(count(DISTINCT dim) AS BIGINT) AS n_dims_distinct,
        |  min(dim) AS dim_min, max(dim) AS dim_max,
        |  CAST(sum(CASE WHEN bad THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_nonfinite,
        |  CAST(sum(CASE WHEN n2m = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_zero_norm,
        |  round(CAST(sum(CAST(round(norm * 1e6, 0) AS BIGINT))
        |      AS BIGINT)
        |    / (count(*) - sum(CASE WHEN bad THEN 1 ELSE 0 END))
        |    / 1000000.0, 6) AS norm_mean,
        |  quantile_disc(norm, 0.5) AS norm_p50,
        |  quantile_disc(norm, 0.9) AS norm_p90
        |FROM r2""".stripMargin,
    "q204_quantize" ->
      """WITH q AS (SELECT vec_id, embedding,
        |    round(list_max(list_transform(embedding,
        |      x -> abs(CAST(x AS DOUBLE)))) / 127, 9) AS scale
        |  FROM embeddings)
        |SELECT vec_id, scale,
        |  round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |    list_transform(embedding, x -> pow(CAST(x AS DOUBLE)
        |      - least(greatest(round(CAST(x AS DOUBLE) / scale, 0), -127),
        |        127) * scale, 2))), (a, b) -> a + b), 6) AS sq_err,
        |  CAST(list_sum(list_transform(embedding,
        |    x -> CASE WHEN abs(CAST(x AS DOUBLE) / scale) > 127
        |      THEN 1 ELSE 0 END)) AS INTEGER) AS n_clipped
        |FROM q WHERE scale > 0""".stripMargin,
    "q198_source_similarity" ->
      """WITH cells AS (SELECT source, w, COUNT(*) AS c FROM (
        |    SELECT source, unnest(string_split(text, ' ')) AS w
        |    FROM documents) WHERE len(w) > 0 GROUP BY source, w),
        |norms AS (SELECT source, SUM(c * c) AS nn FROM cells
        |  GROUP BY source),
        |dots AS (SELECT a.source AS source_a, b.source AS source_b,
        |    SUM(a.c * b.c) AS dot
        |  FROM cells a JOIN cells b
        |    ON a.w = b.w AND a.source < b.source
        |  GROUP BY a.source, b.source)
        |SELECT source_a, source_b, CAST(dot AS BIGINT) AS dot,
        |  round(CAST(dot AS DOUBLE)
        |    / sqrt(CAST(na.nn AS DOUBLE) * nb.nn), 6) AS cosine
        |FROM dots
        |JOIN norms na ON dots.source_a = na.source
        |JOIN norms nb ON dots.source_b = nb.source""".stripMargin,
    "q94_hash_embed" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |             FROM documents),
        |h AS (SELECT doc_id,
        |        CAST(('0x' || substr(md5(w), 1, 4)) AS INTEGER) % 32 AS dim,
        |        CASE WHEN CAST(('0x' || substr(md5(w), 5, 1)) AS INTEGER)
        |               % 2 = 0 THEN 1 ELSE -1 END AS sgn
        |      FROM tok),
        |v AS (SELECT doc_id, dim, CAST(sum(sgn) AS DOUBLE) AS raw
        |      FROM h GROUP BY doc_id, dim),
        |n AS (SELECT doc_id, sqrt(sum(raw * raw)) AS nrm
        |      FROM v GROUP BY doc_id)
        |SELECT v.doc_id, v.dim, round(v.raw / n.nrm, 6) AS val
        |FROM v JOIN n ON v.doc_id = n.doc_id
        |WHERE n.nrm > 0""".stripMargin,
    // Two unrolled Lloyd rounds, same decimal discipline as kmeansLloyd:
    // DECIMAL(25,12) per-dim squared deltas (exact, order-independent
    // sums ⇒ bit-identical argmins), DECIMAL(20,8) centroid sums cast to
    // DOUBLE before the /n. Empty clusters fall back to their previous
    // centroid via the LEFT JOIN coalesce, mirroring getOrElse.
    "q85_kmeans" ->
      """WITH e AS (SELECT vec_id,
        |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings),
        |edx AS (SELECT vec_id, j, v[j] AS x
        |        FROM (SELECT vec_id, unnest(generate_series(1, len(v))) AS j,
        |                v FROM e)),
        |c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS k, v
        |       FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 5)),
        |c0x AS (SELECT k, j, v[j] AS c
        |        FROM (SELECT k, unnest(generate_series(1, len(v))) AS j, v
        |              FROM c0)),
        |d1 AS (SELECT e.vec_id, c.k,
        |         sum(CAST((e.x - c.c) * (e.x - c.c) AS DECIMAL(25,12)))
        |           AS dist
        |       FROM edx e JOIN c0x c ON e.j = c.j
        |       GROUP BY e.vec_id, c.k),
        |a1 AS (SELECT vec_id, k FROM
        |        (SELECT vec_id, k, row_number() OVER
        |           (PARTITION BY vec_id ORDER BY dist, k) AS rn FROM d1)
        |       WHERE rn = 1),
        |c1u AS (SELECT a.k, e.j,
        |          CAST(sum(CAST(e.x AS DECIMAL(20,8))) AS DOUBLE)
        |            / count(*) AS c
        |        FROM a1 a JOIN edx e ON a.vec_id = e.vec_id
        |        GROUP BY a.k, e.j),
        |c1x AS (SELECT c0.k, c0.j, coalesce(c1u.c, c0.c) AS c
        |        FROM c0x c0 LEFT JOIN c1u
        |          ON c0.k = c1u.k AND c0.j = c1u.j),
        |d2 AS (SELECT e.vec_id, c.k,
        |         sum(CAST((e.x - c.c) * (e.x - c.c) AS DECIMAL(25,12)))
        |           AS dist
        |       FROM edx e JOIN c1x c ON e.j = c.j
        |       GROUP BY e.vec_id, c.k),
        |a2 AS (SELECT vec_id, k FROM
        |        (SELECT vec_id, k, row_number() OVER
        |           (PARTITION BY vec_id ORDER BY dist, k) AS rn FROM d2)
        |       WHERE rn = 1),
        |cnt AS (SELECT k, count(*) AS n FROM a2 GROUP BY k),
        |c2x AS (SELECT a.k, e.j,
        |          CAST(sum(CAST(e.x AS DECIMAL(20,8))) AS DOUBLE)
        |            / count(*) AS c
        |        FROM a2 a JOIN edx e ON a.vec_id = e.vec_id
        |        GROUP BY a.k, e.j)
        |SELECT CAST(c2x.k AS INTEGER) AS cluster, cnt.n AS n,
        |  round(sqrt(sum(c2x.c * c2x.c)), 6) AS c_norm
        |FROM c2x JOIN cnt ON c2x.k = cnt.k
        |GROUP BY c2x.k, cnt.n""".stripMargin,
    "q51_centroids" ->
      """SELECT label, CAST(gs - 1 AS INTEGER) AS pos,
        | round(CAST(SUM(CAST(e AS DECIMAL(20,8))) AS DOUBLE) / COUNT(*), 6)
        |   AS c,
        | COUNT(*) AS n
        |FROM (SELECT label, unnest(embedding) AS e,
        |        generate_subscripts(embedding, 1) AS gs
        |      FROM embeddings)
        |GROUP BY label, gs""".stripMargin,
    "q25_ann_topk" ->
      s"""SELECT q_id, neighbor_id, CAST(rk AS INTEGER) AS rk,
         | round(sim, 6) AS sim
         |FROM (
         |  SELECT q.vec_id AS q_id, e.vec_id AS neighbor_id,
         |    ${cosSql("q", "e")} AS sim,
         |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |      ORDER BY ${cosSql("q", "e")} DESC, e.vec_id) AS rk
         |  FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
         |  WHERE q.vec_id < $NumQueries)
         |WHERE rk <= $K""".stripMargin,
    "q214_ann_filtered" ->
      s"""SELECT q_id, label, neighbor_id, CAST(rk AS INTEGER) AS rk,
         | round(sim, 6) AS sim
         |FROM (
         |  SELECT q.vec_id AS q_id, e.label, e.vec_id AS neighbor_id,
         |    ${cosSql("q", "e")} AS sim,
         |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |      ORDER BY ${cosSql("q", "e")} DESC, e.vec_id) AS rk
         |  FROM embeddings q JOIN embeddings e
         |    ON e.vec_id <> q.vec_id AND e.label = q.label
         |  WHERE q.vec_id < $NumQueries)
         |WHERE rk <= $K""".stripMargin,
    "q216_hard_negatives" ->
      s"""SELECT q_id, qlabel, neg_id, neg_label, CAST(rk AS INTEGER) AS rk,
         | round(sim, 6) AS sim
         |FROM (
         |  SELECT q.vec_id AS q_id, q.label AS qlabel,
         |    e.vec_id AS neg_id, e.label AS neg_label,
         |    ${cosSql("q", "e")} AS sim,
         |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |      ORDER BY ${cosSql("q", "e")} DESC, e.vec_id) AS rk
         |  FROM embeddings q JOIN embeddings e
         |    ON e.vec_id <> q.vec_id AND e.label <> q.label
         |  WHERE q.vec_id < $NumQueries)
         |WHERE rk <= 3""".stripMargin,
    "q149_knn_classify" ->
      s"""WITH nn AS (
         |  SELECT q.vec_id AS q_id, e.label,
         |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |      ORDER BY ${cosSql("q", "e")} DESC, e.vec_id) AS rk
         |  FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
         |  WHERE q.vec_id < $NumQueries),
         |votes AS (SELECT q_id, label, COUNT(*) AS n_votes
         |          FROM nn WHERE rk <= $K GROUP BY q_id, label),
         |ranked AS (SELECT q_id, label, n_votes,
         |  ROW_NUMBER() OVER (PARTITION BY q_id
         |    ORDER BY n_votes DESC, label) AS vr FROM votes)
         |SELECT q_id, label AS pred_label, n_votes
         |FROM ranked WHERE vr = 1""".stripMargin
  )
}

/** Session-pinned Lloyd k-means models — driver-side metadata
  * (k × dim doubles, ~2.5 KB at k=5/dim=64), NOT a pinned DataFrame,
  * so the pass-count pin threshold doesn't apply: reads are free and
  * a single avoided re-fit (seed collect + corpus aggregation jobs)
  * already pays. Consumers: q85_kmeans and ml_silhouette share the
  * full-corpus fit (the silhouette audits the SAME trained model
  * rather than an identically-parameterized re-derivation — the
  * semantics the entry always claimed). ml_kmeans_inc fits its own
  * base-corpus model inline: it is that model's only consumer, so a
  * cache could never pay on first touch. Fits are deterministic
  * (vec_id-ordered seed, decimal-exact update sums), so caching cannot
  * change any output. Lifecycle: [[graft.SessionCache]].
  */
private[graft] object LloydFitCache {

  /** Keyed by (k, iters, dim). */
  private[graft] val cache =
    new graft.SessionCache[(Int, Int, Int), Array[Array[Double]]](_ => ())

  /** Full-embedding-corpus Lloyd fit (q85_kmeans / ml_silhouette). */
  def corpusFit(s: SparkSession, d: String, k: Int, iters: Int, dim: Int)
      : Array[Array[Double]] =
    cache(s, d, (k, iters, dim)) {
      SimilarityQueries.lloydFit(
        SimilarityQueries.lloydCorpus(s, d), k, iters, dim)
    }
}
