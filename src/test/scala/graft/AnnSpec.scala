package graft

import org.apache.spark.sql.functions._

import graft.functions.vectors._

class AnnSpec extends SparkSpec {

  test("q270 hygiene: NaN, zero-norm, and dim-mix all surface") {
    import spark.implicits._
    val e = Seq(
      Array(3.0f, 4.0f),            // norm 5
      Array(0.0f, 0.0f),            // zero vector
      Array(Float.NaN, 1.0f),       // corrupt
      Array(6.0f, 8.0f),            // norm 10
      Array(1.0f, 0.0f, 0.0f))      // dim 3, norm 1
      .toDF("embedding")
    val r = graft.queries.SimilarityQueries.embHygiene(e).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5)) === ((5L, 2L, 2L, 3L, 1L, 1L)))
    // finite norms [0, 1, 5, 10]: mean 4; disc p50 = 1, p90 = 10
    assert(r.getDouble(6) === 4.0)
    assert(r.getDouble(7) === 1.0 && r.getDouble(8) === 10.0)
  }

  test("vector kernels: dot/norm/cosine match a scala reference fold") {
    import spark.implicits._
    val df = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(4.0f, -5.0f, 6.0f)),
      (Array(0.0f, 0.0f, 0.0f), Array(1.0f, 1.0f, 1.0f))
    ).toDF("a", "b")
    val got = df.select(
      vec_dot(col("a"), col("b")),
      vec_norm(col("a")),
      vec_cosine(col("a"), col("b"))).collect()
    assert(got(0).getDouble(0) == (1.0 * 4 + 2.0 * -5 + 3.0 * 6))
    assert(math.abs(got(0).getDouble(1) - math.sqrt(14.0)) < 1e-12)
    val expCos = 12.0 / (math.sqrt(14.0) * math.sqrt(77.0))
    assert(math.abs(got(0).getDouble(2) - expCos) < 1e-12)
    // zero vector → cosine defined as 0, not NaN
    assert(got(1).getDouble(2) == 0.0)
  }

  test("vector kernels survive whole-stage codegen and interpreted eval") {
    import spark.implicits._
    val df = Seq((Array.fill(64)(0.5f), Array.fill(64)(2.0f))).toDF("a", "b")
    val cg = df.select(vec_dot(col("a"), col("b"))).head().getDouble(0)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val interp = df.select(vec_dot(col("a"), col("b"))).head().getDouble(0)
      assert(cg == interp && cg == 64.0)
    } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }

  test("q204 quantization: exact on representable vectors, error matches a local replay") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-quant").toString
    Seq((1L, Array(127.0f, 0.0f)), (2L, Array(1.0f, 0.5f)))
      .toDF("vec_id", "embedding")
      .write.parquet(s"$dir/embeddings.parquet")
    val got = SparkEntry.queries("q204_quantize")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2),
        r.getInt(3)))).toMap
    // [127, 0]: scale 1.0, every element representable -> zero error
    assert(got(1L) == ((1.0, 0.0, 0)))
    // [1, 0.5]: replay the same double arithmetic locally
    def replay(xs: Seq[Float]): (Double, Double) = {
      val amax = xs.map(x => math.abs(x.toDouble)).max
      val scale = BigDecimal(amax / 127)
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      val err = xs.foldLeft(0.0) { (a, x) =>
        val r = BigDecimal(x.toDouble / scale)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble
        val q = math.min(math.max(r, -127), 127)
        a + math.pow(x.toDouble - q * scale, 2)
      }
      (scale, BigDecimal(err)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val (s2, e2) = replay(Seq(1.0f, 0.5f))
    assert(got(2L)._1 == s2 && got(2L)._2 == e2 && got(2L)._3 == 0)
  }

  test("silhouette: tight separated blobs score near 1, one blob near 0") {
    import spark.implicits._
    // ids 1 and 2 seed the two blobs (init = lowest vec_ids)
    val blobs = Seq(
      (1L, Array(0.0f, 0.0f)), (3L, Array(0.1f, 0.0f)),
      (5L, Array(0.0f, 0.1f)),
      (2L, Array(10.0f, 10.0f)), (4L, Array(10.1f, 10.0f)),
      (6L, Array(10.0f, 10.1f)))
      .toDF("vec_id", "embedding")
    val got = graft.queries.SimilarityQueries
      .silhouette(blobs, k = 2, iters = 2, dim = 2)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(got.length == 2 && got.map(_._2).sum == 6)
    got.foreach { case (_, _, s) =>
      assert(s > 0.95, s"separated blobs must score ~1, got $s")
    }
    // the same six points forced into k=2 when they form ONE tight
    // blob: splitting it scores poorly (many points nearly equidistant)
    val one = Seq(
      (1L, Array(0.0f, 0.0f)), (2L, Array(0.1f, 0.0f)),
      (3L, Array(0.0f, 0.1f)), (4L, Array(0.1f, 0.1f)),
      (5L, Array(0.05f, 0.0f)), (6L, Array(0.0f, 0.05f)))
      .toDF("vec_id", "embedding")
    val flat = graft.queries.SimilarityQueries
      .silhouette(one, k = 2, iters = 2, dim = 2)
      .collect().map(_.getDouble(2))
    assert(flat.forall(_ < 0.6),
      s"splitting one blob must score clearly below the separated case")
  }

  test("brute-force ANN: k neighbors per query, ranks contiguous") {
    val rows = SparkEntry.queries("q25_ann_topk")(spark, sf)
      .groupBy("q_id").agg(count(lit(1)).as("n"), max("rk").as("maxrk"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) == 10 && r.getInt(2) == 10,
        s"query ${r.get(0)}: ${r.getLong(1)} neighbors, max rank ${r.get(2)}")
    }
  }

  test("IVF ANN: k per query where cluster has depth, recall >= 0.4") {
    val exact = SparkEntry.queries("q25_ann_topk")(spark, sf)
      .select("q_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = SparkEntry.queries("sim_ann_ivf")(spark, sf)
      .select("q_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(approx.nonEmpty, "IVF ANN returned nothing")
    val recall = (approx & exact).size.toDouble / exact.size
    assert(recall >= 0.4, s"IVF recall $recall")
  }

  test("IVF-PQ ANN: codes-only ADC + exact re-rank, recall >= 0.6") {
    val exact = SparkEntry.queries("q25_ann_topk")(spark, sf)
      .select("q_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = SparkEntry.queries("sim_ann_ivfpq")(spark, sf)
      .select("q_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(approx.nonEmpty, "IVF-PQ returned nothing")
    val recall = (approx & exact).size.toDouble / exact.size
    // measured 0.75 at this corpus (pool=50, 4/16 clusters probed);
    // the compression trade vs pure IVF's 0.4 floor is the re-rank pool
    assert(recall >= 0.6, s"IVF-PQ recall $recall")
    // the re-ranked sims are EXACT cosines: every reported sim matches
    // the brute-force value for the same (q, neighbor) pair
    val exactSims = SparkEntry.queries("q25_ann_topk")(spark, sf)
      .select("q_id", "neighbor_id", "sim").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    SparkEntry.queries("sim_ann_ivfpq")(spark, sf)
      .select("q_id", "neighbor_id", "sim").collect()
      .foreach { r =>
        exactSims.get((r.getLong(0), r.getLong(1))).foreach(es =>
          assert(r.getDouble(2) == es, "re-ranked sim must be exact"))
      }
  }

  test("q214 filtered ANN: label predicate pre-filters, ranks stay exact") {
    val rows = SparkEntry.queries("q214_ann_filtered")(spark, sf).collect()
    assert(rows.nonEmpty)
    // every query's label column is constant == its own label, and the
    // neighbor set is exactly the same-label restriction of brute force
    val labels = Tables(spark, sf, "embeddings")
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    rows.foreach { r =>
      val (q, lbl, n) = (r.getLong(0), r.getInt(1), r.getLong(2))
      assert(labels(q) == lbl && labels(n) == lbl,
        s"neighbor $n of query $q must share label $lbl")
    }
    // pre-filter guarantee: K survivors per query (the corpus has far
    // more than K vectors per label), ranks contiguous from 1
    rows.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      assert(rs.map(_.getInt(3)).sorted.toSeq == (1 to rs.length),
        s"ranks broken for $q")
    }
    // filtered top-1 can never beat the unrestricted top-1
    val best = SparkEntry.queries("q25_ann_topk")(spark, sf)
      .filter(col("rk") === 1).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    rows.filter(_.getInt(3) == 1).foreach { r =>
      assert(r.getDouble(4) <= best(r.getLong(0)) + 1e-9)
    }
  }

  test("q216 hard negatives: different-label only, complementary to q214") {
    val neg = SparkEntry.queries("q216_hard_negatives")(spark, sf).collect()
    assert(neg.nonEmpty)
    neg.foreach { r =>
      assert(r.getInt(1) != r.getInt(3),
        s"hard negative must carry a DIFFERENT label: $r")
      assert(r.getInt(4) >= 1 && r.getInt(4) <= 3)
    }
    // a hard negative is never a same-label q214 neighbor of the anchor
    val pos = SparkEntry.queries("q214_ann_filtered")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    neg.foreach { r =>
      assert(!pos.contains((r.getLong(0), r.getLong(2))))
    }
  }

  test("persisted ANN index: serve-from-snapshot == train-and-query") {
    import graft.queries.SimilarityQueries
    val e = Tables(spark, sf, "embeddings")
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding"))
    val root = java.nio.file.Files
      .createTempDirectory("graft-annidx-spec").toString
    SimilarityQueries.persistAnnIndex(e, root)
    val (indexed, arts) = SimilarityQueries.loadAnnIndex(spark, root)
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .toSet
    // IVF-PQ: the snapshot round-trips floats/codes exactly, so serving
    // from it must be BIT-IDENTICAL to training in-query
    assert(canon(SimilarityQueries.annIvfPqFrom(indexed, arts))
      == canon(SimilarityQueries.annIvfPq(e)))
    // IVF: same corpus, same centroids -> same plan output
    val (builtIdx, builtArts) = SimilarityQueries.buildAnnIndex(e)
    assert(canon(SimilarityQueries.annIvfFrom(indexed, arts.coarse))
      == canon(SimilarityQueries.annIvfFrom(builtIdx, builtArts.coarse)))
    // a rebuild commits a NEW version; read() serves the newest, and
    // the previous generation stays readable (index rollback)
    val v2 = SimilarityQueries.persistAnnIndex(e, root)
    assert(v2 == 2L)
    assert(graft.operators.VersionedTable
      .versions(spark, s"$root/index") == Seq(1L, 2L))
    val (oldIdx, _) = SimilarityQueries.loadAnnIndex(spark, root,
      version = Some(1L))
    assert(oldIdx.count() == indexed.count())
  }

  test("sim_ann_serve: snapshot serving launches no training jobs") {
    import graft.queries.SimilarityQueries
    val sc = spark.sparkContext
    // fresh build, measured under its own job group
    SimilarityQueries.AnnIndexCache.cache.evict(spark, sf)
    sc.setJobGroup("ann-build", "index build", interruptOnCancel = false)
    val root = try SimilarityQueries.AnnIndexCache.root(spark, sf)
      finally sc.clearJobGroup()
    val buildJobs = sc.statusTracker.getJobIdsForGroup("ann-build").length
    // steady-state serve from the committed snapshot
    sc.setJobGroup("ann-serve", "steady-state serve",
      interruptOnCancel = false)
    val rows = try SparkEntry.queries("sim_ann_serve")(spark, sf).collect()
      finally sc.clearJobGroup()
    val serveJobs = sc.statusTracker.getJobIdsForGroup("ann-serve").length
    // functional sanity: the larger serve batch answers with ranked k-NN
    assert(rows.nonEmpty && rows.forall(_.getInt(2) <= 10))
    // the pin: the build pays the quantizer training (Lloyd rounds,
    // PQ codebooks, snapshot commits — many jobs); serving is a scan +
    // probe-join + re-rank and must stay a small constant WELL below it
    assert(buildJobs > serveJobs,
      s"build=$buildJobs serve=$serveJobs — serving re-trained?")
    // observed steady state: 11 jobs (snapshot reads + AQE stages for
    // the probe-join and two rank windows); Lloyd alone adds ~2 jobs
    // per round plus codebook collects, so 16 is a real tripwire
    assert(serveJobs <= 16,
      s"serve ran $serveJobs jobs — training crept into the serve path")
    assert(root == SimilarityQueries.AnnIndexCache.root(spark, sf),
      "cache must keep serving the same committed root")
  }

  test("ANN index append: encode-with-existing-codebooks, no retrain") {
    import graft.queries.SimilarityQueries
    import org.apache.spark.sql.functions.{col, lit}
    val e = Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val root = java.nio.file.Files
      .createTempDirectory("graft-annidx-app").toString
    SimilarityQueries.persistAnnIndex(e, root)
    val n1 = SimilarityQueries.loadAnnIndex(spark, root)._1.count()
    // append an EXACT COPY of query vector 0 under a fresh id: the
    // served index must rank it as q0's top neighbor at cosine 1
    val clone = e.filter(col("vec_id") === 0L)
      .select(lit(900000L).as("vec_id"), col("embedding"))
    val v2 = SimilarityQueries.appendToAnnIndex(clone, root)
    assert(v2 == 2L)
    // all three snapshots stay version-aligned
    Seq("index", "coarse", "cb").foreach { t =>
      assert(graft.operators.VersionedTable
        .versions(spark, s"$root/$t") == Seq(1L, 2L), s"misaligned $t")
    }
    val (idx2, arts2) = SimilarityQueries.loadAnnIndex(spark, root)
    assert(idx2.count() == n1 + 1)
    // the appended vector used the EXISTING codebooks: its stored codes
    // equal vec 0's (same embedding, same quantizers)
    val codes = idx2.filter(col("vec_id").isin(0L, 900000L))
      .select("codes").collect().map(_.getSeq[Int](0))
    assert(codes.length == 2 && codes(0) == codes(1))
    val top = SimilarityQueries.annIvfPqFrom(idx2, arts2)
      .filter(col("q_id") === 0L && col("rk") === 1).head()
    assert(top.getLong(1) == 900000L && top.getDouble(3) == 1.0,
      s"appended clone must be q0's exact top neighbor: $top")
    // rollback: version 1 still serves the pre-append index
    assert(SimilarityQueries.loadAnnIndex(spark, root, Some(1L))._1.count()
      == n1)
  }

  test("ANN append writes O(delta) fragments; forget flow reaches serving") {
    import spark.implicits._
    import graft.queries.SimilarityQueries
    import graft.operators.VersionedTable
    import org.apache.spark.sql.functions.{col, lit}
    val e = Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val root = java.nio.file.Files
      .createTempDirectory("graft-annidx-frag").toString
    SimilarityQueries.persistAnnIndex(e, root)
    val n1 = SimilarityQueries.loadAnnIndex(spark, root)._1.count()
    val clone = e.filter(col("vec_id") === 0L)
      .select(lit(900001L).as("vec_id"), col("embedding"))
    val v2 = SimilarityQueries.appendToAnnIndex(clone, root)
    // THE delta contract the round-5 weak was about: the append's data
    // directory holds exactly the arriving rows — not a corpus rewrite
    assert(spark.read.parquet(s"$root/index/data/v=$v2").count() == 1L)
    assert(VersionedTable.versionMeta(spark, s"$root/index")
      .last == ((v2, true)))
    // a replayed append lands as another 1-row fragment; shading keeps
    // the logical index converged
    val v3 = SimilarityQueries.appendToAnnIndex(clone, root)
    assert(spark.read.parquet(s"$root/index/data/v=$v3").count() == 1L)
    assert(SimilarityQueries.loadAnnIndex(spark, root)._1.count() == n1 + 1)
    // compaction folds the chain into one full snapshot; serving output
    // is unchanged and the planted clone still ranks top-1 for q0
    val c = SimilarityQueries.compactAnnIndex(spark, root)
    assert(VersionedTable.versionMeta(spark, s"$root/index")
      .last == ((c, false)))
    val (idxC, artsC) = SimilarityQueries.loadAnnIndex(spark, root)
    assert(idxC.count() == n1 + 1)
    val top = SimilarityQueries.annIvfPqFrom(idxC, artsC)
      .filter(col("q_id") === 0L && col("rk") === 1).head()
    assert(top.getLong(1) == 900001L && top.getDouble(3) == 1.0)
    // FORGET flow: delete must reach the SERVED index, not just the
    // source table — then expire so no time-travelable snapshot serves
    // the vector's bytes
    val del = SimilarityQueries.deleteFromAnnIndex(
      Seq(900001L).toDF("vec_id"), root)
    val (idxD, artsD) = SimilarityQueries.loadAnnIndex(spark, root)
    assert(idxD.filter(col("vec_id") === 900001L).count() == 0L)
    val topD = SimilarityQueries.annIvfPqFrom(idxD, artsD)
      .filter(col("q_id") === 0L && col("rk") === 1).head()
    assert(topD.getLong(1) != 900001L)
    // pre-delete snapshots still serve it — exactly why expire exists
    assert(SimilarityQueries.loadAnnIndex(spark, root, Some(c))._1
      .filter(col("vec_id") === 900001L).count() == 1L)
    Seq("index", "coarse", "cb").foreach { t =>
      VersionedTable.expire(spark, s"$root/$t", del)
    }
    intercept[IllegalArgumentException] {
      SimilarityQueries.loadAnnIndex(spark, root, Some(c))
    }
    assert(SimilarityQueries.loadAnnIndex(spark, root)._1.count() == n1)
  }

  test("touched-parts delete: clean base is byte-copied, doomed bytes gone") {
    import spark.implicits._
    import graft.queries.SimilarityQueries
    import graft.operators.VersionedTable
    import org.apache.spark.sql.functions.{col, lit}
    val e = Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val root = java.nio.file.Files
      .createTempDirectory("graft-annidx-fastdel").toString
    SimilarityQueries.persistAnnIndex(e, root)
    val n1 = SimilarityQueries.loadAnnIndex(spark, root)._1.count()
    // plant TWO fragment rows, then forget only one of them: the base
    // holds neither key, so the delete must take the touched-parts
    // path — base byte-copied as the next full version, the fragment
    // re-committed minus the doomed row
    val clones = e.filter(col("vec_id") === 0L)
      .select(lit(910001L).as("vec_id"), col("embedding"))
      .unionByName(e.filter(col("vec_id") === 1L)
        .select(lit(910002L).as("vec_id"), col("embedding")))
    SimilarityQueries.appendToAnnIndex(clones, root)
    val del = SimilarityQueries.deleteFromAnnIndex(
      Seq(910001L).toDF("vec_id"), root)
    // the delete's own version is a FULL base whose data dir holds
    // exactly the old base's rows (no corpus re-encode, no doomed key);
    // the surviving fragment row re-commits ON TOP as a fragment
    assert(spark.read.parquet(s"$root/index/data/v=$del").count() == n1)
    val meta = VersionedTable.versionMeta(spark, s"$root/index")
    assert(meta.contains((del, false)) && meta.last._2,
      s"expected full copy at $del + surviving fragment on top: $meta")
    assert(spark.read.parquet(s"$root/index/data/v=${meta.last._1}")
      .collect().map(_.getLong(0)).toSeq == Seq(910002L))
    val resolved = SimilarityQueries.loadAnnIndex(spark, root)._1
    assert(resolved.count() == n1 + 1)
    assert(resolved.filter(col("vec_id") === 910001L).count() == 0L)
    // completion: expire drops every pre-delete version and the doomed
    // bytes are in NO remaining file of any of the three tables
    Seq("index", "coarse", "cb").foreach { t =>
      VersionedTable.expire(spark, s"$root/$t", del)
    }
    val remaining = VersionedTable.versions(spark, s"$root/index")
      .map(v => spark.read.parquet(s"$root/index/data/v=$v"))
      .reduce(_ unionByName _)
    assert(remaining.filter(col("vec_id") === 910001L).count() == 0L)
    // version alignment survives the fast path (loadAnnIndex(version)
    // reads all three tables at the same number)
    val nIdx = VersionedTable.versions(spark, s"$root/index").size
    assert(VersionedTable.versions(spark, s"$root/coarse").size == nIdx)
    assert(VersionedTable.versions(spark, s"$root/cb").size == nIdx)
  }

  test("LSH ANN: default setting recall vs brute force >= 0.6") {
    val exact = SparkEntry.queries("q25_ann_topk")(spark, sf)
      .select("q_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = SparkEntry.queries("sim_ann_lsh")(spark, sf)
      .select("q_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(approx.nonEmpty, "LSH ANN returned nothing")
    val recall = (approx & exact).size.toDouble / exact.size
    // 4 planes + hamming-2 multiprobe is the sweep's best setting at
    // this corpus size (500 vectors, neighbors at ~65°)
    assert(recall >= 0.6, s"LSH recall $recall")
  }

  test("semantic dedup: precision 1 vs exact pairs, recall >= 0.5") {
    // ground truth: every (a < b, cosine >= 0.4) pair → b is droppable
    val e = Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) ->
        r.getAs[scala.collection.Seq[Float]]("embedding").toArray)
      .sortBy(_._1)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      if (na == 0 || nb == 0) 0.0 else d / (math.sqrt(na) * math.sqrt(nb))
    }
    val truePairs = (for {
      i <- e.indices; j <- (i + 1) until e.length
      if cos(e(i)._2, e(j)._2) >= 0.4
    } yield (e(i)._1, e(j)._1)).toSet
    val droppable = truePairs.map(_._2)
    // C scales with corpus size (cluster size n/C is the recall knob —
    // the scaladoc's law): this corpus is ~50 vectors, so C = 4 here
    // where the driver entry uses 16 at 10× the rows.
    val edf = Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val dropped = graft.queries.SimilarityQueries
      .semanticDedup(edf, c = 4, thr = 0.4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(dropped.nonEmpty, "semantic dedup dropped nothing")
    // precision is exact by construction: every drop is a real pair
    dropped.foreach { case (b, a) =>
      assert(truePairs((a, b)), s"dropped $b citing $a, not a true pair")
    }
    val recall = dropped.keySet.count(droppable).toDouble / droppable.size
    assert(recall >= 0.5, s"semantic dedup recall $recall")
    // and fewer, smaller clusters can only see MORE within-cluster
    // pairs: C=4 must dominate the C=16 assignment's recall
    val dropped16 = graft.queries.SimilarityQueries
      .semanticDedup(edf, c = 16, thr = 0.4).collect()
      .map(_.getLong(0)).toSet
    val recall16 = dropped16.count(droppable).toDouble / droppable.size
    assert(recall >= recall16 - 1e-9,
      s"C=4 recall $recall below C=16 recall $recall16")
  }

  test("LSH ANN sweep: recall tracks the plane/probe scaling law") {
    import graft.queries.SimilarityQueries
    val e = Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val exact = SparkEntry.queries("q25_ann_topk")(spark, sf)
      .select("q_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recalls = (for (b <- Seq(4, 8, 12); h <- Seq(1, 2)) yield {
      val approx = SimilarityQueries.annLsh(e, b, h)
        .select("q_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (b, h) -> (approx & exact).size.toDouble / exact.size
    }).toMap
    info(recalls.toSeq.sortBy(_._1).map { case ((b, h), r) =>
      f"B=$b h=$h recall=$r%.2f" }.mkString(", "))
    // widening the probe radius at fixed planes can only add candidates
    for (b <- Seq(4, 8, 12))
      assert(recalls((b, 2)) >= recalls((b, 1)),
        s"hamming-2 lost recall vs hamming-1 at B=$b")
    // more planes at fixed radius shrink buckets and shed recall on a
    // 500-vector corpus — the law the scaladoc documents
    assert(recalls((4, 1)) >= recalls((12, 1)),
      "recall should drop as planes grow without widening probes")
    // the production default must be the sweep's best
    assert(recalls((4, 2)) >= recalls.values.max - 1e-9,
      s"default (4,2) is not the best setting: $recalls")
    assert(recalls((4, 2)) >= 0.6, s"best recall ${recalls((4, 2))}")
  }

  test("hash embeddings: unit norm, identical texts collide, disjoint differ") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta"), // identical → identical vector
      (3L, "zeta eta theta iota kappa lambda")) // disjoint tokens
      .toDF("doc_id", "text")
    val rows = graft.queries.SimilarityQueries.hashEmbed(docs, 32)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    val byDoc = rows.groupBy(_._1)
      .view.mapValues(_.map(t => t._2 -> t._3).toMap).toMap
    // unit norm (up to the 1e-6 output rounding)
    byDoc.values.foreach { v =>
      assert(math.abs(v.values.map(x => x * x).sum - 1.0) < 1e-4)
    }
    assert(byDoc(1L) == byDoc(2L), "same text must embed identically")
    assert(byDoc(1L) != byDoc(3L), "disjoint texts must differ")
    // cosine of disjoint-token docs: no shared dims with same sign
    // pattern beyond hash collisions — just assert it differs from 1
    val cos = byDoc(1L).map { case (d, x) =>
      x * byDoc(3L).getOrElse(d, 0.0)
    }.sum
    assert(cos < 0.99, s"disjoint docs should not be near-identical: $cos")
  }

  test("q149 kNN classify: majority label wins, vote ties break to smaller") {
    import spark.implicits._
    // 11 unit-ish 2D vectors; with K=10 every other vector is a
    // neighbor of q_id 0, so its vote is simply the label histogram:
    // five 2s and five 1s -> tie -> smaller label 1 predicted
    val vecs = Seq((0L, Array(1.0f, 0.0f), 9)) ++
      (1 to 5).map(i => (i.toLong, Array(1.0f, i * 0.01f), 2)) ++
      (6 to 10).map(i => (i.toLong, Array(0.0f, 1.0f + i * 0.01f), 1))
    val dir = java.nio.file.Files.createTempDirectory("graft-knn").toString
    vecs.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = graft.queries.SimilarityQueries
      .queries("q149_knn_classify")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    assert(got(0L) == ((1, 5L)),
      s"expected tie-broken label 1 with 5 votes, got ${got(0L)}")
    // a label-2 query has only 4 same-label neighbors left vs 5 ones:
    // its prediction must be 1 with 5 votes too
    assert(got(3L) == ((1, 5L)))
  }

  test("q234 retrieval eval: brute vs itself is perfect; IVF holds the floor") {
    import org.apache.spark.sql.functions._
    import graft.queries.SimilarityQueries
    val gt = SimilarityQueries.queries("q25_ann_topk")(spark, sf)
      .select(col("q_id"), col("neighbor_id"), col("rk"))
    val self = SimilarityQueries.retrievalEval(gt,
      gt.select(col("q_id").as("c_qid"), col("neighbor_id").as("c_nid"),
        col("rk").as("c_rk"))).collect()
    assert(self.nonEmpty)
    self.foreach { r =>
      assert(r.getDouble(1) === 1.0 && r.getDouble(2) === 1.0)
    }
    val eval = SimilarityQueries.queries("q234_retrieval_eval")(spark, sf)
      .collect()
    assert(eval.nonEmpty)
    val meanRecall = eval.map(_.getDouble(1)).sum / eval.length
    assert(meanRecall >= 0.6, s"IVF mean recall $meanRecall below floor")
    eval.foreach { r =>
      assert(r.getDouble(1) >= 0.0 && r.getDouble(1) <= 1.0)
      assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0)
    }
  }

  test("warm-started Lloyd continues the exact trajectory (k then m == k+m)") {
    import org.apache.spark.sql.functions._
    import graft.queries.SimilarityQueries
    val e = Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val full = SimilarityQueries.lloydFit(e, 5, 3, 64)
    val cont = SimilarityQueries.lloydFrom(e,
      SimilarityQueries.lloydFit(e, 5, 2, 64), 1, 64)
    full.zip(cont).zipWithIndex.foreach { case ((f, c), i) =>
      f.zip(c).foreach { case (a, b) =>
        assert(a === b, s"centroid $i diverged: $a vs $b")
      }
    }
    // and the driver entry covers every vector exactly once
    val inc = SimilarityQueries.queries("ml_kmeans_inc")(spark, sf)
    assert(inc.agg(sum("n")).collect().head.getLong(0) ===
      Tables(spark, sf, "embeddings").count())
  }

  test("MMR greedy picks the hand-computed diversity trade-off") {
    import spark.implicits._
    import graft.queries.SimilarityQueries
    // candidates for one query: 1 and 2 are IDENTICAL vectors (both
    // sim 1.0 — rank tie resolves to the smaller id), 3 is orthogonal
    // with sim 0.2. λ = 0.5:
    //  pick 1: score 0.5·1.0 = 0.5 (id tie-break over 2)
    //  pick 2 candidates: #2 scores 0.5·1.0 − 0.5·cos(2,1)=1 → 0.0;
    //    #3 scores 0.5·0.2 − 0.5·0 = 0.1 → DIVERSE #3 wins
    //  pick 3: #2 at 0.0
    val pool = Seq(
      (0L, 1L, 1.0, Array(1.0f, 0.0f)),
      (0L, 2L, 1.0, Array(1.0f, 0.0f)),
      (0L, 3L, 0.2, Array(0.0f, 1.0f)))
      .toDF("q_id", "vec_id", "sim", "embedding")
    val got = SimilarityQueries.mmrSelect(pool, 3, 0.5)
      .orderBy("rk").collect()
      .map(r => (r.getLong(1), r.getInt(2), r.getDouble(4)))
    assert(got.toSeq === Seq((1L, 1, 0.5), (3L, 2, 0.1), (2L, 3, 0.0)))
  }

  test("MMR at λ = 1 degenerates to exact q25 top-k; entry is sane") {
    import graft.queries.SimilarityQueries
    val q25 = SimilarityQueries.queries("q25_ann_topk")(spark, sf)
    val e = Tables(spark, sf, "embeddings")
      .select(col("vec_id").as("cand_id"), col("embedding"))
    val pool = q25.join(e, col("neighbor_id") === col("cand_id"))
      .select(col("q_id"), col("neighbor_id").as("vec_id"), col("sim"),
        col("embedding"))
    val ident = SimilarityQueries.mmrSelect(pool, 10, 1.0)
      .select("q_id", "vec_id", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val want = q25.select("q_id", "neighbor_id", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(ident === want)
    // the shipped λ = 0.7 entry: 10 distinct picks per query drawn
    // from the 50-deep pool, first pick = the exact top-1
    val entry = SimilarityQueries.queries("q245_mmr_rerank")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val perQ = entry.groupBy(_._1)
    val top1 = q25.filter(col("rk") === 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    perQ.foreach { case (q, rows) =>
      assert(rows.length === 10)
      assert(rows.map(_._2).distinct.length === 10)
      assert(rows.map(_._3).sorted.toSeq === (1 to 10))
      assert(rows.find(_._3 == 1).get._2 === top1(q))
    }
  }

  test("LloydFitCache: hit returns the same model; silhouette audits the q85 fit") {
    import graft.queries.{LloydFitCache, SimilarityQueries}
    val m1 = LloydFitCache.corpusFit(spark, sf, k = 5, iters = 2, dim = 64)
    assert(LloydFitCache.corpusFit(spark, sf, k = 5, iters = 2, dim = 64)
      eq m1, "second lookup must be a cache hit")
    // the cached model IS the fresh fit (determinism: vec_id-ordered
    // seed + decimal-exact updates)
    val fresh = SimilarityQueries.lloydFit(
      SimilarityQueries.lloydCorpus(spark, sf), 5, 2, 64)
    assert(m1.length == fresh.length &&
      m1.zip(fresh).forall { case (a, b) => a.sameElements(b) },
      "cached fit must equal a fresh deterministic fit")
    LloydFitCache.cache.evict(spark, sf)
    val m2 = LloydFitCache.corpusFit(spark, sf, k = 5, iters = 2, dim = 64)
    assert(!(m2 eq m1) && m2.zip(m1).forall {
      case (a, b) => a.sameElements(b) },
      "evict must drop the entry; the rebuild is value-identical")
  }
}
