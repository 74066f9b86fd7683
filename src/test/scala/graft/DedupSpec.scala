package graft

import org.apache.spark.sql.Row

import graft.queries.DedupQueries

class DedupSpec extends SparkSpec {

  private def pairs(name: String): Set[(Long, Long)] =
    SparkEntry.queries(name)(spark, sf)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  lazy val exact: Set[(Long, Long)] = pairs("q23_ngram_jaccard")

  test("q259 dup-span runs: islands merge, cap drops boilerplate") {
    import spark.implicits._
    val p = (1 to 12).map("p" + _).mkString(" ")   // 12-token passage
    val q = (1 to 8).map("q" + _).mkString(" ")    // exactly one window
    val r = (1 to 8).map("r" + _).mkString(" ")
    val b = (1 to 8).map("z" + _).mkString(" ")    // boilerplate, 17 docs
    val docs = (Seq(
      (1L, s"a1 a2 $p b1 b2 $q c1 c2 $r"),
      (2L, s"d1 d2 d3 $p e1"),
      (3L, s"f1 $q g1 g2 g3 $r h1")) ++
      (10L to 26L).map(i => (i, s"$b x$i"))).toDF("doc_id", "text")
    val got = DedupQueries.dupSpanRuns(docs).collect()
      .map(x => (x.getLong(0), x.getLong(1)) ->
        ((x.getLong(2), x.getLong(3), x.getLong(4)))).toMap
    // (1,2): the 12-token passage = 5 consecutive windows on ONE
    // diagonal -> a single run of 5 + 7 = 12 tokens. (1,3): q and r are
    // single-window runs on different diagonals -> 2 runs, max 8.
    // The 17-position boilerplate window is over the df cap: no pair
    // among docs 10..26 and none with 1..3.
    assert(got === Map(
      (1L, 2L) -> ((12L, 1L, 5L)),
      (1L, 3L) -> ((8L, 2L, 2L))))
  }

  test("q259 collision seam: window length blocks cross-length hash " +
      "collisions; same-length residual is the documented exposure") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    // three docs with NO shared text; windows (spanTokens=2):
    //   doc 1: "a b", "b c"        (char length 3)
    //   doc 2: "xx yy", "yy zz"    (char length 5)
    //   doc 3: "q r", "r s"        (char length 3)
    val docs = Seq(
      (1L, "a b c"), (2L, "xx yy zz"), (3L, "q r s"))
      .toDF("doc_id", "text")
    // mock the hash seam with a CONSTANT: every window "collides"
    val collided = DedupQueries
      .dupSpanRuns(docs, spanTokens = 2, windowHash = _ => lit(0L))
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // cross-LENGTH collisions are blocked by the (hash, wlen) bucket
    // key: doc 2 (len-5 windows) pairs with nobody
    assert(!collided.exists(p => p._1 == 2L || p._2 == 2L),
      s"length failed to disambiguate a cross-length collision: $collided")
    // same-length collision residual: docs 1 and 3 share window length
    // 3, so the constant hash DOES fabricate their pair — proving the
    // mock bites and pinning the residual exposure the scaladoc states
    assert(collided === Set((1L, 3L)))
    // with the real hash the same corpus has no duplicated window
    assert(DedupQueries.dupSpanRuns(docs, spanTokens = 2).isEmpty)
  }

  test("span_xx_hashes kernel == transform/concat_ws/xxhash64 form " +
      "(corpus text, doubled spaces, non-ASCII, exact-span boundary)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val texts = Tables(spark, sf, "documents").select("text").as[String]
      .take(40).toSeq ++ Seq(
      "a  b c d e f g h i",      // doubled space -> empty token
      "ü ñ ç ø d é x y z",       // multi-byte tokens
      "t1 t2 t3 t4 t5 t6 t7 t8") // exactly one window
    val df = texts.toDF("text").withColumn("tk", split(col("text"), " "))
      .filter(size(col("tk")) >= 8)
    val got = df.select(
      graft.functions.textkernels.span_xx_hashes(col("tk"), 8).as("hs"))
      .collect().map(_.getSeq[Long](0))
    val ref = df.select(expr(
      "transform(sequence(0, size(tk) - 8), " +
        "i -> xxhash64(concat_ws(' ', slice(tk, i + 1, 8))))").as("hs"))
      .collect().map(_.getSeq[Long](0))
    assert(got.toSeq === ref.toSeq)
  }

  test("q261 CDC: chunks reconstruct; one-token insert perturbs <= 3") {
    import spark.implicits._
    val a = (1 to 60).map("t" + _).mkString(" ")
    val b = ((1 to 30).map("t" + _) ++ Seq("INS") ++
      (31 to 60).map("t" + _)).mkString(" ")
    val docs = Seq((1L, a), (2L, b), (3L, a)).toDF("doc_id", "text")
    val ch = DedupQueries.cdcChunkTable(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3),
        r.getString(4), r.getLong(5)))
    // reconstruction: contiguous ascending [s, e] covering every token
    Seq(1L -> 60, 2L -> 61, 3L -> 60).foreach { case (id, n) =>
      val cs = ch.filter(_._1 == id).sortBy(_._2)
      assert(cs.head._3 === 1 && cs.last._4 === n)
      assert(cs.map(_._6).sum === n.toLong)
      cs.sliding(2).foreach { case Array(p, q) => assert(q._3 === p._4 + 1)
        case _ => () }
    }
    val h1 = ch.filter(_._1 == 1L).map(_._5).toSeq.sorted
    val h2 = ch.filter(_._1 == 2L).map(_._5).toSeq.sorted
    val h3 = ch.filter(_._1 == 3L).map(_._5).toSeq.sorted
    // the fixture must actually chunk (content cuts fired)
    assert(h1.size >= 2, s"no content cut fired on the 60-token doc")
    // exact duplicate: identical chunk multiset
    assert(h3 === h1)
    // insert robustness: the edit's +-window neighborhood spans <= 3
    // cut decisions, so at most 3 of doc 1's chunks go unshared (the
    // fixed-stride chunker q81 would realign EVERYTHING after token 30)
    val shared = h1.intersect(h2)
    assert(h1.size - shared.size <= 3,
      s"CDC lost ${h1.size - shared.size} of ${h1.size} chunks to one insert")
  }

  test("q277 cluster profile == histogram of dedup_components sizes") {
    val comp = SparkEntry.queries("dedup_components")(spark, sf)
      .collect().map(_.getLong(1))
    val expected = comp.groupBy(identity).values.map(_.length.toLong)
      .groupBy(identity).map { case (sz, cs) =>
        sz -> ((cs.size.toLong, sz * cs.size)) }
    val got = SparkEntry.queries("q277_dup_cluster_profile")(spark, sf)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === expected)
    // every cluster in the pair graph has at least two members
    assert(got.keys.min >= 2L)
  }

  test("exact n-gram Jaccard finds the planted near-dup pairs") {
    assert(exact.nonEmpty, "sf0.001 should contain planted near-dups")
    exact.foreach { case (a, b) => assert(a < b) }
  }

  test("minhash-LSH equals the exact pair set (recall 1 at J>=0.9 grade)") {
    assert(pairs("q21_minhash_lsh") == exact)
  }

  test("simhash: precision 1 (subset of exact), recall >= 0.8") {
    val sh = pairs("dedup_simhash")
    assert(sh.subsetOf(exact), s"simhash emitted non-near-dup pairs: ${sh -- exact}")
    assert(sh.size >= (exact.size * 0.8).floor.toInt,
      s"simhash recall too low: ${sh.size}/${exact.size}")
  }

  test("weighted simhash: precision 1, recall >= 0.9 (beats unweighted)") {
    val sw = pairs("dedup_simhash_w")
    assert(sw.subsetOf(exact),
      s"weighted simhash emitted non-near-dup pairs: ${sw -- exact}")
    assert(sw.size >= (exact.size * 0.9).floor.toInt,
      s"weighted simhash recall too low: ${sw.size}/${exact.size}")
  }

  test("exact dedup: keepers cover all docs, multiplicity sums to row count") {
    val total = Tables(spark, sf, "documents").count()
    val agg = SparkEntry.queries("q20_exact_dedup")(spark, sf)
      .selectExpr("sum(n_copies)", "count(*)").head()
    assert(agg.getLong(0) == total)
    assert(agg.getLong(1) <= total)
  }

  test("embedding near-dup pairs are symmetric-free and above threshold") {
    val rows = SparkEntry.queries("q24_embedding_dedup")(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getDouble(2) >= 0.4 - 1e-9)
    }
  }

  test("keep-min dedup: keeper <= doc_id; near-dup pairs share a keeper") {
    val keepers = SparkEntry.queries("dedup_keep_min")(spark, sf)
      .select("doc_id", "keeper").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(keepers.forall { case (d, k) => k <= d })
    // single-link through the doc's own buckets: both ends of every
    // exact-verified near-dup pair must resolve to the same keeper
    val agree = exact.count { case (a, b) => keepers(a) == keepers(b) }
    assert(agree >= (exact.size * 0.9).floor.toInt,
      s"only $agree/${exact.size} near-dup pairs share a keeper")
  }

  test("connected components match an in-memory union-find closure") {
    val got = SparkEntry.queries("dedup_components")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // reference union-find over the exact pair list
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    exact.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = parent.keys.map(n => n -> find(n)).toMap
    assert(got == want,
      s"component mismatch: ${got.toSet -- want.toSet} vs ${want.toSet -- got.toSet}")
  }

  test("cluster-best keeper: longest doc wins, ties break to the smaller id") {
    import spark.implicits._
    // component {1,2,3}: doc 2 is longest → keeper. component {10,11}:
    // equal lengths → smaller id 10. labels as dedup_components emits
    val comps = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
      .toDF("doc_id", "component")
    val len = Seq((1L, 5L), (2L, 9L), (3L, 7L), (10L, 4L), (11L, 4L))
      .toDF("doc_id", "n_chars")
    val got = comps.join(len, "doc_id").groupBy("component")
      .agg(org.apache.spark.sql.functions.expr(
        "max_by(doc_id, n_chars * 4294967296 - doc_id)").as("keeper"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 2L, 10L -> 10L))
  }

  test("shingle df cap: inactive at default, prunes hot shingles when low") {
    // default cap is far above any test-corpus df — output identical
    assert(DedupQueries.ngramJaccard(spark, sf, DedupQueries.ShingleFreqCap)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == exact)
    // cap=1 drops every shingle shared by 2+ docs — no pair can surface
    assert(DedupQueries.ngramJaccard(spark, sf, 1).isEmpty,
      "cap=1 must prune all shared shingles")
    // cap=2 keeps only shingles shared by exactly <=2 docs: output is a
    // subset of the exact pair set (capping only ever drops evidence)
    val capped = DedupQueries.ngramJaccard(spark, sf, 2)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.subsetOf(exact), s"cap introduced pairs: ${capped -- exact}")
  }

  test("components: path graph converges; tiny maxIter returns without throwing") {
    import spark.implicits._
    // path 1-2-3-...-8: diameter 7, min-label needs ~7 rounds
    val edges = (1L to 7L).map(i => (i, i + 1)).toDF("a", "b")
    val full = graft.operators.Components.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(full.values.toSet == Set(1L), s"single chain must collapse: $full")
    // maxIter=1 must return (partially propagated, logged) — not throw
    val partial = graft.operators.Components.connectedComponents(edges, maxIter = 1)
      .collect()
    assert(partial.length == 8)
    // one round: every node holds the min of itself and its neighbors
    assert(partial.map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      (1L to 8L).map(i => i -> math.max(1L, i - 1)).toMap)
  }

  test("components match union-find on seeded random graphs") {
    import spark.implicits._
    Seq(3, 11, 29).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      def node() = rnd.nextInt(50).toLong
      val random = Seq.fill(40)((node(), node()))
      val es = random ++
        random.take(10) ++                      // duplicate edges
        random.take(10).map(_.swap) ++          // both orientations
        Seq((7L, 7L), (90L, 90L)) ++            // self-loops, one alone
        Seq.fill(12)((100L, node())) ++         // a hub
        Seq((200L, 201L), (203L, 202L))         // isolated pairs
      val got = graft.operators.Components
        .connectedComponents(es.toDF("a", "b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == unionFind(es), s"seed $seed: components != union-find")
    }
  }

  test("components propagation runs one Spark job per round") {
    import spark.implicits._
    // path 1-2-3-4, diameter 3: labels drop in rounds 1-3 and round 4
    // confirms convergence (only node 4 is still active there)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    var labels: org.apache.spark.sql.DataFrame = null
    val (jobs, _, _) = jobsOf {
      labels = graft.operators.Components.connectedComponents(edges)
    }
    assert(jobs == 4, s"4 rounds should launch 4 jobs, got $jobs")
    assert(labels.collect().map(_.getLong(1)).toSet == Set(1L))
  }

  test("jaccard values are exact rationals in [0.5, 1]") {
    SparkEntry.queries("q23_ngram_jaccard")(spark, sf).collect().foreach {
      case Row(_: Long, _: Long, j: Double) => assert(j >= 0.5 && j <= 1.0)
    }
  }

  /** Reference union-find closure of an edge list. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(n => n -> find(n)).toMap
  }

  test("deep path graph escalates to large-star/small-star and is exact") {
    import spark.implicits._
    // diameter 63 — propagation alone would need 63 rounds; the
    // escalation path must kick in (threshold 8) and finish in O(log d)
    val es = (1L to 63L).map(i => (i, i + 1))
    val got = graft.operators.Components.connectedComponents(es.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == unionFind(es), "star escalation must match union-find")
    assert(got.values.toSet == Set(1L))
  }

  test("star components match union-find on a seeded random graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // 60 nodes, 45 random edges: a mix of chains, cliques and singletons
    val es = Seq.fill(45)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter { case (a, b) => a != b }
    val got = graft.operators.Components
      .starComponents(es.toDF("a", "b"), maxRounds = 20)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == unionFind(es), "starComponents must equal union-find")
  }

  test("iteration snapshots are freed: at most the result stays persisted") {
    import spark.implicits._
    val sc = spark.sparkContext
    def persisted(): Int = sc.getPersistentRDDs.size
    val before = persisted()
    // shallow graph → propagation path (several rounds, several snapshots)
    val labels = graft.operators.Components.connectedComponents(
      (1L to 7L).map(i => (i, i + 1)).toDF("a", "b"))
    labels.collect()
    val afterProp = persisted()
    assert(afterProp - before <= 1,
      s"propagation leaked snapshots: $before -> $afterProp")
    // deep graph → star path (allNodes + final edge set may stay live)
    val star = graft.operators.Components.connectedComponents(
      (1L to 63L).map(i => (i, i + 1)).toDF("a", "b"))
    star.collect()
    val afterStar = persisted()
    assert(afterStar - afterProp <= 3,
      s"star leaked snapshots: $afterProp -> $afterStar")
  }

  test("shingle cache eviction frees the persisted frames") {
    val arrays = graft.queries.ShingleCache.arrays(spark, sf)
    arrays.count()
    assert(arrays.storageLevel.useMemory || arrays.storageLevel.useDisk,
      "cache entry should be persisted after use")
    graft.queries.ShingleCache.cache.evict(spark, sf)
    assert(arrays.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "evict must unpersist the shingle frames")
    // repopulate for any later suite that relies on the cache
    graft.queries.ShingleCache.arrays(spark, sf).count()
  }

  test("containment join equals the exact in-memory subset ratio, both directions") {
    val got = SparkEntry.queries("q108_containment")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    // exact reference from the shingle arrays
    val sets = graft.queries.ShingleCache.arrays(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val want = (for {
      (a, sa) <- sets.toSeq; (b, sb) <- sets.toSeq if a != b
      c = (sa & sb).size.toDouble / sa.size if c >= 0.9
    } yield (a, b) -> c).toMap
    assert(got.keySet == want.keySet,
      s"missing=${want.keySet -- got.keySet} extra=${got.keySet -- want.keySet}")
    want.foreach { case (k, c) => assert(math.abs(got(k) - c) < 1e-12) }
    // the asymmetric payoff: at least one pair must be contained in one
    // direction only (small-in-big), which Jaccard-style symmetry misses
    assert(want.keys.exists { case (a, b) => !want.contains((b, a)) },
      "corpus should exhibit one-directional containment")
  }

  test("pair cache: collapsed graph is connectivity-exact vs q23; eviction frees it") {
    def comps(edges: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      graft.operators.Components.connectedComponents(edges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cached = graft.queries.PairCache.pairs(spark, sf)
    // the sf corpus has no exact copies, so the collapse must be the
    // identity there: edge set == q23's pair list exactly
    val got = cached.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val direct = SparkEntry.queries("q23_ngram_jaccard")(spark, sf)
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == direct && got.nonEmpty)
    assert(cached.storageLevel.useMemory || cached.storageLevel.useDisk)
    graft.queries.PairCache.cache.evict(spark, sf)
    assert(cached.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "evict must unpersist the pair list")

    // with PLANTED exact copies the collapse engages — components must
    // still equal components over the FULL uncollapsed pair graph
    // (node set, partition, and min labels), the round-10 theorem.
    // Family A: doc 1 original, 2-3 exact copies, 4 a one-token edit
    // (near-dup of all); family B: 10 + exact copy 11; 20 unique; 30-31
    // exact copies of a SHORT (<3 tokens) text — ineligible, no edges.
    import spark.implicits._
    val base = (1 to 30).map("w" + _).mkString(" ")
    val edited = (1 to 30).filter(_ != 7).map("w" + _).mkString(" ")
    val other = (1 to 30).map("v" + _).mkString(" ")
    val docs = Seq(
      (1L, base), (2L, base), (3L, base), (4L, edited),
      (10L, other), (11L, other),
      (20L, (1 to 30).map("u" + _).mkString(" ")),
      (30L, "tiny text"), (31L, "tiny text"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-pc").toString
    docs.write.parquet(s"$dir/documents.parquet")
    val collapsed = graft.queries.DedupQueries.connectivityPairGraph(spark, dir)
    val full = SparkEntry.queries("q23_ngram_jaccard")(spark, dir)
      .select("doc_a", "doc_b")
    assert(comps(collapsed) === comps(full))
    assert(comps(collapsed) === Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
    // and every collapsed edge is itself a TRUE pair (star edges are
    // J=1 exact copies; rep pairs are verified) — subset of q23's list
    val ce = collapsed.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fe = full.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ce.subsetOf(fe) && ce.size < fe.size,
      s"collapsed=${ce.size} full=${fe.size}")
    graft.queries.ShingleCache.cache.evict(spark, dir)
  }

  test("prefix-filtered Jaccard equals q23 pair for pair, score for score") {
    val got = SparkEntry.queries("dedup_jaccard_prefix")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2)
        * 1e6))).toSet
    val q23 = SparkEntry.queries("q23_ngram_jaccard")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2)
        * 1e6))).toSet
    assert(got === q23 && got.nonEmpty)
  }

  test("incremental dedup: exact copies, edits, and uniques route correctly") {
    import spark.implicits._
    // doc_id branch map (q75 snapshot arithmetic):
    //   1  -> in A and B unchanged        -> not incoming
    //   2  -> %7==2: NOT in A, in B       -> incoming, EXACT copy of doc 1 -> dropped
    //   3  -> %11==3: not in B            -> irrelevant
    //   5  -> %13==5: edited in B (" v2") -> incoming, near-dup of its A self -> dropped
    //   9  -> %7==2: NOT in A, in B       -> incoming, unique text -> SURVIVES
    //   16 -> %7==2: NOT in A, in B       -> incoming, one-token variant of doc 1 -> near-dup -> dropped
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, base, "en", "s0"),
      (2L, base, "en", "s0"),
      (3L, "never delivered text here at all", "en", "s0"),
      (5L, "one two three four five six seven eight nine ten", "en", "s0"),
      (9L, "completely different words nothing shared with anything else here", "en", "s0"),
      (16L, base.replace("kappa", "lambda"), "en", "s0")
    ).toDF("doc_id", "text", "lang", "source")
    val got = DedupQueries.incrementalDedup(docs)
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(9L), s"only the genuinely new doc survives; got $got")
  }

  test("q229 source overlap: identical sources overlap fully, disjoint not at all") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f", "en", "s1", 11L),
      (2L, "a b c d e f", "en", "s2", 11L), // s2 == s1 vocabulary
      (3L, "x y z w v u", "en", "s3", 11L)) // s3 disjoint from both
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graft-q229").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    try {
      val got = graft.queries.DedupQueries
        .queries("q229_source_overlap")(spark, dir).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getDouble(3), r.getDouble(4)))
      // only the (s1, s2) pair exists; 4 shared 3-grams, both sides 4
      assert(got.toSeq === Seq(("s1", "s2", 4L, 1.0, 1.0)))
    } finally graft.queries.ShingleCache.cache.evict(spark, dir)
  }

  test("q229 source overlap on driver data: bounded, symmetric-free, sane") {
    val rows = graft.queries.DedupQueries
      .queries("q229_source_overlap")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (s1, s2, inter, cont, jac) =>
      assert(s1 < s2, "each pair appears in one canonical orientation")
      assert(inter > 0)
      assert(cont > 0.0 && cont <= 1.0)
      assert(jac > 0.0 && jac <= cont + 1e-9,
        "jaccard cannot exceed containment")
    }
  }

  test("bloom reference dedup equals the plain anti-join exactly") {
    import spark.implicits._
    import graft.queries.DedupQueries
    import org.apache.spark.sql.functions.col
    // 10 of the 40 arrivals were already ingested; 30 are new
    val reference = (1 to 50).map(i => s"ref-$i").toDF("h")
    val arrivals = ((41 to 50).map(i => s"ref-$i") ++
      (1 to 30).map(i => s"new-$i")).zipWithIndex
      .map { case (h, i) => (i.toLong, h) }.toDF("id", "h")
    val got = DedupQueries.bloomReferenceDedup(arrivals, reference, "h")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val plain = arrivals.join(reference, Seq("h"), "left_anti")
      .select(col("id"), col("h"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got === plain)
    assert(got.size === 30 && got.forall(_._2.startsWith("new-")))
    // empty reference: everything passes, no join at all
    val none = DedupQueries.bloomReferenceDedup(
      arrivals, reference.filter(col("h") === "nope"), "h")
    assert(none.count() === arrivals.count())
    // the shipped entry equals its own plain anti-join at this SF
    val entry = SparkEntry.queries("q241_bloom_ref_dedup")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    val docs = Tables(spark, sf, "documents")
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        org.apache.spark.sql.functions.md5(col("text")).as("ch"))
    val m = docs.agg(org.apache.spark.sql.functions.max(col("doc_id")))
      .head().getLong(0)
    val expected = docs.filter(col("doc_id") * 10 >= m * 4)
      .join(docs.filter(col("doc_id") * 10 <= m * 6).select(col("ch")),
        Seq("ch"), "left_anti")
      .collect().map(r => r.getLong(1)).toSet
    assert(entry === expected)
  }

  test("dedup threshold sweep agrees with the q23 pair list at every band") {
    val pairs = SparkEntry.queries("q23_ngram_jaccard")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val sweep = SparkEntry.queries("q257_dedup_sweep")(spark, sf)
      .collect().map(r => r.getDouble(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(pairs.nonEmpty && sweep.nonEmpty)
    Seq(0.5, 0.6, 0.7, 0.8, 0.9).foreach { t =>
      val surviving = pairs.filter(_._3 >= t)
      val expectPairs = surviving.length.toLong
      val expectDocs = surviving
        .flatMap(p => Seq(p._1, p._2)).distinct.length.toLong
      sweep.get(t) match {
        case Some((np, nd)) =>
          assert(np === expectPairs && nd === expectDocs,
            s"band $t: got ${sweep(t)}, want ($expectPairs, $expectDocs)")
        case None =>
          assert(expectPairs === 0L, s"band $t missing with pairs present")
      }
    }
    // strictness is monotone: tighter bands keep (weakly) fewer pairs
    val present = sweep.toSeq.sortBy(_._1).map(_._2._1)
    assert(present.zip(present.drop(1)).forall { case (a, b) => a >= b })
  }
}
