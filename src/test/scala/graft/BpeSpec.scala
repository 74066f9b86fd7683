package graft

import org.apache.spark.sql.functions._

import graft.queries.BpeOps

class BpeSpec extends SparkSpec {
  import spark.implicits._

  // hand-computable corpus: "ab" x3, "cd" x1 →
  //   round 1 pairs: (a,b)=3, (b,</w>)=3, (c,d)=1, (d,</w>)=1
  //     → tie (a,b)/(b,</w>) breaks lexicographically → merge (a,b)
  //   round 2: (ab,</w>)=3 wins → merge (ab,</w>)
  //   round 3: (c,d)=1, (d,</w>)=1 — below the repeat threshold → stop
  private def tinyCorpus = Seq(
    (1L, "ab ab"), (2L, "ab cd")).toDF("doc_id", "text")

  test("train learns the hand-computed ranked merges and stops when dry") {
    val merges = BpeOps.train(tinyCorpus, numMerges = 10)
      .orderBy("rank")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3)))
    assert(merges.toSeq == Seq(
      (1, "a", "b", "ab"),
      (2, "ab", BpeOps.EowMarker, "ab" + BpeOps.EowMarker)))
  }

  test("trainLocal == train: crafted corpus and driver documents") {
    // the driver-local production path must reproduce the distributed
    // merge table EXACTLY — same counts, same (n desc, a, b) tie order,
    // same non-overlapping fold, same early stop
    val local = BpeOps.trainLocal(tinyCorpus, numMerges = 10)
      .orderBy("rank").collect().map(_.toSeq)
    val dist = BpeOps.train(tinyCorpus, numMerges = 10)
      .orderBy("rank").collect().map(_.toSeq)
    assert(local.toSeq == dist.toSeq)
    val docs = graft.Tables(spark, sf, "documents")
    val l2 = BpeOps.trainLocal(docs, numMerges = 12)
      .orderBy("rank").collect().map(_.toSeq)
    val d2 = BpeOps.train(docs, numMerges = 12)
      .orderBy("rank").collect().map(_.toSeq)
    assert(l2.length == 12 && l2.toSeq == d2.toSeq)
  }

  test("encodeWord replays training greedily, lowest rank first") {
    val rank = Map(("a", "b") -> 0, ("ab", BpeOps.EowMarker) -> 1)
    assert(BpeOps.encodeWord("ab", rank) == Seq("ab" + BpeOps.EowMarker))
    assert(BpeOps.encodeWord("cd", rank) ==
      Seq("c", "d", BpeOps.EowMarker))
    // "aab": rank-0 (a,b) merges first → [a, ab, </w>], then rank-1
    // (ab, </w>) applies → [a, ab</w>]
    assert(BpeOps.encodeWord("aab", rank) ==
      Seq("a", "ab" + BpeOps.EowMarker))
    // overlap semantics: "aaa" under (a,a) merges non-overlapping L→R
    assert(BpeOps.encodeWord("aaa", Map(("a", "a") -> 0)) ==
      Seq("aa", "a", BpeOps.EowMarker))
  }

  test("encode == training state on the training corpus") {
    // the classic consistency property: applying the learned merges via
    // the lowest-rank-first encode loop reproduces exactly the symbol
    // sequences the trainer ended with
    val docs = Tables(spark, sf, "documents").limit(50)
    val mergeRows = BpeOps.train(docs, numMerges = 12).orderBy("rank")
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    val rank = mergeRows.zipWithIndex.toMap
    // trainer's final state, recomputed by folding merges in rank order
    var w = BpeOps.wordTable(docs)
    val trained = w.collect().map { r =>
      val word = r.getString(0)
      var syms = word.map(_.toString).toVector :+ BpeOps.EowMarker
      mergeRows.foreach { case (a, b) =>
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
            out += (a + b); i += 2
          } else { out += syms(i); i += 1 }
        }
        syms = out.result()
      }
      word -> syms
    }.toMap
    trained.foreach { case (word, expected) =>
      assert(BpeOps.encodeWord(word, rank) == expected,
        s"encode('$word') diverges from training state")
    }
  }

  test("query entries: ranked table, per-doc stats, cached single train") {
    BpeOps.MergeCache.cache.evict(spark, sf)
    val table = SparkEntry.queries("text_bpe_train")(spark, sf)
      .orderBy("rank").collect()
    assert(table.nonEmpty && table.length <= BpeOps.NumMerges)
    assert(table.map(_.getInt(0)).toSeq == (1 to table.length))
    table.foreach(r => assert(r.getString(3) ==
      r.getString(1) + r.getString(2)))
    val enc = SparkEntry.queries("text_bpe_encode")(spark, sf)
    val rows = enc.collect()
    assert(rows.length == Tables(spark, sf, "documents").count())
    rows.foreach { r =>
      assert(r.getLong(2) >= r.getLong(1),
        "a word is at least one subword")
    }
    BpeOps.MergeCache.cache.evict(spark, sf)
  }

  test("fertility: hand-computed per-language subword/char ratios") {
    import spark.implicits._
    // crafted merges: ("a","b") then ("ab","c"); every word carries the
    // end-of-word marker symbol — "abc" → [abc, </w>] (2 subwords),
    // "abd" → [ab, d, </w>] (3), "xy" → [x, y, </w>] (3)
    val merges = Seq(("a", "b"), ("ab", "c"))
    val docs = Seq(
      (1L, "abc abd", "en", 7L),   // words 2, subwords 2+3=5
      (2L, "abc", "en", 3L),       // words 1, subwords 2
      (3L, "xy xy xy", "fr", 8L))  // words 3, subwords 9
      .toDF("doc_id", "text", "lang", "n_chars")
    val got = graft.queries.BpeOps.fertility(docs, merges).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5))).toSet
    assert(got == Set(
      ("en", 2L, 3L, 7L, 2.3333, 1.4286),  // 7/3 subwords/word, 10/7
      ("fr", 1L, 3L, 9L, 3.0, 0.8889)),    // 9/3, 8/9
      got.toString)
  }

  test("fertility entry: every language covered, ratios positive") {
    val rows = SparkEntry.queries("text_bpe_fertility")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(4) >= 1.0,
        "a whitespace word is at least one subword")
      assert(r.getDouble(5) > 0.0)
    }
  }
}
