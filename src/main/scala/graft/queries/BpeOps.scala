package graft.queries

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Byte-pair-encoding subword tokenizer [Sennrich et al., ACL'16] — the
  * LLM-pipeline text primitive past whitespace tokens: TRAIN learns a
  * ranked merge table from the corpus, ENCODE applies it to produce
  * subword sequences.
  *
  * Scale shape (the reason this is distributed-shaped at all):
  *
  *  - The training working set is the WORD FREQUENCY table, not the
  *    corpus — vocabulary grows sublinearly in corpus size (Heaps' law),
  *    so after the one corpus-sized tokenize+count shuffle every merge
  *    round runs on vocabulary-scale data: one pair-count aggregation
  *    (map-side combined, weighted by word count) + one narrow
  *    fold-merge map. The argmax pair is ONE row collected per round.
  *  - Iteration discipline matches [[graft.operators.PageRank]]: each
  *    round's word table is localCheckpoint'ed (the fold-merge lambda
  *    would otherwise nest per round and blow up analysis), the
  *    superseded snapshot is unpersisted — ≤ 2 live at any instant.
  *  - ENCODE broadcasts the merge table (KB metadata — the IVF-centroid
  *    class) inside a deterministic per-word UDF. A UDF is the honest
  *    tool here: the lowest-rank-first merge loop is genuinely
  *    imperative per-row logic with a data-dependent iteration count,
  *    not something Catalyst expressions express without one nested
  *    lambda per merge.
  *
  * Both entries are rows-only for the driver (the trainer is an
  * iterative driver loop, not one SQL statement); BpeSpec pins known
  * merges and encodings on a crafted corpus and train/encode
  * consistency.
  */
object BpeOps {

  /** End-of-word marker appended to every word's symbol sequence, so
    * merges distinguish word-final units ("est</w>") from word-internal
    * ones — the standard Sennrich setup.
    */
  val EowMarker = "</w>"

  /** Merge-table size for the driver query entries. */
  val NumMerges = 20

  /** (word, cnt, syms) — the vocabulary-sized training working set.
    * One corpus shuffle, ever.
    */
  private[graft] def wordTable(docs: DataFrame): DataFrame =
    docs.select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .withColumn("syms", concat(
        expr("filter(split(word, ''), c -> c != '')"),
        array(lit(EowMarker))))

  /** Left-to-right greedy replacement of adjacent (a, b) with a||b — the
    * same non-overlapping semantics as the reference algorithm's regex
    * substitution ("aaa" under (a,a) → [aa, a]).
    */
  private def foldMerge(syms: Column, a: String, b: String): Column =
    aggregate(syms, array().cast("array<string>"), (acc, x) =>
      when(size(acc) > 0 && element_at(acc, -1) === lit(a) && x === lit(b),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(x))))

  /** Train `numMerges` BPE merges over `docs.text`. Returns the ranked
    * merge table (rank, left, right, merged) — rank 1 first. Ties on
    * pair count break lexicographically (deterministic across runs and
    * partitionings). Stops early when no adjacent pair repeats.
    */
  def train(docs: DataFrame, numMerges: Int = NumMerges): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    var w = wordTable(docs).localCheckpoint(true)
    val merges = mutable.ArrayBuffer[(Int, String, String, String)]()
    var r = 1
    var done = false
    while (r <= numMerges && !done) {
      // pair counts over the vocabulary table; ONE row to the driver
      // guard fully-merged single-symbol words: sequence(0, -1) is the
      // DESCENDING [0, -1], not empty (the fuzzyPairs lesson)
      val top = w.select(col("cnt"), explode(expr(
          "case when size(syms) >= 2 then " +
            "transform(sequence(0, size(syms) - 2), " +
            "i -> struct(syms[i] AS a, syms[i+1] AS b)) " +
            "else array() end")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("cnt")).as("n"))
        .filter(col("n") >= 2)
        .orderBy(col("n").desc, col("a"), col("b"))
        .limit(1).collect()
      if (top.isEmpty) done = true
      else {
        val (a, b) = (top(0).getString(0), top(0).getString(1))
        merges += ((r, a, b, a + b))
        val next = w.withColumn("syms", foldMerge(col("syms"), a, b))
          .localCheckpoint(true)
        org.apache.spark.sql.graft.ColumnBridge.unpersistCheckpoint(w)
        w = next
        r += 1
      }
    }
    org.apache.spark.sql.graft.ColumnBridge.unpersistCheckpoint(w)
    merges.toSeq.toDF("rank", "left", "right", "merged")
  }

  /** Driver-local BPE training — the PRODUCTION-merge-count path.
    *
    * [[train]] runs one Spark job per merge round; at the spec'd merge
    * counts (tens) that is the honest distributed form, but a
    * production vocabulary (32k merges, the SentencePiece regime) would
    * mean 32k sequential cluster jobs over data that is only
    * vocabulary-sized after the first shuffle. This twin collects the
    * word-frequency histogram ONCE (Heaps'-law bounded — KB..MB at any
    * corpus size; the same table [[train]] iterates on) and runs the
    * merge loop on the driver, returning the identical ranked merge
    * table (BpeSpec pins local == distributed on the crafted corpus and
    * on driver data).
    *
    * Crossover: per-round cost is O(total symbols in the histogram) both
    * ways; the distributed round adds ~0.1–1 s of job scheduling, so
    * local wins whenever `numMerges × jobOverhead` exceeds the one-time
    * histogram collect — i.e. essentially always once merges reach the
    * hundreds, provided the histogram fits driver memory (it does, by
    * Heaps' law, until vocabulary ~10⁸ types).
    */
  def trainLocal(docs: DataFrame, numMerges: Int = NumMerges): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // ONE corpus shuffle, ONE collect of the vocabulary histogram
    var words: Array[(Array[String], Long)] =
      wordTable(docs).select(col("syms"), col("cnt")).collect()
        .map(r => (r.getAs[scala.collection.Seq[String]]("syms").toArray,
          r.getLong(1)))
    val merges = mutable.ArrayBuffer[(Int, String, String, String)]()
    var r = 1
    var done = false
    while (r <= numMerges && !done) {
      // weighted adjacent-pair counts over the histogram
      val counts = mutable.Map[(String, String), Long]()
      words.foreach { case (syms, cnt) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          counts(k) = counts.getOrElse(k, 0L) + cnt
          i += 1
        }
      }
      // argmax with the EXACT distributed tie order: n desc, a, b lex
      val best = counts.filter(_._2 >= 2L)
      if (best.isEmpty) done = true
      else {
        val ((a, b), _) = best.minBy { case ((a, b), n) => (-n, a, b) }
        merges += ((r, a, b, a + b))
        // same left-to-right non-overlapping fold as [[foldMerge]]
        words = words.map { case (syms, cnt) =>
          val out = Array.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
              out += (a + b); i += 2
            } else { out += syms(i); i += 1 }
          }
          (out.result(), cnt)
        }
        r += 1
      }
    }
    merges.toSeq.toDF("rank", "left", "right", "merged")
  }

  /** Encode one word against a rank map: repeatedly merge ALL
    * occurrences of the present pair with the LOWEST rank — the
    * canonical BPE encode loop, which reproduces exactly the training
    * state on training data.
    */
  private[graft] def encodeWord(word: String,
      rank: Map[(String, String), Int]): Seq[String] = {
    var syms = word.map(_.toString).toVector :+ EowMarker
    var continue = true
    while (continue && syms.length > 1) {
      val best = syms.zip(syms.tail)
        .flatMap(p => rank.get(p).map(p -> _))
      if (best.isEmpty) continue = false
      else {
        val (a, b) = best.minBy(_._2)._1
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
            out += (a + b); i += 2
          } else { out += syms(i); i += 1 }
        }
        syms = out.result()
      }
    }
    syms
  }

  /** Per-document subword statistics under a trained merge table:
    * (doc_id, n_words, n_subwords, subwords_per_word). The merge table
    * rides the closure as KB metadata.
    */
  def encode(docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val rank = merges.zipWithIndex.toMap
    val encUdf = udf((words: Seq[String]) =>
      words.map(w => encodeWord(w, rank).length.toLong).sum)
    docs
      .withColumn("tk", expr("filter(split(text, ' '), w -> w != '')"))
      .select(col("doc_id"), size(col("tk")).cast("long").as("n_words"),
        encUdf(col("tk")).as("n_subwords"))
      .withColumn("subwords_per_word",
        round(col("n_subwords") / col("n_words"), 4))
  }

  /** Session-scoped merge-table cache so the train+encode query pair
    * doesn't train twice (entries are KB-scale strings). Lifecycle:
    * [[graft.SessionCache]].
    */
  private[graft] object MergeCache {
    private[graft] val cache =
      new graft.SessionCache[Unit, Seq[(String, String)]](_ => ())
    def merges(s: SparkSession, d: String): Seq[(String, String)] =
      cache(s, d, ()) {
        // trainLocal: identical merge table (BpeSpec pins == train),
        // one histogram collect instead of one cluster job per merge
        trainLocal(Tables(s, d, "documents")).orderBy("rank")
          .collect().map(r => (r.getString(1), r.getString(2))).toSeq
      }
  }

  /** Per-language tokenizer FERTILITY audit [Rust et al., ACL'21's
    * multilingual-tokenizer metric]: subwords per whitespace word and
    * characters per subword, aggregated from the per-doc encode pass —
    * the standard screen for "this tokenizer fragments language X".
    * All sums are integer-exact; one bounded-key (per-language)
    * aggregation over the encode output.
    */
  def fertility(docs: DataFrame, merges: Seq[(String, String)]): DataFrame =
    encode(docs, merges)
      .join(docs.select(col("doc_id"), col("lang"), col("n_chars")),
        "doc_id")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_words"),
        sum(col("n_subwords")).as("n_subwords"),
        round(sum(col("n_subwords")) / sum(col("n_words")).cast("double"),
          4).as("fertility"),
        round(sum(col("n_chars")) / sum(col("n_subwords")).cast("double"),
          4).as("chars_per_subword"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_bpe_train" -> ((s, d) => {
      import s.implicits._
      MergeCache.merges(s, d).zipWithIndex
        .map { case ((a, b), i) => (i + 1, a, b, a + b) }
        .toDF("rank", "left", "right", "merged")
    }),
    "text_bpe_encode" -> ((s, d) =>
      encode(Tables(s, d, "documents"), MergeCache.merges(s, d))),
    // rows-only (the BPE merge table is engine-specific); BpeSpec pins
    // a hand-computed fertility on a crafted two-language corpus
    "text_bpe_fertility" -> ((s, d) =>
      fertility(Tables(s, d, "documents"), MergeCache.merges(s, d)))
  )

  def oracle: Map[String, String] = Map.empty
}
