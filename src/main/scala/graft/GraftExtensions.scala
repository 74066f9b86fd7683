package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{BloomAgg, BloomContains, DamerauLevenshtein, DeflateLen, FreqItemsAgg, InterleaveBits, JaroWinkler, MinHashSigAgg, NfcNormalize, OphSigAgg, SimHashSigAgg, TopKAgg, VectorDot, VectorCosine, VectorNorm, WeightedSimHashSigAgg}

/** SparkSessionExtensions entry point, the one install path for graft's
  * plan pieces: its custom Catalyst expressions as SQL functions (so
  * `spark.sql("... vec_cosine(a,b) ...")` works), three conf-gated
  * optimizer rules and the as-of join strategy. [[GraftSession]] loads it
  * into every session it builds (and their `newSession()`s); a session
  * built some other way needs
  * `--conf spark.sql.extensions=graft.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    // conf-gated logical rewrites (inert until their conf key is set)
    ext.injectOptimizerRule(_ => graft.plans.RangeJoinRewrite)
    ext.injectOptimizerRule(_ => graft.plans.ApproxDistinctRewrite)
    ext.injectOptimizerRule(_ => graft.plans.MvRewrite)
    // physical strategy for the native as-of join logical node
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}

object GraftExtensions {
  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "scala_udf")

  val functions: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq(
      ("vec_dot", info("vec_dot",
        "vec_dot(a, b) - double-precision dot product of two float vectors"),
        (es: Seq[Expression]) => VectorDot(es(0), es(1))),
      ("vec_norm", info("vec_norm",
        "vec_norm(a) - L2 norm of a float vector"),
        (es: Seq[Expression]) => VectorNorm(es(0))),
      ("vec_cosine", info("vec_cosine",
        "vec_cosine(a, b) - cosine similarity of two float vectors"),
        (es: Seq[Expression]) => VectorCosine(es(0), es(1))),
      ("top_k", info("top_k",
        "top_k(struct, k) - k smallest struct values per group, sorted"),
        (es: Seq[Expression]) => TopKAgg(es(0), intArg(es(1)))),
      ("approx_top_k", info("approx_top_k",
        "approx_top_k(item, capacity, k) - Misra-Gries heavy hitters"),
        (es: Seq[Expression]) =>
          FreqItemsAgg(es(0), intArg(es(1)), intArg(es(2)))),
      ("oph_sig", info("oph_sig",
        "oph_sig(h, n) - n-slot one-permutation minhash signature"),
        (es: Seq[Expression]) => OphSigAgg(es(0), intArg(es(1)))),
      ("minhash_sig", info("minhash_sig",
        "minhash_sig(h1, h2, n) - n-element double-hashing minhash signature"),
        (es: Seq[Expression]) =>
          MinHashSigAgg(es(0), es(1), intArg(es(2)))),
      ("simhash_sig", info("simhash_sig",
        "simhash_sig(h) - packed 64-bit simhash of a group's hashes"),
        (es: Seq[Expression]) => SimHashSigAgg(es(0))),
      ("simhash_sig_w", info("simhash_sig_w",
        "simhash_sig_w(h, w) - weighted packed 64-bit simhash"),
        (es: Seq[Expression]) => WeightedSimHashSigAgg(es(0), es(1))),
      ("bloom_agg", info("bloom_agg",
        "bloom_agg(h, numBits, numHashes) - Bloom filter over a group's long hashes (binary)"),
        (es: Seq[Expression]) => BloomAgg(es(0), intArg(es(1)), intArg(es(2)))),
      ("bloom_contains", info("bloom_contains",
        "bloom_contains(bloom, h, numHashes) - probe a built Bloom filter"),
        (es: Seq[Expression]) => BloomContains(es(0), es(1), intArg(es(2)))),
      ("deflate_len", info("deflate_len",
        "deflate_len(s) - deflate-compressed byte length of a string"),
        (es: Seq[Expression]) => DeflateLen(es(0))),
      ("interleave_bits", info("interleave_bits",
        "interleave_bits(x, y) - 64-bit Morton (Z-order) key of two 32-bit ints"),
        (es: Seq[Expression]) => InterleaveBits(es(0), es(1))),
      ("nfc_normalize", info("nfc_normalize",
        "nfc_normalize(s) - UAX#15 NFC canonical Unicode normalization"),
        (es: Seq[Expression]) => NfcNormalize(es(0))),
      ("dam_lev", info("dam_lev",
        "dam_lev(a, b) - unrestricted Damerau-Levenshtein edit distance"),
        (es: Seq[Expression]) => DamerauLevenshtein(es(0), es(1))),
      ("jaro_winkler", info("jaro_winkler",
        "jaro_winkler(a, b) - Jaro-Winkler similarity in [0, 1]"),
        (es: Seq[Expression]) => JaroWinkler(es(0), es(1))),
      ("sum128", info("sum128",
        "sum128(x) - exact 128-bit sum of a pre-scaled LONG column " +
          "(decimal(38,0) result; the fast path of the exact-sum " +
          "discipline)"),
        (es: Seq[Expression]) =>
          graft.functions.Sum128(es(0)).toAggregateExpression()))

  /** Constant int argument of a SQL call (e.g. the k in top_k(s, 3));
    * a column reference can't be evaluated without a row, so it is
    * rejected before `eval`.
    */
  private def intArg(e: Expression): Int =
    (if (e.foldable) e.eval(null) else e.sql) match {
      case i: Int => i
      case l: Long => l.toInt
      case other => throw new IllegalArgumentException(
        s"expected a constant integer argument, got $other")
    }
}
