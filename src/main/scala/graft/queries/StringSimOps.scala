package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.stringdistances.{dam_lev, jaro_winkler}
import graft.operators.GlobalRank

/** Record-linkage string similarity (SURVEY.md §2.11 [EXT]) — the fuzzy
  * matching layer the reference's text pipeline implies but cannot
  * express (its records are opaque lines): Damerau-Levenshtein and
  * Jaro-Winkler as custom codegen kernels (see
  * [[graft.functions.StringDistance]]), applied in the two standard
  * shapes:
  *
  *  - q139 blocked fuzzy pair join: candidate pairs come from an equi-
  *    join on a blocking key (p_brand) — never an all-pairs cross join —
  *    then the O(n·m) distance kernel verifies only within-block pairs.
  *    At 100 TB the blocking key bounds per-task work exactly like the
  *    q91 deletion-neighborhood and q23 inverted-index joins; the kernel
  *    is integer-exact so the oracle hash-compares with no rounding.
  *  - q140 per-row metric columns: a narrow scan computing all three
  *    measures (builtin levenshtein + the two custom kernels) — the
  *    profiling pass a linkage pipeline runs before choosing thresholds.
  *
  * Both oracle-checked: DuckDB ships the same textbook definitions
  * (unrestricted DL; Jaro-Winkler with boost threshold 0.7, p=0.1,
  * prefix<=4 — verified constants, see StringDistances.scala).
  */
object StringSimOps {

  /** Max Damerau-Levenshtein distance for a q139 fuzzy match. */
  private val MaxDist = 2

  /** q160 sorted-neighborhood window: each record pairs with its next
    * `SnmWindow` successors in global sort order.
    */
  private val SnmWindow = 3

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q139_fuzzy_pairs" -> ((s, d) => {
      // KERNEL WORK RUNS ON THE NAME VOCABULARY, NOT THE ROW COUNT: a
      // duplicate-heavy key column (the norm for product/entity names)
      // makes row-level pairing quadratic in block population — the 10x
      // scale smoke measured the row-pair form at 100x the work for 0
      // new DISTINCT names. So: dedupe to (brand, name), pair + verify
      // THERE, and expand winners back to part keys by two equi-joins.
      // Kernel cost is now vocabulary-bounded; only the expansion scales
      // with the output.
      // per-NAME char-class histogram: an edit moves the 4-bucket
      // histogram by at most 2 (substitution), 1 (indel) or 0
      // (transposition), so dl <= MaxDist implies pairwise L1 distance
      // <= 2*MaxDist — a SOUND prune costing 8 integer ops per pair
      def sig(i: Int, lo: String, hi: String) =
        size(filter(split(col("name"), ""),
          x => x >= lit(lo) && x <= lit(hi))).as(s"s$i")
      val p = Tables(s, d, "part")
        .select(col("p_partkey"), col("p_brand"), col("p_name"))
      val dn = p.select(col("p_brand").as("brand"), col("p_name").as("name"))
        .distinct()
        .select(col("brand"), col("name"), sig(1, "a", "g"),
          sig(2, "h", "n"), sig(3, "o", "t"), sig(4, "u", "z"))
      val cand = dn.as("a").join(dn.as("b"),
        col("a.brand") === col("b.brand")
          && col("a.name") <= col("b.name"))
      val l1 = (1 to 4).map(i =>
        abs(col(s"a.s$i") - col(s"b.s$i"))).reduce(_ + _)
      // filter ladder, cheapest first, each SOUND for dl <= MaxDist:
      // length gap (dl >= |len gap|), histogram L1, banded builtin
      // levenshtein (dl >= lev/2 — a transposition costs 1 in DL, 2 in
      // lev — and the 3-arg form early-exits at the threshold), then
      // the exact kernel on the near-miss survivors only
      val namePairs = cand
        .filter(abs(length(col("a.name")) - length(col("b.name")))
          <= MaxDist)
        .filter(l1 <= 2 * MaxDist)
        .filter(levenshtein(col("a.name"), col("b.name"),
          2 * MaxDist) >= 0)
        .select(col("a.brand").as("brand"),
          col("a.name").as("name_a"), col("b.name").as("name_b"),
          dam_lev(col("a.name"), col("b.name")).as("dl_dist"),
          round(jaro_winkler(col("a.name"), col("b.name")), 6).as("jw_sim"))
        .filter(col("dl_dist") <= MaxDist)
      // expand: each unordered part pair materializes exactly once —
      // name_a < name_b pairs once per (pa, pb) combo, the diagonal
      // (identical names, dl = 0) once per key-ordered combo
      namePairs
        .join(p.as("pa"), col("brand") === col("pa.p_brand")
          && col("name_a") === col("pa.p_name"))
        .join(p.as("pb"), col("brand") === col("pb.p_brand")
          && col("name_b") === col("pb.p_name"))
        .filter(col("name_a") < col("name_b")
          || col("pa.p_partkey") < col("pb.p_partkey"))
        .select(least(col("pa.p_partkey"), col("pb.p_partkey")).as("key_a"),
          greatest(col("pa.p_partkey"), col("pb.p_partkey")).as("key_b"),
          col("dl_dist"), col("jw_sim"))
    }),

    "q140_string_metrics" -> ((s, d) =>
      Tables(s, d, "part")
        .select(col("p_partkey"),
          levenshtein(col("p_name"), col("p_type")).as("lev_dist"),
          dam_lev(col("p_name"), col("p_type")).as("dl_dist"),
          round(jaro_winkler(col("p_name"), col("p_type")), 6).as("jw_sim"))),

    // q160 sorted-neighborhood linkage (Hernández & Stolfo SIGMOD'95):
    // the OTHER classic record-linkage blocking — where q139 blocks on a
    // key, SNM sorts the whole relation and pairs each record with its
    // next `SnmWindow` neighbors, catching near-dups whose blocking key
    // itself is dirty. The global sort position comes from
    // [[graft.operators.GlobalRank]] (range buckets + per-bucket prefix
    // sums + prefix offsets — NO single-partition window), the neighbor
    // pairing is an equi-join on rank (a-side exploded to rn+1..rn+w,
    // never a non-equi join), and the DL kernel verifies only the w·n
    // candidate pairs — linear in the corpus.
    "q160_sorted_neighborhood" -> ((s, d) => {
      val c = Tables(s, d, "customer")
        .select(col("c_custkey"), col("c_name"))
      val r = GlobalRank.withRank(c, "rn", col("c_name"), col("c_custkey"))
      val probes = r.select(col("c_custkey").as("key_a"),
          col("c_name").as("name_a"),
          explode(array((1 to SnmWindow).map(k => col("rn") + k): _*))
            .as("nbr"))
      probes.join(r.as("b"), col("nbr") === col("b.rn"))
        .select(col("key_a"), col("b.c_custkey").as("key_b"),
          dam_lev(col("name_a"), col("b.c_name")).as("dl_dist"))
        .filter(col("dl_dist") <= 1)
    }),

    // q200 Fellegi-Sunter weight estimation [JASA'69] — the scoring
    // model BEHIND q139/q160's candidate pairs: per comparison field,
    // the u-probability (chance agreement between NON-matching records)
    // is estimated exactly from the value distribution,
    //   u_f = Σ_v c_v·(c_v−1) / (n·(n−1)),
    // and the match/non-match log-odds weights follow with a fixed
    // m = 0.95. One grouped count per stacked field (bounded by value
    // cardinality), one n scalar — no pair enumeration at all: the
    // estimator needs only marginals, which is why FS linkage scales
    // where naive supervised scoring needs labeled pairs. Output is the
    // per-field weight table a linkage run sums over agreeing fields.
    "q200_linkage_weights" -> ((s, d) => {
      val c = Tables(s, d, "customer")
      val n = c.count() // driver scalar (q77's nd pattern)
      val fields = Seq(
        ("nation", col("c_nationkey").cast("string")),
        ("segment", col("c_mktsegment")),
        ("name_suffix", substring(col("c_name"), -3, 3)))
      val stacked = c.select(explode(array(fields.map { case (f, e) =>
          struct(lit(f).as("field"), e.as("v")) }: _*)).as("x"))
        .select(col("x.field").as("field"), col("x.v").as("v"))
      val u = stacked.groupBy(col("field"), col("v"))
        .agg(count(lit(1)).as("cv"))
        .groupBy(col("field"))
        .agg(count(lit(1)).as("n_values"),
          sum(col("cv") * (col("cv") - 1)).as("ap"))
        .select(col("field"), col("n_values"),
          (col("ap").cast("double")
            / (lit(n.toDouble) * lit((n - 1).toDouble))).as("u"))
      // degenerate fields: u = 0 (all values unique) or u = 1 (one
      // value) hit ln(x/0) — Spark's double Divide yields NULL where
      // DuckDB yields ±inf (the q102 cross-engine hazard), so both
      // engines CASE the weight to NULL identically
      u.select(col("field"), col("n_values"), round(col("u"), 6).as("u_prob"),
        when(col("u") > 0,
          round(log(lit(0.95) / col("u")), 6)).as("agree_weight"),
        when(col("u") < 1,
          round(log(lit(0.05) / (lit(1.0) - col("u"))), 6))
          .as("disagree_weight"))
    })
  )

  def oracle: Map[String, String] = Map(
    "q200_linkage_weights" ->
      """WITH n AS (SELECT COUNT(*) AS n FROM customer),
        |f AS (
        |  SELECT 'nation' AS field, CAST(c_nationkey AS VARCHAR) AS v
        |  FROM customer
        |  UNION ALL SELECT 'segment', c_mktsegment FROM customer
        |  UNION ALL SELECT 'name_suffix', right(c_name, 3)
        |  FROM customer),
        |cv AS (SELECT field, v, COUNT(*) AS cv FROM f GROUP BY field, v),
        |g AS (SELECT field, COUNT(*) AS n_values,
        |    SUM(cv * (cv - 1)) AS ap FROM cv GROUP BY field),
        |u AS (SELECT field, n_values,
        |    CAST(ap AS DOUBLE) / (CAST(n.n AS DOUBLE) * (n.n - 1)) AS u
        |  FROM g, n)
        |SELECT field, CAST(n_values AS BIGINT) AS n_values,
        |  round(u, 6) AS u_prob,
        |  CASE WHEN u > 0 THEN round(ln(0.95 / u), 6) END AS agree_weight,
        |  CASE WHEN u < 1 THEN round(ln(0.05 / (1.0 - u)), 6) END
        |    AS disagree_weight
        |FROM u""".stripMargin,
    "q139_fuzzy_pairs" ->
      s"""SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
         |  CAST(damerau_levenshtein(a.p_name, b.p_name) AS INTEGER)
         |    AS dl_dist,
         |  round(jaro_winkler_similarity(a.p_name, b.p_name), 6) AS jw_sim
         |FROM part a JOIN part b
         |  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
         |WHERE damerau_levenshtein(a.p_name, b.p_name) <= $MaxDist"""
        .stripMargin,
    "q160_sorted_neighborhood" ->
      s"""WITH r AS (SELECT c_custkey, c_name,
         |  row_number() OVER (ORDER BY c_name, c_custkey) AS rn
         | FROM customer)
         |SELECT a.c_custkey AS key_a, b.c_custkey AS key_b,
         |  CAST(damerau_levenshtein(a.c_name, b.c_name) AS INTEGER)
         |    AS dl_dist
         |FROM r a JOIN r b
         |  ON b.rn - a.rn BETWEEN 1 AND $SnmWindow
         |WHERE damerau_levenshtein(a.c_name, b.c_name) <= 1""".stripMargin,
    "q140_string_metrics" ->
      """SELECT p_partkey,
        |  CAST(levenshtein(p_name, p_type) AS INTEGER) AS lev_dist,
        |  CAST(damerau_levenshtein(p_name, p_type) AS INTEGER) AS dl_dist,
        |  round(jaro_winkler_similarity(p_name, p_type), 6) AS jw_sim
        |FROM part""".stripMargin
  )
}
