package graft

import org.apache.spark.sql.functions._

import graft.functions.StringDistance
import graft.functions.stringdistances._
import graft.queries.StringSimOps
import org.apache.spark.unsafe.types.UTF8String

class StringSimSpec extends SparkSpec {

  private def u(s: String) = UTF8String.fromString(s)
  private def dl(a: String, b: String) =
    StringDistance.damerauLevenshtein(u(a), u(b))
  private def jw(a: String, b: String) =
    StringDistance.jaroWinkler(u(a), u(b))

  test("damerau-levenshtein: pinned textbook values (unrestricted variant)") {
    assert(dl("", "") == 0)
    assert(dl("", "abc") == 3)
    assert(dl("abc", "") == 3)
    assert(dl("abc", "abc") == 0)
    assert(dl("ab", "ba") == 1) // one transposition
    assert(dl("abcdef", "abdcef") == 1) // interior transposition
    assert(dl("kitten", "sitting") == 3) // pure levenshtein case
    // THE unrestricted-vs-OSA discriminator: transpose then insert
    // between the transposed pair — OSA says 3, true DL says 2
    assert(dl("ca", "abc") == 2)
  }

  test("damerau-levenshtein is bounded by levenshtein and length bounds") {
    val rnd = new scala.util.Random(7)
    def randStr() = (1 to rnd.nextInt(12)).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
    import spark.implicits._
    val pairs = (1 to 300).map(_ => (randStr(), randStr()))
    val rows = pairs.toDF("a", "b")
      .select(col("a"), col("b"), dam_lev(col("a"), col("b")).as("dl"),
        levenshtein(col("a"), col("b")).as("lev"))
      .collect()
    rows.foreach { r =>
      val (a, b, d, l) = (r.getString(0), r.getString(1), r.getInt(2), r.getInt(3))
      assert(d <= l, s"dl > lev for ($a, $b)")
      assert(d >= math.abs(a.length - b.length), s"dl below length gap ($a, $b)")
      assert(d <= math.max(a.length, b.length), s"dl above max length ($a, $b)")
      assert(d == dl(a, b)) // codegen result == direct static call
    }
  }

  test("unrestricted damerau-levenshtein is a metric (triangle inequality)") {
    // the unrestricted variant is a true metric — the OSA shortcut is
    // not (its classic counterexample violates the triangle inequality)
    val rnd = new scala.util.Random(11)
    def randStr() = (0 until rnd.nextInt(8)).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString
    (1 to 400).foreach { _ =>
      val (a, b, c) = (randStr(), randStr(), randStr())
      assert(dl(a, b) <= dl(a, c) + dl(c, b),
        s"triangle violated: ($a, $b) via $c")
      assert(dl(a, b) == dl(b, a), s"symmetry violated: ($a, $b)")
      assert((dl(a, b) == 0) == (a == b))
    }
  }

  test("jaro-winkler: pinned values match the shared record-linkage convention") {
    assert(math.abs(jw("MARTHA", "MARHTA") - 0.9611111111111111) < 1e-12)
    assert(math.abs(jw("DWAYNE", "DUANE") - 0.8400000000000001) < 1e-12)
    // odd mismatch count: transpositions halve with INTEGER division
    assert(math.abs(jw("red widget", "new widget") - 0.825) < 1e-12)
    // jaro > 0.7 but no common prefix: no Winkler boost
    assert(math.abs(jw("CRATE", "TRACE") - 0.7333333333333334) < 1e-12)
    // jaro <= 0.7: boost suppressed even with a long common prefix
    assert(math.abs(jw("abcdefgh", "abzzzzzz") - 0.5) < 1e-12)
    // window floor(max/2)-1 = 0: adjacent swap finds no matches at all
    assert(jw("ab", "ba") == 0.0)
    assert(jw("", "") == 0.0 && jw("", "a") == 0.0) // DuckDB convention
    assert(jw("same", "same") == 1.0)
  }

  test("both kernels agree across codegen and interpreted paths") {
    import spark.implicits._
    val df = Seq(("ca", "abc"), ("red widget", "new widget"), ("", "x"),
      ("MARTHA", "MARHTA")).toDF("a", "b")
    def run() = df
      .select(dam_lev(col("a"), col("b")), round(jaro_winkler(col("a"), col("b")), 9))
      .collect().map(r => (r.getInt(0), r.getDouble(1))).toSeq
    val cg = run()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try assert(cg == run())
    finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    // ("ca","abc"): match window floor(3/2)-1 = 0 -> no matches -> jw 0
    assert(cg.head == ((2, 0.0)))
  }

  test("kernels are usable from pure SQL after registration") {
    val r = spark.sql(
      "SELECT dam_lev('ca', 'abc') AS d, jaro_winkler('a', 'ab') AS j").head()
    assert(r.getInt(0) == 2)
    assert(math.abs(r.getDouble(1) - 0.85) < 1e-12)
  }

  test("q139 fuzzy pairs: blocked equi-join, never a cartesian product") {
    val df = StringSimOps.queries("q139_fuzzy_pairs")(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1), "ordered pair convention")
      assert(r.getInt(2) <= 2, "distance threshold applied")
    }
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"fuzzy pairing must stay a blocked equi-join:\n$p")
  }

  test("q140 string metrics: narrow plan, zero exchanges") {
    val df = StringSimOps.queries("q140_string_metrics")(spark, sf)
    assert(df.count() > 0)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"per-row kernels must not shuffle:\n$p")
  }

  test("q200 FS weights: u matches the exact chance-agreement formula") {
    import spark.implicits._
    // nations [1,1,2,3] -> u = 2/(4*3); segments all equal -> u = 1;
    // name suffixes [aaa,aaa,bbb,ccc] -> u = 2/12 like nation
    val dir = java.nio.file.Files.createTempDirectory("graft-fs").toString
    Seq((1L, 1L, "SEG", "x-aaa"), (2L, 1L, "SEG", "y-aaa"),
      (3L, 2L, "SEG", "z-bbb"), (4L, 3L, "SEG", "w-ccc"))
      .toDF("c_custkey", "c_nationkey", "c_mktsegment", "c_name")
      .write.parquet(s"$dir/customer.parquet")
    val got = StringSimOps.queries("q200_linkage_weights")(spark, dir)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2),
        Option(r.get(3)).map(_.asInstanceOf[Double]),
        Option(r.get(4)).map(_.asInstanceOf[Double])))).toMap
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val uN = 2.0 / 12
    assert(got("nation") == ((3L, r6(uN), Some(r6(math.log(0.95 / uN))),
      Some(r6(math.log(0.05 / (1 - uN)))))))
    // a field where every record agrees carries NO discriminating
    // power: u = 1 -> agree weight ln(0.95) < 0 and the disagree
    // weight is undefined (NULLed identically in both engines)
    assert(got("segment") == ((1L, 1.0, Some(r6(math.log(0.95))), None)))
    assert(got("name_suffix")._2 == r6(2.0 / 12))
  }
}
