package graft

/** The SQL functions GraftExtensions injects: the shared test session is
  * built by GraftSession, which loads the extensions, so no spec
  * registers anything.
  */
class ExtensionsSpec extends SparkSpec {

  test("vec_* kernels are usable from SQL after registration") {
    val r = spark.sql(
      """SELECT vec_dot(a, b) AS d, vec_norm(a) AS n, vec_cosine(a, b) AS c
        |FROM VALUES (array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
        |             array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS t(a, b)"""
        .stripMargin).head()
    assert(r.getDouble(0) == 11.0)
    assert(math.abs(r.getDouble(1) - math.sqrt(5.0)) < 1e-12)
    assert(math.abs(r.getDouble(2) - 11.0 / (math.sqrt(5.0) * 5.0)) < 1e-12)
  }

  test("registered aggregate sketches are usable from pure SQL") {
    // top_k: 2 smallest (v, tag) structs over a group
    val tk = spark.sql(
      """SELECT top_k(struct(v, tag), 2) AS t
        |FROM VALUES (3, 'c'), (1, 'a'), (2, 'b'), (5, 'e') AS x(v, tag)"""
        .stripMargin).head().getSeq[org.apache.spark.sql.Row](0)
    assert(tk.map(r => (r.getInt(0), r.getString(1))) == Seq(1 -> "a", 2 -> "b"))
    // approx_top_k: exact when capacity > distinct
    val hh = spark.sql(
      """SELECT approx_top_k(w, 16, 1) AS t
        |FROM VALUES ('x'), ('x'), ('y') AS d(w)""".stripMargin)
      .head().getSeq[org.apache.spark.sql.Row](0)
    assert(hh.map(r => (r.getString(0), r.getLong(1))) == Seq("x" -> 2L))
    // signature sketches: shapes + determinism from pure SQL
    val sig = spark.sql(
      """SELECT oph_sig(h, 8) AS o, simhash_sig(h) AS s,
        |       simhash_sig_w(h, 1.0d) AS sw
        |FROM VALUES (CAST(7 AS BIGINT)), (CAST(-42 AS BIGINT)),
        |            (CAST(123456789 AS BIGINT)) AS t(h)""".stripMargin)
      .head()
    assert(sig.getSeq[Long](0).length == 8)
    // unit weights make the weighted form degrade to the plain one
    assert(sig.getSeq[Long](1) == sig.getSeq[Long](2))
    // bloom: build in one SQL agg, probe in another — members hit
    val hits = spark.sql(
      """WITH b AS (SELECT bloom_agg(h, 4096, 6) AS f
        |  FROM VALUES (CAST(1 AS BIGINT)), (CAST(2 AS BIGINT)) AS t(h))
        |SELECT bloom_contains(b.f, CAST(1 AS BIGINT), 6),
        |       bloom_contains(b.f, CAST(2 AS BIGINT), 6)
        |FROM b""".stripMargin).head()
    assert(hits.getBoolean(0) && hits.getBoolean(1))
  }

  test("sum128 is usable from pure SQL and matches the decimal sum") {
    val r = spark.sql(
      """SELECT sum128(CAST(v AS BIGINT)) AS s128,
        |  SUM(CAST(v AS DECIMAL(38,0))) AS sdec
        |FROM VALUES (9223372036854775800), (9223372036854775800),
        |            (-7), (123) AS t(v)""".stripMargin).head()
    assert(r.getDecimal(0) == r.getDecimal(1),
      s"${r.getDecimal(0)} vs ${r.getDecimal(1)}")
  }

  test("registered vec_cosine on the embeddings table via pure SQL") {
    Tables(spark, sf, "embeddings").createOrReplaceTempView("emb")
    val n = spark.sql(
      """SELECT a.vec_id, b.vec_id, vec_cosine(a.embedding, b.embedding) AS c
        |FROM emb a JOIN emb b ON a.vec_id < b.vec_id
        |WHERE vec_cosine(a.embedding, b.embedding) >= 0.4""".stripMargin)
      .count()
    val expected = SparkEntry.queries("q24_embedding_dedup")(spark, sf).count()
    assert(n == expected)
  }

  test("a non-constant integer argument is an IllegalArgumentException") {
    val e = intercept[IllegalArgumentException](spark.sql(
      "SELECT top_k(struct(v), v) FROM VALUES (1) t(v)").collect())
    assert(e.getMessage.contains("expected a constant integer argument"))
  }

  test("registered text/layout kernels are usable from pure SQL") {
    val r = spark.sql(
      """SELECT interleave_bits(3L, 5L) AS z,
        |       deflate_len('aaaaaaaaaaaaaaaaaaaaaaaa') AS dl""".stripMargin)
      .head()
    assert(r.getLong(0) == 39L)
    assert(r.getInt(1) ==
      graft.functions.Compress.deflateLen(
        "aaaaaaaaaaaaaaaaaaaaaaaa".getBytes("UTF-8")))
  }
}
