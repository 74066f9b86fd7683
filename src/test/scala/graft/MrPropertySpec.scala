package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.mr.MapReduce

/** Property-based pins of the MR facade (SURVEY.md §5.3): the wordcount
  * fold matches an in-memory reference on arbitrary inputs, and results
  * are invariant to partition count — the property that makes the
  * reference's custom hash partitioner a swappable implementation detail.
  */
class MrPropertySpec extends SparkSpec {

  /** Deterministic property loop (no scalatest-scalacheck bridge in the
    * offline cache): fixed seeds, `n` generated cases per property.
    */
  private def forAllSeeded[A](gen: Gen[A], n: Int = 12)(body: A => Unit): Unit =
    (0 until n).foreach { i =>
      body(gen.pureApply(Gen.Parameters.default, Seed(42L + i)))
    }

  private val word: Gen[String] = Gen.oneOf(
    "key", "agg", "row", "scan", "slow", "fast", "table", "value", "über",
    "чай", "数据", "", "a,b", "x,y,z")
  private val lines: Gen[List[String]] =
    Gen.listOfN(60, Gen.listOfN(5, word).map(_.mkString(" ")))

  /** A byte source mixing `\n`, `\r\n` and bare `\r` terminators, empty
    * lines, non-ASCII and invalid UTF-8 (`0xFF 0xFE`), maybe a leading BOM
    * and maybe no final newline; with its line count.
    */
  private val source: Gen[(Array[Byte], Int)] = {
    val token = Gen.oneOf(Seq("a", "key,1", " ", "über", "数据")
      .map(_.getBytes("UTF-8")) :+ Array(0xFF, 0xFE).map(_.toByte))
    val line = for {
      n <- Gen.choose(0, 3)
      text <- Gen.listOfN(n, token)
      nl <- Gen.oneOf("\n", "\r\n", "\r")
    } yield text.toArray.flatten ++ nl.getBytes("UTF-8")
    for {
      n <- Gen.choose(0, 25)
      lines <- Gen.listOfN(n, line)
      bom <- Gen.oneOf(true, false)
      open <- Gen.oneOf(true, false)
    } yield {
      val body = lines.toArray.flatten
      val text = if (open) body.reverse.dropWhile(b => b == '\n' || b == '\r').reverse
        else body
      ((if (bom) Array(0xEF, 0xBB, 0xBF).map(_.toByte) else Array.emptyByteArray) ++ text, n)
    }
  }

  test("-w/-r is byte-exact and READ frames lines as the text scan") {
    import org.apache.spark.sql.functions.col
    val tmp = java.nio.file.Files.createTempDirectory("graft-mr-bytes")
    val bom = Seq(0xEF, 0xBB, 0xBF).map(_.toByte)
    def bytes(df: org.apache.spark.sql.DataFrame): Seq[Seq[Byte]] =
      df.select(col("value").cast("binary")).collect()
        .map(_.getAs[Array[Byte]](0).toSeq).toSeq
    val seen = scala.collection.mutable.Buffer.empty[Seq[Byte]]
    sys.props("graft.dfs") = tmp.toString
    try forAllSeeded(source) { case (src, lines) =>
      seen += src.toSeq
      val file = tmp.resolve("src.txt")
      java.nio.file.Files.write(file, src)
      val text = bytes(spark.read.text(file.toString))
      for (p <- Seq(1, 2, 7, lines + 3)) {
        MapReduce.write(spark, file.toString, tmp.resolve("store").toString, p)
        val back = tmp.resolve("back.txt")
        Cli.run(spark, Array("-r", "store", back.toString))
        val hint = s"p = $p, source ${src.map(_ & 0xff).mkString(",")}"
        assert(java.nio.file.Files.readAllBytes(back).toSeq == src.toSeq, hint)
        val read = bytes(MapReduce.read(spark, tmp.resolve("store").toString).toDF())
        val want = if (src.startsWith(bom)) (bom ++ text.head) +: text.tail else text
        assert(read == want, hint)
      }
    } finally sys.props -= "graft.dfs"
    // the seeds cover every feature the generator mixes
    val features = Map[String, Seq[Byte] => Boolean](
      "BOM" -> (_.startsWith(bom)),
      "\\r\\n" -> (_.containsSlice(Seq[Byte](13, 10))),
      "bare \\r" -> (s => (s :+ 0.toByte).sliding(2).exists(w => w(0) == 13 && w(1) != 10)),
      "empty line" -> (s => s.containsSlice(Seq[Byte](10, 10)) || s.containsSlice(Seq[Byte](13, 13))),
      "no final newline" -> (s => s.nonEmpty && !Seq[Byte](10, 13).contains(s.last)),
      "invalid UTF-8" -> (_.containsSlice(Seq(0xFF, 0xFE).map(_.toByte))))
    assert(features.collect { case (f, has) if !seen.exists(has) => f }.isEmpty)
  }

  test("mapReduce wordcount == sequential fold, for any input") {
    import spark.implicits._
    forAllSeeded(lines) { ls =>
      val ds = spark.createDataset(ls)
      val got = MapReduce.mapReduce(
        ds,
        mapper = l => l.split(" ").iterator.filter(_.nonEmpty).map(w => s"$w,1"),
        reducer = (k, vs) => Iterator(s"$k,${vs.size}"),
        numPartitions = 3
      ).collect().toSet
      val want = ls.flatMap(_.split(" ")).filter(_.nonEmpty)
        // the MR key contract: key = text before the FIRST comma of the
        // emitted `word,1` line, so a word containing commas keys on its
        // first segment — replicate that in the reference fold
        .groupBy(w => MapReduce.keyOf(s"$w,1"))
        .map { case (k, ws) => s"$k,${ws.size}" }.toSet
      assert(got == want)
    }
  }

  test("result is invariant to partition count") {
    import spark.implicits._
    forAllSeeded(Gen.zip(lines, Gen.choose(1, 9))) { case (ls, parts) =>
      val ds = spark.createDataset(ls)
      def run(n: Int) = MapReduce.mapReduce(
        ds,
        mapper = l => l.split(" ").iterator.filter(_.nonEmpty).map(w => s"$w,1"),
        reducer = (k, vs) => Iterator(s"$k,${vs.size}"),
        numPartitions = n
      ).collect().sorted.toSeq
      assert(run(parts) == run(1))
    }
  }
}
