package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import graft.mr.MapReduce

class MapReduceSpec extends SparkSpec {
  import spark.implicits._

  /** Runs `body` with the CLI's DFS root (`<tmp>/dfs`) in a fresh temp dir. */
  private def withDfs(body: Path => Unit): Unit = {
    val tmp = Files.createTempDirectory("graft-cli")
    sys.props("graft.dfs") = tmp.resolve("dfs").toString
    try body(tmp) finally sys.props -= "graft.dfs"
  }

  /** `-w` of `bytes` as dataset `name`, then `-r` of it: the bytes back. */
  private def cliRoundtrip(tmp: Path, name: String, bytes: Array[Byte])
      : Array[Byte] = {
    val src = tmp.resolve(s"$name.txt")
    Files.write(src, bytes)
    Cli.run(spark, Array("-w", src.toString))
    val dest = tmp.resolve(s"$name.back")
    Cli.run(spark, Array("-r", name, dest.toString))
    Files.readAllBytes(dest)
  }

  test("keyOf: first comma field; no comma → whole line") {
    assert(MapReduce.keyOf("a,b,c") == "a")
    assert(MapReduce.keyOf("nocomma") == "nocomma")
    assert(MapReduce.keyOf(",leading") == "")
  }

  test("WRITE/READ roundtrip preserves line ORDER and partition count") {
    val tmp = Files.createTempDirectory("graft-mr").toString
    val src = s"$tmp/input.txt"
    // deliberately NOT in lexicographic order: catches a sorted-merge
    // masquerading as manifest-order reassembly
    val lines = scala.util.Random.shuffle((1 to 100).toList)
      .map(i => s"line$i,payload$i")
    Files.write(Paths.get(src), String.join("\n", lines: _*).getBytes)
    MapReduce.write(spark, src, s"$tmp/dfs", partitions = 7)
    val parts = new java.io.File(s"$tmp/dfs").listFiles()
      .count(_.getName.startsWith("part-"))
    assert(parts == 7)
    val back = MapReduce.read(spark, s"$tmp/dfs").collect()
    assert(back.sameElements(lines),
      "READ must reassemble chunks in manifest order (original line order)")
    // \r\n and bare \r framing (empty lines included), cut so that one
    // split boundary falls inside a line and one on a terminator (for
    // \r\n, between its two bytes): READ returns the text scan's lines
    val varied = (1 to 100).map(i => if (i % 9 == 4) "" else s"l$i," + "x" * (i % 7))
    for ((nl, name) <- Seq("\r\n" -> "crlf", "\r" -> "cr")) {
      val bytes = varied.mkString("", nl, nl).getBytes("UTF-8")
      def bounds(p: Int) = (1 until p).map(k => k * bytes.length / p)
      def midLine(b: Int) = !"\r\n".contains(bytes(b - 1).toChar) &&
        !"\r\n".contains(bytes(b).toChar)
      def onTerminator(b: Int) = if (nl == "\r\n")
        bytes(b - 1) == '\r' && bytes(b) == '\n' else bytes(b) == '\r'
      val p = (2 to 64).find { p =>
        bounds(p).exists(midLine) && bounds(p).exists(onTerminator) }.get
      val f = s"$tmp/$name.txt"
      Files.write(Paths.get(f), bytes)
      MapReduce.write(spark, f, s"$tmp/dfs_$name", p)
      assert(MapReduce.read(spark, s"$tmp/dfs_$name").collect().toSeq ==
        spark.read.text(f).as[String].collect().toSeq, s"$name, $p chunks")
    }
  }

  test("WRITE is one job with no shuffle: 1,000 lines into 7 chunks") {
    val tmp = Files.createTempDirectory("graft-mr-jobs").toString
    val src = s"$tmp/input.txt"
    Files.write(Paths.get(src), (1 to 1000).map(i => s"w${i % 13},$i")
      .mkString("", "\n", "\n").getBytes)
    val (jobs, stages, shuffled) =
      jobsOf(MapReduce.write(spark, src, s"$tmp/dfs", partitions = 7))
    assert(jobs == 1 && stages == 1, s"$jobs jobs, $stages stages")
    assert(shuffled == 0L)
    assert(new java.io.File(s"$tmp/dfs").list().filter(_.startsWith("part-")).sorted
      .toSeq == (0 until 7).map(k => f"part-$k%05d"))
  }

  test("a graft-dfs overwrite after an unterminated WRITE: -r gives the new lines") {
    withDfs { tmp =>
      val src = tmp.resolve("open.txt")
      Files.write(src, "a\nb".getBytes)
      val store = s"${sys.props("graft.dfs")}/open"
      MapReduce.write(spark, src.toString, store, partitions = 2)
      // the chunks are all WRITE leaves (`.crc` files are Hadoop's checksums)
      assert(new java.io.File(store).list().filterNot(_.startsWith(".")).sorted
        .toSeq == Seq("part-00000", "part-00001"))
      Seq("c").toDF("value").write.format("graft-dfs").mode("overwrite")
        .save(store)
      val dest = tmp.resolve("back.txt")
      Cli.run(spark, Array("-r", "open", dest.toString))
      assert(new String(Files.readAllBytes(dest), UTF_8) == "c\n")
    }
  }

  test("a graft-dfs append after an unterminated WRITE: -r starts it on a new line") {
    withDfs { tmp =>
      val src = tmp.resolve("xy.txt")
      Files.write(src, "x\ny".getBytes)
      Cli.run(spark, Array("-w", src.toString))
      Seq("z").toDF("value").write.format("graft-dfs").mode("append")
        .save(s"${sys.props("graft.dfs")}/xy")
      val dest = tmp.resolve("back.txt")
      Cli.run(spark, Array("-r", "xy", dest.toString))
      assert(new String(Files.readAllBytes(dest), UTF_8) == "x\ny\nz\n")
      // after a bare \r, an appended empty line must not read as its \n
      Files.write(src, "x\r".getBytes)
      Cli.run(spark, Array("-w", src.toString))
      Seq("").toDF("value").write.format("graft-dfs").mode("append")
        .save(s"${sys.props("graft.dfs")}/xy")
      Cli.run(spark, Array("-r", "xy", dest.toString))
      assert(MapReduce.read(spark, s"${sys.props("graft.dfs")}/xy").collect()
        .toSeq == Seq("x", ""))
      assert(spark.read.text(dest.toString).as[String].collect().toSeq
        == Seq("x", ""))
    }
  }

  test("-w/-r of a CRLF-framed source gives the same bytes back") {
    withDfs { tmp =>
      val crlf = "a\r\nb\r\n".getBytes(UTF_8)
      assert(cliRoundtrip(tmp, "crlf", crlf).toSeq == crlf.toSeq)
    }
  }

  test("-w/-r keeps a leading BOM, and READ's first line starts with it") {
    withDfs { tmp =>
      val bom = Array(0xEF, 0xBB, 0xBF, 'q', '\n').map(_.toByte)
      assert(cliRoundtrip(tmp, "bom", bom).toSeq == bom.toSeq)
      assert(MapReduce.read(spark, s"${sys.props("graft.dfs")}/bom").collect()
        .toSeq == Seq("\uFEFFq"))
    }
  }

  test("-r of a name not in the DFS fails naming <dfs>/<name>, writes no file") {
    withDfs { tmp =>
      val dest = tmp.resolve("never.txt")
      val e = intercept[Exception] {
        Cli.run(spark, Array("-r", "nope", dest.toString))
      }
      assert(String.valueOf(e.getMessage)
        .contains(s"${sys.props("graft.dfs")}/nope"), e.getMessage)
      assert(!Files.exists(dest))
    }
  }

  test("-r launches no Spark job") {
    withDfs { tmp =>
      val src = tmp.resolve("few.txt")
      Files.write(src, "p\nq\r\nr".getBytes)
      Cli.run(spark, Array("-w", src.toString))
      val dest = tmp.resolve("back.txt")
      val (jobs, _, _) = jobsOf(Cli.run(spark, Array("-r", "few", dest.toString)))
      assert(jobs == 0)
      assert(Files.readAllBytes(dest).sameElements(Files.readAllBytes(src)))
    }
  }

  test("CLI: -w/-r roundtrip in order, -mr pipe writes <name>_out") {
    withDfs { tmp =>
      val src = tmp.resolve("corpus.txt")
      val lines = Seq("b b", "a b", "c", "a b")
      // no trailing newline in the source: -r must roundtrip byte-for-byte
      Files.write(src, lines.mkString("\n").getBytes)
      Cli.run(spark, Array("-w", src.toString))
      val dest = tmp.resolve("back.txt")
      Cli.run(spark, Array("-r", "corpus", dest.toString))
      assert(Files.readAllBytes(dest).sameElements(Files.readAllBytes(src)))
      // newline-terminated source roundtrips byte-for-byte too
      val srcNl = tmp.resolve("corpus_nl.txt")
      Files.write(srcNl, lines.mkString("", "\n", "\n").getBytes)
      Cli.run(spark, Array("-w", srcNl.toString, "corpus_nl"))
      val destNl = tmp.resolve("back_nl.txt")
      Cli.run(spark, Array("-r", "corpus_nl", destNl.toString))
      assert(Files.readAllBytes(destNl).sameElements(Files.readAllBytes(srcNl)))
      // dotfile source: dataset name derives from behind the leading dot
      // (a dot-named dataset dir would be hidden from Spark file scans)
      val dot = tmp.resolve(".env")
      Files.write(dot, "K=V\n".getBytes)
      Cli.run(spark, Array("-w", dot.toString))
      val dotBack = tmp.resolve("env_back.txt")
      Cli.run(spark, Array("-r", "env", dotBack.toString))
      assert(new String(Files.readAllBytes(dotBack), "UTF-8") == "K=V\n")
      // identity MR through external commands: multiset of lines preserved
      Cli.run(spark, Array("-mr", "/bin/cat", "/bin/cat", "corpus", "2"))
      val out = MapReduce.read(spark, s"${sys.props("graft.dfs")}/corpus_out")
        .collect()
      assert(out.sorted.sameElements(lines.sorted))
      intercept[IllegalArgumentException] { Cli.run(spark, Array("-x")) }
    }
  }

  test("WRITE/READ edge cases: single line, and more partitions than lines") {
    val tmp = Files.createTempDirectory("graft-mr-edge").toString
    val one = s"$tmp/one.txt"
    Files.write(Paths.get(one), "only line".getBytes)
    MapReduce.write(spark, one, s"$tmp/dfs1", partitions = 1)
    assert(MapReduce.read(spark, s"$tmp/dfs1").collect().toSeq == Seq("only line"))
    // more chunks than lines: the reference pads empty chunks; here empty
    // partitions are native — content and order must survive regardless
    val few = s"$tmp/few.txt"
    Files.write(Paths.get(few), "b\na\nc".getBytes)
    MapReduce.write(spark, few, s"$tmp/dfs2", partitions = 8)
    assert(MapReduce.read(spark, s"$tmp/dfs2").collect().toSeq == Seq("b", "a", "c"))
    // exactly p chunks, part-00000 … part-00007, empty ones included
    assert(new java.io.File(s"$tmp/dfs2").list().filter(_.startsWith("part-"))
      .sorted.toSeq == (0 until 8).map(k => f"part-$k%05d"))
    // empty source: p empty chunks, READ returns nothing
    val empty = s"$tmp/empty.txt"
    Files.write(Paths.get(empty), Array.emptyByteArray)
    MapReduce.write(spark, empty, s"$tmp/dfs3", partitions = 3)
    assert(MapReduce.read(spark, s"$tmp/dfs3").collect().isEmpty)
    // a gzip source cannot be split by byte range: rejected up front
    val gz = s"$tmp/lines.txt.gz"
    val zout =
      new java.util.zip.GZIPOutputStream(Files.newOutputStream(Paths.get(gz)))
    try zout.write("x\ny\n".getBytes) finally zout.close()
    val e = intercept[IllegalArgumentException] {
      MapReduce.write(spark, gz, s"$tmp/dfs4", partitions = 2)
    }
    assert(e.getMessage.contains(gz), e.getMessage)
  }

  test("golden MR-parity: closure mapReduce == declarative groupBy count") {
    val docs = Tables(spark, sf, "documents").select("text").as[String]
    val viaMr = MapReduce.mapReduce(
      docs,
      line => line.split(" ").iterator.filter(_.nonEmpty).map(w => s"$w,1"),
      (k, vs) => Iterator(s"$k,${vs.size}"),
      numPartitions = 5
    ).collect().map { l => val Array(w, n) = l.split(",", 2); (w, n.toLong) }
      .toMap
    val viaSql = TextOps.wordcountViaSql(spark, sf)
    assert(viaMr == viaSql)
  }

  test("reducer sees values of one key, in lexicographic line order") {
    // k4: code-point order, as Python sorted() gives it: U+FF61 before
    // U+1F600, whose UTF-16 surrogate pair would sort first
    val input = spark.createDataset(Seq(
      "k1,z", "k1,a", "k2,m", "k1,b", "k3,x", "k2,a", "k4,😀", "k4,｡"))
    val out = MapReduce.reduceByLineKey(input, 3) { (k, vs) =>
      Iterator(s"$k -> ${vs.mkString("|")}")
    }.collect().sorted
    assert(out.sameElements(Array(
      "k1 -> k1,a|k1,b|k1,z", "k2 -> k2,a|k2,m", "k3 -> k3,x",
      "k4 -> k4,｡|k4,😀")))
  }

  test("reducer that does not drain its group still frames correctly") {
    val input = spark.createDataset(Seq(
      "k1,a", "k1,b", "k1,c", "k2,x", "k2,y"))
    val out = MapReduce.reduceByLineKey(input, 2) { (k, vs) =>
      Iterator(s"$k,${vs.take(1).next()}")   // reads only first value
    }.collect().sorted
    assert(out.length == 2)
    assert(out(0) == "k1,k1,a" && out(1) == "k2,k2,x")
  }

  test("plan shape: READ shuffles nothing, one MR round shuffles once") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
    val tmp = Files.createTempDirectory("graft-mr-plan").toString
    val src = s"$tmp/input.txt"
    Files.write(Paths.get(src), (1 to 50).map(i => s"w${i % 7} w$i")
      .mkString("\n").getBytes)
    MapReduce.write(spark, src, s"$tmp/dfs", partitions = 3)
    // every node of the final adaptive plan, query stages included
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case _ => p +: p.children.flatMap(nodes)
    }
    def executed(ds: org.apache.spark.sql.Dataset[String]) = {
      ds.collect() // AQE finalizes the plan on the first action
      nodes(ds.queryExecution.executedPlan)
    }
    val read = executed(MapReduce.read(spark, s"$tmp/dfs"))
    assert(read.collect { case e: Exchange => e }.isEmpty,
      s"READ must not shuffle (a global sort came back?):\n${read.head}")
    val mr = executed(MapReduce.mapReduce(MapReduce.read(spark, s"$tmp/dfs"),
      line => line.split(" ").iterator.map(w => s"$w,1"),
      (k, vs) => Iterator(s"$k,${vs.size}"), numPartitions = 5))
    val shuffles = mr.collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.map(_.numPartitions) == Seq(5),
      s"one 5-way shuffle:\n${mr.head}")
  }

  test("READ of a missing store dir fails naming the path") {
    val missing = Files.createTempDirectory("graft-mr-missing")
      .resolve("no_such_store").toString
    val e = intercept[Exception] { MapReduce.read(spark, missing).collect() }
    val msgs = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toList
    assert(msgs.exists(_.contains(missing)), msgs.mkString(" / "))
  }

  test("pipe MR: external python mapper/reducer (YaMR user contract)") {
    val tmp = Files.createTempDirectory("graft-pipe")
    val mapper = tmp.resolve("mapper.py")
    Files.write(mapper,
      """import sys
        |for line in sys.stdin:
        |    for w in line.strip().split(' '):
        |        if w:
        |            print(f"{w},1")
        |""".stripMargin.getBytes)
    val reducer = tmp.resolve("reducer.py")
    Files.write(reducer,
      """import sys
        |prev, n = None, 0
        |for line in sys.stdin:
        |    k = line.rstrip("\n").split(',')[0]
        |    if k != prev:
        |        if prev is not None:
        |            print(f"{prev},{n}")
        |        prev, n = k, 0
        |    n += 1
        |if prev is not None:
        |    print(f"{prev},{n}")
        |""".stripMargin.getBytes)
    val docs = Tables(spark, sf, "documents").select("text").as[String]
    val out = MapReduce.mapReducePipe(docs,
      s"python3 $mapper", s"python3 $reducer", numPartitions = 4)
      .collect().map { l => val Array(w, n) = l.split(",", 2); (w, n.toLong) }
      .toMap
    assert(out == TextOps.wordcountViaSql(spark, sf))
  }
}

object TextOps {
  /** Declarative wordcount collected to a map, shared expected value. */
  def wordcountViaSql(spark: org.apache.spark.sql.SparkSession,
      sf: String): Map[String, Long] =
    graft.queries.TextQueries.wordcount(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
}
