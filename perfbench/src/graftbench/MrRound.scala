package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.mr.MapReduce

/** Word count in the MapReduce facade's closure form. */
object MrOps {
  val mapper: String => IterableOnce[String] =
    line => line.split(' ').iterator.filter(_.nonEmpty).map(w => s"$w,1")
  val reducer: (String, Iterator[String]) => IterableOnce[String] =
    (key, values) => Iterator(s"$key,${values.size}")
}

/** One round of the reference's own job on the generated corpus: WRITE
  * into 8 chunks, word count as closure and as pipe MAPREDUCE, READ back
  * in manifest order, then a graft-dfs write and read. Every op checks
  * its output against the generator's own numbers.
  */
final class MrRound(spark: SparkSession, conf: Map[String, String], work: Path) {
  private val corpus = conf("corpus")
  private val scripts = conf("scripts")
  private val parts = conf("cores").toInt
  private var counts: Map[String, Long] = _
  private var corpusMd5: String = _
  private var corpusSum: Checksum.Result = _

  private def md5(chunks: Iterator[Array[Byte]]): String = {
    val md = MessageDigest.getInstance("MD5")
    chunks.foreach(md.update)
    md.digest().map(b => f"$b%02x").mkString
  }

  /** Untimed: load the generator's counts and fingerprint the corpus. */
  def prepare(): Unit = {
    counts = Files.readAllLines(Paths.get(conf("counts")), UTF_8).asScala
      .map { l => val Array(w, n) = l.split('\t'); w -> n.toLong }.toMap
    val bytes = Files.readAllBytes(Paths.get(corpus))
    corpusMd5 = md5(Iterator(bytes))
    corpusSum = Checksum.ofStrings("value",
      new String(bytes, UTF_8).split('\n').iterator)
  }

  private def checkCounts(out: Array[String]): (String, Long, String) = {
    val got = out.map { l =>
      val i = l.lastIndexOf(','); l.take(i) -> l.drop(i + 1).toLong
    }
    val err =
      if (got.length != counts.size) s"${got.length} words != ${counts.size}"
      else got.collectFirst {
        case (w, n) if !counts.get(w).contains(n) => s"count($w) = $n != ${counts.getOrElse(w, 0L)}"
      }.getOrElse("")
    (err, got.length.toLong, "")
  }

  def round(run: Run, p: Int): Unit = {
    val dir = work.resolve(s"dfs/r$p")
    val store = dir.resolve("corpus").toString
    val dfs = dir.resolve("dfs").toString

    run.mrOp("mr.write", p) { id =>
      run.span("mr.write", id)(MapReduce.write(spark, corpus, store, 8))
      val chunks = new java.io.File(store).list().count(_.startsWith("part-"))
      (if (chunks == 8) "" else s"$chunks chunks != 8", chunks.toLong, "")
    }
    run.mrOp("mr.mapreduce", p) { id =>
      checkCounts(run.span("mr.mapreduce", id) {
        MapReduce.mapReduce(MapReduce.read(spark, store), MrOps.mapper,
          MrOps.reducer, parts).collect()
      })
    }
    run.mrOp("mr.pipe", p) { id =>
      checkCounts(run.span("mr.pipe", id) {
        MapReduce.mapReducePipe(MapReduce.read(spark, store),
          s"sh $scripts/wc_map.sh", s"sh $scripts/wc_reduce.sh", parts).collect()
      })
    }
    run.mrOp("mr.read", p) { id =>
      val lines = run.span("mr.read", id)(MapReduce.read(spark, store).collect())
      val got = md5(lines.iterator.map(l => (l + "\n").getBytes(UTF_8)))
      (if (got == corpusMd5) "" else s"READ bytes differ (md5 $got)", lines.length.toLong, got)
    }
    run.mrOp("sources.dfs_write", p) { id =>
      run.span("sources.dfs_write", id) {
        spark.read.text(corpus).write.format("graft-dfs").mode("overwrite").save(dfs)
      }
      ("", 0L, "")
    }
    run.mrOp("sources.dfs_read", p) { id =>
      val r = run.span("sources.dfs_read", id) {
        Checksum.of(spark.read.format("graft-dfs").load(dfs).select("value"))
      }
      (if (r == corpusSum) "" else s"graft-dfs lines ${r.rows}/${r.hex} != ${corpusSum.rows}/${corpusSum.hex}",
        r.rows, r.hex)
    }
    deleteTree(dir)
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
}
