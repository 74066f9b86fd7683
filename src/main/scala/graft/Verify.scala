package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Optional 3rd arg: comma-separated query-name filter (local iteration).
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(',').toSet) else None
    val spark = GraftSession()
    new java.io.File(outDir).mkdirs()
    // rows-only accounting: entries without an oracle record their row
    // count + pinning spec here, so the driver artifact itself proves
    // they RAN (a bare `err: no_oracle` is indistinguishable from a
    // broken query) — see SparkEntry.rowsOnlyProvenance
    val rowsOnly = scala.collection.mutable.Map[String, (Long, String)]()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        if (!SparkEntry.oracleSql.contains(name)) {
          val rows = spark.read.parquet(s"$outDir/$name").count()
          val specName = SparkEntry.rowsOnlyProvenance.getOrElse(name, {
            System.err.println(
              s"[verify] WARN rows-only entry $name has no provenance")
            "UNPINNED"
          })
          rowsOnly(name) = (rows, specName)
          if (rows == 0L)
            System.err.println(s"[verify] WARN rows-only $name wrote 0 rows")
        }
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val roJson = rowsOnly.toSeq.sortBy(_._1)
      .map { case (k, (rows, spec)) =>
        s"${q(k)}: {\"rows\": $rows, \"spec\": ${q(spec)}}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/rows_only.json"), roJson)
    spark.stop()
  }
}
