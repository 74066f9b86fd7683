package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import graft.mr.MapReduce
import graft.sources.DfsTable

/** The reference engine's user interface (`Client/client_v1.py:62-68,
  * 209-217`): three verbs over a DFS of named line-oriented datasets.
  *
  *  -w  <localfile> [name]                      WRITE: split into ordered
  *                                              chunks under the dataset
  *                                              name (default: file base
  *                                              name, as the reference).
  *  -r  <name> <localdest>                      READ: concatenate chunks in
  *                                              manifest order into a
  *                                              local file, byte for byte.
  *  -mr <mapperCmd> <reducerCmd> <name> [nPart] MAPREDUCE: external
  *                                              stdin→stdout executables
  *                                              via the pipe facade;
  *                                              output dataset `<name>_out`
  *                                              (the reference prints the
  *                                              generated output name).
  *
  * The DFS root (`graft.dfs` system property, else $SPARK_GRAFT_DFS,
  * else /tmp/graft_dfs) holds one subdirectory per logical dataset name —
  * the name→location catalog the reference master tracks
  * (`Master/masterhandler.py:209-213`). Wall-clock is printed on every
  * run, as `client_v1.py:217` does.
  */
object Cli {

  private val usage =
    """usage:
      |  graft.Cli -w <localfile> [name]
      |  graft.Cli -r <name> <localdest>
      |  graft.Cli -mr <mapperCmd> <reducerCmd> <name> [numPartitions]
      |DFS root: -Dgraft.dfs=… / $SPARK_GRAFT_DFS (default /tmp/graft_dfs)"""
      .stripMargin

  private def dfsRoot: String =
    sys.props.getOrElse("graft.dfs",
      sys.env.getOrElse("SPARK_GRAFT_DFS", "/tmp/graft_dfs"))

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val spark = GraftSession(master = sys.env.get("SPARK_GRAFT_MASTER"))
    run(spark, args)
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"Time Elapsed :  $secs%.3f")
  }

  /** Verb dispatch, separated from `main` so tests can drive it against
    * the shared test session and a temp DFS root.
    */
  private[graft] def run(spark: SparkSession, args: Array[String]): Unit = {
    val dfs = dfsRoot
    args.toList match {
      case "-w" :: src :: rest if rest.size <= 1 =>
        val name = rest.headOption.getOrElse {
          // file base name, as the reference. Dotfiles like ".env" have
          // an empty stem — use the name behind the leading dots (a
          // dot-named dataset dir would be hidden, by the dot/underscore
          // convention the store keeps for its own metadata files)
          val base = new java.io.File(src).getName
          val stem = base.dropWhile(_ == '.').split('.').head
          if (stem.isEmpty) base else stem
        }
        val parts = spark.sparkContext.defaultParallelism.min(8)
        MapReduce.write(spark, src, s"$dfs/$name", parts)
        println(s"written $src as '$name' ($parts chunks)")
      case "-r" :: name :: dest :: Nil =>
        val conf = spark.sparkContext.hadoopConfiguration
        // listed before dest is opened: a name not in the DFS fails here
        val chunks = DfsTable.chunks(s"$dfs/$name", conf)
        val out = java.nio.file.Files.newOutputStream(java.nio.file.Paths.get(dest))
        val buf = new Array[Byte](1 << 16)
        var last = '\n'.toInt // last byte written; none reads as a newline
        try for ((_, file, bytes) <- chunks if bytes > 0) {
          val in = new Path(file).getFileSystem(conf).open(new Path(file))
          try {
            var n = in.read(buf)
            // an unterminated chunk (WRITE without a final newline, then
            // an append) must not join the next; nor \r with a leading \n
            if (last != '\n' && (last != '\r' || buf(0) == '\n'))
              out.write('\n')
            while (n > 0) {
              out.write(buf, 0, n); last = buf(n - 1) & 0xff; n = in.read(buf)
            }
          } finally in.close()
        } finally out.close()
        println(s"read '$name' (${chunks.size} chunks) into $dest")
      case "-mr" :: mapperCmd :: reducerCmd :: name :: rest if rest.size <= 1 =>
        val parts = rest.headOption.map(_.toInt)
          .getOrElse(spark.sparkContext.defaultParallelism.min(8))
        MapReduce.mapReducePipe(
            MapReduce.read(spark, s"$dfs/$name"), mapperCmd, reducerCmd, parts)
          .write.format("graft-dfs").mode("overwrite")
          .save(s"$dfs/${name}_out")
        println("Map-Reduce process has finished and can be read using " +
          s"the filename : ${name}_out")
      case _ =>
        throw new IllegalArgumentException(usage)
    }
  }
}
