package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated parquet tables (see TESTDATA.md).
  *
  * The reference engine's "catalog" is a JSON map of logical file name →
  * chunk locations (reference `Master/masterhandler.py:209-213`); here the
  * catalog is simply the directory-of-parquet convention that Spark's
  * datasource API already understands — names resolve to
  * `<sfDir>/<name>.parquet`.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Resolved-plan cache: `spark.read.parquet` pays a fresh file listing
    * + footer/schema read on EVERY call, and a bench/verify session
    * resolves the same ten immutable tables hundreds of times — a pure
    * fixed overhead of ~0.1–0.3 s/query that dominated the sub-second
    * tail of the sf0.1 bench (round-9 verdict item 7). The cache reuses
    * the analyzed relation (logical plan, NOT data — nothing is
    * persisted/pinned), keyed per session so separate test sessions
    * never share. TESTDATA dirs are immutable for a session's lifetime;
    * a test that rewrites a table dir in place must evict it.
    */
  private[graft] val resolved = new SessionCache[String, DataFrame](_ => ())

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    resolved(spark, sfDir, name) {
      normalize(spark.read.parquet(s"$sfDir/$name.parquet"))
    }

  /** Timestamp normalization across TESTDATA generations. Older drops
    * wrote events.ts as parquet TIMESTAMP(NANOS) (vectorized reader
    * rejects it; with spark.sql.legacy.parquet.nanosAsLong it arrives as
    * epoch-nanos LongType — integer `div`, not /: ns epoch values exceed
    * double's 2^53 exact range, and floor-to-microsecond matches DuckDB's
    * ns→us truncation). Current drops write TIMESTAMP(MICROS) with
    * isAdjustedToUTC=false, which Spark 4 infers as TIMESTAMP_NTZ unless
    * the session disables inferTimestampNTZ — NTZ breaks watermarks,
    * unix_micros and Row.getTimestamp, so any NTZ column is cast to the
    * instant type here as a belt-and-braces fallback (UTC sessions make
    * the two readings value-identical, matching DuckDB's naive read).
    * Exposed so the readStream twin applies the identical rewrite.
    */
  def normalize(df: DataFrame): DataFrame = {
    val nanosFixed =
      df.schema.find(f => f.name == "ts" && f.dataType == LongType) match {
        case Some(_) =>
          df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case None => df
      }
    nanosFixed.schema.fields.filter(_.dataType == TimestampNTZType)
      .foldLeft(nanosFixed) { (d, f) =>
        d.withColumn(f.name, col(f.name).cast(TimestampType))
      }
  }

  /** Session config required to read all TESTDATA tables (nanos-timestamp
    * handling for `events`; micros-NTZ read as instants so watermarks and
    * epoch functions type-check). [[GraftSession]] applies it, alongside
    * spark.sql.session.timeZone=UTC, on every session this engine builds.
    */
  val requiredConf: Map[String, String] =
    Map("spark.sql.legacy.parquet.nanosAsLong" -> "true",
        "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false")
}
