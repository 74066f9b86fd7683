package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.operators.Compaction

/** Warehouse-maintenance operators — the jobs that keep a 100 TB corpus
  * healthy BETWEEN queries (SURVEY.md §2.11 [EXT]):
  *
  *  - q100 data-quality audit: a Deequ-style constraint suite computed
  *    in ONE aggregation pass over the table — completeness, key
  *    distinctness, value bounds, cross-column consistency — emitted as
  *    (metric, value, pass) verdict rows. The scan cost is one pass no
  *    matter how many constraints ride it; adding a constraint adds an
  *    aggregate expression, not a job. The one non-narrow term is the
  *    exact key-distinctness count (Spark plans it as an expand +
  *    two-level aggregate — the price of an EXACT uniqueness check; the
  *    sketch family's HLL is the one-shuffle approximate alternative).
  *  - q101 aggregate-state merge: incremental materialized-view
  *    maintenance — yesterday's per-key aggregate STATE merged with
  *    today's delta partials, never rescanning the history. Works for
  *    any commutative-monoid aggregate (count/sum merge by +); algebraic
  *    aggregates (avg here) are carried as their monoid components and
  *    finalized after the merge. At 100 TB the merge shuffles one state
  *    row per key — fact-table bytes appear only in the (small) delta
  *    scan. This is the batch twin of streaming state stores, and the
  *    same partial-combine algebra D1-D4's map-side combine uses.
  *  - layout_compact (rows-only): small-file compaction audit — see
  *    `operators.Compaction` for the scale story. The query fragments a
  *    copy of `documents` into 64 shards (the streaming-ingest layout
  *    pathology), compacts to ~4 MB files, and returns the before/after
  *    (files, rows) audit a maintenance job logs.
  */
object WarehouseOps {

  private val dec = DecimalType(18, 4)

  /** q101 cutoff: orders strictly before it are the "materialized"
    * history; on/after are the incoming delta. ~1 TPC-H year of delta.
    */
  val MergeCutoff = "1997-06-01"

  /** layout_compact target output file size. 4 MB at sf0.01 test scale;
    * production tables use 128 MB-1 GB (match maxPartitionBytes so one
    * compacted file is one scan task).
    */
  val CompactTargetBytes = 4L * 1024 * 1024

  /** q100: the constraint suite, one aggregation pass → verdict rows.
    * All values land as ROUND(x, 6) doubles computed from exact integer
    * or decimal sums, so both engines agree bit-for-bit.
    */
  def qualityAudit(docs: DataFrame): DataFrame = {
    val agg = docs.agg(
      count(lit(1)).as("n"),
      count(col("text")).as("n_text"),
      count(col("lang")).as("n_lang"),
      countDistinct(col("doc_id")).as("n_id"),
      min(col("n_chars")).as("mn_chars"),
      max(col("n_chars")).as("mx_chars"),
      sum(col("n_chars").cast(dec)).as("s_chars"),
      sum(when(col("n_chars") === length(col("text")), 1L).otherwise(0L))
        .as("n_len_ok"))
    // inline(array(struct...)) turns the single metrics row into one
    // verdict row per constraint — narrow, after the aggregation.
    agg.selectExpr(
      """inline(array(
        | named_struct('metric', 'row_count',
        |   'value', cast(n as double), 'pass', n > 0),
        | named_struct('metric', 'completeness_text',
        |   'value', round(n_text / cast(n as double), 6),
        |   'pass', n_text = n),
        | named_struct('metric', 'completeness_lang',
        |   'value', round(n_lang / cast(n as double), 6),
        |   'pass', n_lang = n),
        | named_struct('metric', 'distinctness_doc_id',
        |   'value', round(n_id / cast(n as double), 6),
        |   'pass', n_id = n),
        | named_struct('metric', 'min_n_chars',
        |   'value', cast(mn_chars as double), 'pass', mn_chars >= 0),
        | named_struct('metric', 'max_n_chars',
        |   'value', cast(mx_chars as double), 'pass', mx_chars <= 100000),
        | named_struct('metric', 'mean_n_chars',
        |   'value', round(cast(s_chars as double) / n, 6),
        |   'pass', cast(s_chars as double) / n between 1 and 100000),
        | named_struct('metric', 'len_consistency',
        |   'value', round(n_len_ok / cast(n as double), 6),
        |   'pass', n_len_ok = n)))""".stripMargin)
  }

  /** q105: MERGE/upsert — apply a change set to a keyed table: matched
    * keys take the update's row, unmatched keys insert, everything else
    * carries over. Composed as update ∪ (target ⟂ update) — one
    * anti-join + union, the MR-native form of MERGE INTO (no per-row
    * lookups; both sides co-partition on the key, and AQE broadcasts a
    * small change set so the 100 TB target never shuffles). Row-level
    * history is q83's SCD2; this is the snapshot-in-place form.
    */
  def upsert(target: DataFrame, updates: DataFrame, key: String): DataFrame =
    updates.unionByName(target.join(updates, Seq(key), "left_anti"))

  /** q101: merge per-customer order-aggregate STATE with a delta's
    * partials. `history`/`delta` are the two fact slices; the history
    * side stands in for a persisted state table — its aggregation runs
    * here only because the test must build the state it merges.
    */
  def stateMerge(history: DataFrame, delta: DataFrame): DataFrame = {
    def partials(df: DataFrame): DataFrame =
      df.groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(dec)).as("total"))
    partials(history).unionByName(partials(delta))
      .groupBy(col("o_custkey"))
      .agg(sum(col("n_orders")).as("n_orders"),
        sum(col("total")).as("total_dec"))
      .select(col("o_custkey"), col("n_orders"),
        round(col("total_dec"), 4).cast("double").as("total"),
        round(col("total_dec").cast("double") / col("n_orders"), 6)
          .as("avg_price"))
  }

  /** q273 one referential-integrity row: child rows, orphaned child
    * rows (FK present but no parent), NULL FKs. One LEFT join against
    * the DISTINCT parent keys + one aggregation — no second pass, no
    * 1-row cross join; each FK check is an independent co-partitioned
    * (or dim-broadcast) join, exactly how a dbt-style test suite runs
    * at any scale.
    */
  private[graft] def fkCheck(fkName: String, child: DataFrame, ck: String,
      parent: DataFrame, pk: String): DataFrame =
    child.select(col(ck).as("k"))
      .join(parent.select(col(pk).as("k")).distinct()
        .withColumn("hit", lit(true)), Seq("k"), "left")
      .agg(count(lit(1)).as("n_child"),
        sum(when(col("k").isNotNull && col("hit").isNull, 1L)
          .otherwise(0L)).as("n_orphans"),
        sum(when(col("k").isNull, 1L).otherwise(0L)).as("n_null_fk"))
      .select(lit(fkName).as("fk"), col("n_child"), col("n_orphans"),
        col("n_null_fk"),
        (col("n_orphans") + col("n_null_fk") === 0L).as("ok"))

  /** q274 one key-uniqueness row: rows, NULL keys (any component),
    * distinct non-null key values, excess rows beyond one-per-key.
    * Composite keys fingerprint as the '|'-joined string cast (both
    * engines build the identical text); one aggregation per key.
    */
  private[graft] def keyCheck(keyName: String, tbl: DataFrame,
      cols: Seq[String]): DataFrame = {
    val anyNull = cols.map(col(_).isNull).reduce(_ || _)
    val kf = concat_ws("|", cols.map(col(_).cast("string")): _*)
    tbl.select(when(!anyNull, kf).as("k"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("k").isNull, 1L).otherwise(0L)).as("n_null_keys"),
        count_distinct(col("k")).as("n_distinct"))
      .select(lit(keyName).as("key_name"), col("n_rows"),
        col("n_null_keys"), col("n_distinct"),
        (col("n_rows") - col("n_null_keys") - col("n_distinct"))
          .as("n_excess_rows"),
        (col("n_rows") - col("n_null_keys") === col("n_distinct"))
          .as("unique_ok"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Map[String, (SparkSession, String) => DataFrame](
      "q100_quality_audit" -> ((s, d) =>
        qualityAudit(Tables(s, d, "documents"))),

      // q273 referential-integrity audit — the dbt-style relationship
      // test suite over every declared FK of the warehouse in one
      // report: orphaned children are silent revenue-double-counting
      // (a join later fans or drops them) and NULL FKs are a schema
      // contract violation. Seven independent single-join checks
      // unioned; integer-exact.
      "q273_ri_audit" -> ((s, d) => {
        val li = Tables(s, d, "lineitem"); val o = Tables(s, d, "orders")
        val c = Tables(s, d, "customer"); val su = Tables(s, d, "supplier")
        val p = Tables(s, d, "part"); val n = Tables(s, d, "nation")
        val r = Tables(s, d, "region")
        Seq(
          fkCheck("lineitem.l_orderkey->orders", li, "l_orderkey",
            o, "o_orderkey"),
          fkCheck("lineitem.l_partkey->part", li, "l_partkey",
            p, "p_partkey"),
          fkCheck("lineitem.l_suppkey->supplier", li, "l_suppkey",
            su, "s_suppkey"),
          fkCheck("orders.o_custkey->customer", o, "o_custkey",
            c, "c_custkey"),
          fkCheck("customer.c_nationkey->nation", c, "c_nationkey",
            n, "n_nationkey"),
          fkCheck("supplier.s_nationkey->nation", su, "s_nationkey",
            n, "n_nationkey"),
          fkCheck("nation.n_regionkey->region", n, "n_regionkey",
            r, "r_regionkey")).reduce(_.unionByName(_))
      }),

      // q274 key-uniqueness audit — the dbt-style unique/not-null test
      // suite over every declared key (the composite lineitem key
      // included): duplicates silently double rows through every
      // downstream join and MERGE. Ten independent single-aggregation
      // checks unioned; integer-exact.
      "q274_key_audit" -> ((s, d) => Seq(
        keyCheck("orders.o_orderkey", Tables(s, d, "orders"),
          Seq("o_orderkey")),
        keyCheck("customer.c_custkey", Tables(s, d, "customer"),
          Seq("c_custkey")),
        keyCheck("supplier.s_suppkey", Tables(s, d, "supplier"),
          Seq("s_suppkey")),
        keyCheck("part.p_partkey", Tables(s, d, "part"),
          Seq("p_partkey")),
        keyCheck("nation.n_nationkey", Tables(s, d, "nation"),
          Seq("n_nationkey")),
        keyCheck("region.r_regionkey", Tables(s, d, "region"),
          Seq("r_regionkey")),
        keyCheck("lineitem.(l_orderkey,l_linenumber)",
          Tables(s, d, "lineitem"), Seq("l_orderkey", "l_linenumber")),
        keyCheck("documents.doc_id", Tables(s, d, "documents"),
          Seq("doc_id")),
        keyCheck("events.event_id", Tables(s, d, "events"),
          Seq("event_id")),
        keyCheck("embeddings.vec_id", Tables(s, d, "embeddings"),
          Seq("vec_id"))).reduce(_.unionByName(_))),

      "q101_state_merge" -> ((s, d) => {
        val o = Tables(s, d, "orders")
        val cut = lit(MergeCutoff).cast("timestamp")
        stateMerge(
          o.filter(col("o_orderdate") < cut),
          o.filter(col("o_orderdate") >= cut))
      }),

      // q193 incremental JOIN-view maintenance — the multi-table
      // complement of q101's single-table state merge: the materialized
      // view revenue-by-nation over customer⋈orders⋈lineitem is
      // maintained under an orders delta by the classic delta rule
      // ΔMV = ΔO ⋈ L ⋈ C [Gupta & Mumick, IEEE DE Bull. 1995] — only
      // the DELTA rides the join pipeline (delta-proportional work; at
      // 100 TB the base MV is nation-cardinality metadata and never
      // recomputed), then base + delta merge by summing the aggregate
      // state. The oracle recomputes the view FROM SCRATCH over all
      // orders, so the hash match proves the incremental path lands on
      // exactly the full-recompute answer (decimal-exact sums).
      "q193_mv_join_maintain" -> ((s, d) => {
        val c = Tables(s, d, "customer")
          .select(col("c_custkey"), col("c_nationkey"))
        val l = Tables(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_extendedprice"))
        def mv(ord: DataFrame) = ord
          .join(l, col("o_orderkey") === col("l_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_nationkey"))
          .agg(sum(col("l_extendedprice").cast(dec)).as("rev"),
            count(lit(1)).as("n_lines"))
        val o = Tables(s, d, "orders")
          .select(col("o_orderkey"), col("o_custkey"))
        val base = mv(o.filter(col("o_orderkey") % 10 =!= 0))
        val delta = mv(o.filter(col("o_orderkey") % 10 === 0))
        base.unionByName(delta)
          .groupBy(col("c_nationkey"))
          .agg(round(sum(col("rev")), 4).cast("double").as("rev"),
            sum(col("n_lines")).as("n_lines"))
      }),

      // q218 DELETE-delta view maintenance — the other half of the
      // Gupta-Mumick rule q193 covers for inserts: deletions propagate
      // as NEGATED aggregate deltas (−rev, −count), and base + ΔMV⁻
      // must land on exactly the recompute-over-survivors answer. The
      // base here is the FULL-corpus view; the deletion set (every 10th
      // order) rides the 3-table join pipeline alone — work
      // proportional to the deletion, never the history. A group whose
      // every contributor is deleted folds to (0, 0) and is dropped by
      // the n_lines > 0 filter, exactly as the recompute never emits
      // it. Oracle recomputes from the surviving orders.
      "q218_mv_delete_delta" -> ((s, d) => {
        val c = Tables(s, d, "customer")
          .select(col("c_custkey"), col("c_nationkey"))
        val l = Tables(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_extendedprice"))
        def mv(ord: DataFrame) = ord
          .join(l, col("o_orderkey") === col("l_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_nationkey"))
          .agg(sum(col("l_extendedprice").cast(dec)).as("rev"),
            count(lit(1)).as("n_lines"))
        val o = Tables(s, d, "orders")
          .select(col("o_orderkey"), col("o_custkey"))
        val base = mv(o)
        val minus = mv(o.filter(col("o_orderkey") % 10 === 0))
          .select(col("c_nationkey"), (-col("rev")).as("rev"),
            (-col("n_lines")).as("n_lines"))
        base.unionByName(minus)
          .groupBy(col("c_nationkey"))
          .agg(round(sum(col("rev")), 4).cast("double").as("rev"),
            sum(col("n_lines")).as("n_lines"))
          .filter(col("n_lines") > 0)
      }),

      // MERGE/upsert over documents with a deterministic change set
      // derived from the table itself: every 10th doc gets a '[v2] '
      // revision, every 97th spawns a new doc at doc_id + 1e6.
      "q105_upsert" -> ((s, d) => {
        val t = Tables(s, d, "documents")
        val upd = t.filter(col("doc_id") % 10 === 0)
          .withColumn("text", concat(lit("[v2] "), col("text")))
          .withColumn("n_chars", col("n_chars") + 5)
        val ins = t.filter(col("doc_id") % 97 === 0)
          .withColumn("doc_id", col("doc_id") + 1000000L)
        upsert(t, upd.unionByName(ins), "doc_id")
      }),

      // CDC changelog apply — materialize final table state from an
      // ordered change stream (op ∈ I/U/D): per key keep the LATEST
      // change (one window over (key) ordered by change sequence desc),
      // drop keys whose last op is D. THE warehouse primitive under
      // every Debezium/lakehouse merge pipeline; q105's upsert is its
      // single-batch special case. One shuffle on the key; per-key
      // window state is one row. The changelog is simulated
      // deterministically from `documents` (inserts for all, updates
      // for id%4==1 at seq 2, deletes for id%9==2 at seq 3) —
      // identically in both engines.
      "q123_cdc_apply" -> ((s, d) => {
        val t = Tables(s, d, "documents").select(col("doc_id"), col("text"))
        val changes =
          t.select(col("doc_id"), lit(1L).as("seq"), lit("I").as("op"),
              col("text"))
            .unionByName(t.filter(col("doc_id") % 4 === 1)
              .select(col("doc_id"), lit(2L).as("seq"), lit("U").as("op"),
                concat(lit("[u] "), col("text")).as("text")))
            .unionByName(t.filter(col("doc_id") % 9 === 2)
              .select(col("doc_id"), lit(3L).as("seq"), lit("D").as("op"),
                lit("").as("text")))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id")).orderBy(col("seq").desc)
        changes
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1 && col("op") =!= "D")
          .select(col("doc_id"), col("seq").as("last_seq"), md5(col("text"))
            .as("state_hash"))
      }),

      // Table-diff checksum — the at-scale reconciliation primitive:
      // bucket both tables on a key hash, aggregate an ORDER-INDEPENDENT
      // per-bucket checksum (bit_xor of a 60-bit md5 prefix — any
      // single-row difference flips the xor), and compare bucket rows.
      // Divergent buckets localize re-sync work to 1/64 of the data per
      // bucket — the pattern behind anti-entropy repair. Engines parse
      // the hex prefix differently (Spark conv(), DuckDB from-hex cast)
      // but produce the same BIGINT, which is all the oracle compares.
      // Snapshots are the q75 simulation (A drops id%7==2, B drops
      // id%11==3 and edits id%13==5).
      "q124_checksum_compare" -> ((s, d) => {
        val docs = Tables(s, d, "documents")
        def side(df: org.apache.spark.sql.DataFrame) = df
          .select(pmod(col("doc_id"), lit(64)).as("bucket"),
            conv(substring(md5(concat_ws("|",
              col("doc_id").cast("string"), col("text"))), 1, 15), 16, 10)
              .cast("long").as("h"))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n"), expr("bit_xor(h)").as("xsum"))
        val a = side(docs.filter(pmod(col("doc_id"), lit(7)) =!= 2))
        val b = side(docs.filter(pmod(col("doc_id"), lit(11)) =!= 3)
          .withColumn("text", when(pmod(col("doc_id"), lit(13)) === 5,
            concat(col("text"), lit(" v2"))).otherwise(col("text"))))
        a.select(col("bucket"), col("n").as("n_a"), col("xsum").as("x_a"))
          .join(b.select(col("bucket"), col("n").as("n_b"),
            col("xsum").as("x_b")), Seq("bucket"), "full_outer")
          .withColumn("in_sync",
            col("n_a") === col("n_b") && col("x_a") === col("x_b"))
      }),

      // rows-only: file counts aren't SQL over the source tables. The
      // before/after audit shape is pinned exactly by CompactionSpec.
      // q158 column profiler (the discovery pass a warehouse runs
      // before planning a migration): per column null count, exact
      // distinct count and typed min/max — numerics as doubles, strings
      // as-is, timestamps formatted (second precision). ONE single-
      // distinct aggregation PER COLUMN, unioned: each branch's parquet
      // scan prunes to exactly its column and its distinct plans as the
      // two-phase partial-distinct aggregate. The tempting alternative
      // — all 11 columns in one agg — triggers the multi-distinct
      // Expand rewrite (rows × 12, an 11-column grouping key) and
      // MEASURED 26 s vs 1.4 s for this form at sf0.1. At 100 TB swap
      // countDistinct → approx_count_distinct and the branches fuse
      // into one genuine single pass (the q107⇄q113 trade applied to
      // profiling). Output is 11 rows.
      // q236 profile drift between two corpus snapshots — the
      // column-level complement of q124's row checksum and q75's
      // content diff: a reconciliation that says WHICH statistic moved
      // (volume, null rate, cardinality, range) rather than which rows.
      // Snapshots reuse the q75/changelog splits; each (snapshot,
      // column) profile is its OWN single-distinct aggregation branch,
      // unioned — the q158 lesson (one Expand-free distinct per branch)
      // — and there are NO joins: the 6-row long-format report diffs by
      // eye or by a trivial downstream pivot. min/max compute in the
      // column's native type, then cast to string for the uniform
      // report schema.
      "q236_profile_drift" -> ((s, d) => {
        val docs = Tables(s, d, "documents")
        val snaps = Seq(
          "a" -> docs.filter(pmod(col("doc_id"), lit(7)) =!= 2),
          "b" -> docs.filter(pmod(col("doc_id"), lit(11)) =!= 3))
        val cols = Seq("n_chars", "lang", "source")
        snaps.flatMap { case (tag, df) =>
          cols.map { c =>
            df.agg(count(lit(1)).as("n"),
                sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_null"),
                countDistinct(col(c)).as("n_distinct"),
                min(col(c)).cast("string").as("min_val"),
                max(col(c)).cast("string").as("max_val"))
              .select(lit(tag).as("snap"), lit(c).as("col_name"),
                col("n"), col("n_null"), col("n_distinct"),
                col("min_val"), col("max_val"))
          }
        }.reduce(_.unionByName(_))
      }),

      "q158_profile" -> ((s, d) => {
        val li = Tables(s, d, "lineitem")
        val numCols = Seq("l_orderkey", "l_partkey", "l_suppkey",
          "l_linenumber", "l_quantity", "l_extendedprice", "l_discount",
          "l_tax")
        val strCols = Seq("l_returnflag", "l_linestatus")
        val tsCols = Seq("l_shipdate")
        def prof(c: String) = li
          .agg(sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_null"),
            countDistinct(col(c)).as("n_distinct"),
            min(col(c)).as("mn"), max(col(c)).as("mx"))
        val rows = numCols.map(c => prof(c)
            .select(lit(c).as("col_name"), col("n_null"), col("n_distinct"),
              col("mn").cast("double").as("min_num"),
              col("mx").cast("double").as("max_num"),
              lit(null).cast("string").as("min_str"),
              lit(null).cast("string").as("max_str"))) ++
          strCols.map(c => prof(c)
            .select(lit(c).as("col_name"), col("n_null"), col("n_distinct"),
              lit(null).cast("double").as("min_num"),
              lit(null).cast("double").as("max_num"),
              col("mn").as("min_str"), col("mx").as("max_str"))) ++
          tsCols.map(c => prof(c)
            .select(lit(c).as("col_name"), col("n_null"), col("n_distinct"),
              lit(null).cast("double").as("min_num"),
              lit(null).cast("double").as("max_num"),
              date_format(col("mn"), "yyyy-MM-dd HH:mm:ss").as("min_str"),
              date_format(col("mx"), "yyyy-MM-dd HH:mm:ss").as("max_str")))
        rows.reduce(_ unionByName _)
      }),

      // q177 Benford first-digit audit (the classic fabricated-numbers
      // screen): observed leading-digit distribution of o_totalprice vs
      // Benford's log10(1 + 1/d) expectation, with per-digit chi-square
      // contributions. One grouped count over a narrow scan; the
      // 9-digit expectation table is a literal CASE. log10 is the only
      // transcendental and it runs on the 9-row aggregate, rounded.
      "q177_benford" -> ((s, d) => {
        val digit = substring(col("o_totalprice").cast("string"), 1, 1)
          .cast("int")
        val g = Tables(s, d, "orders")
          .select(digit.as("d"))
          .filter(col("d") >= 1)
          .groupBy(col("d")).agg(count(lit(1)).as("n"))
        val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
        g.withColumn("tot", sum(col("n")).over(wAll))
          .select(col("d"), col("n"),
            round(col("n").cast("double") / col("tot"), 6).as("observed"),
            round(log10(lit(1.0) + lit(1.0) / col("d")), 6).as("expected"),
            round(pow(col("n").cast("double") / col("tot")
                - log10(lit(1.0) + lit(1.0) / col("d")), 2)
              / log10(lit(1.0) + lit(1.0) / col("d")) * col("tot"), 6)
              .as("chi2"))
      }),

      // q178 referential-integrity audit: every foreign-key edge of the
      // star schema checked in ONE report — child rows whose key has no
      // parent (orphans). Each edge is a left-anti join on its key
      // (broadcast for the bounded parents, shuffle for the big ones —
      // AQE's call), then a 7-row union. The q100 quality-audit shape
      // applied to the schema graph instead of one table.
      "q178_fk_orphans" -> ((s, d) => {
        def edge(name: String, child: DataFrame, key: String,
            parent: DataFrame, pkey: String) = {
          val orphans = child.select(col(key))
            .join(parent.select(col(pkey)), col(key) === col(pkey),
              "left_anti")
          orphans.agg(count(lit(1)).as("n_orphans"))
            .select(lit(name).as("fk_edge"), col("n_orphans"))
        }
        val li = Tables(s, d, "lineitem")
        val o = Tables(s, d, "orders")
        val c = Tables(s, d, "customer")
        val p = Tables(s, d, "part")
        val su = Tables(s, d, "supplier")
        val n = Tables(s, d, "nation")
        val r = Tables(s, d, "region")
        Seq(
          edge("lineitem.orderkey", li, "l_orderkey", o, "o_orderkey"),
          edge("lineitem.partkey", li, "l_partkey", p, "p_partkey"),
          edge("lineitem.suppkey", li, "l_suppkey", su, "s_suppkey"),
          edge("orders.custkey", o, "o_custkey", c, "c_custkey"),
          edge("customer.nationkey", c, "c_nationkey", n, "n_nationkey"),
          edge("supplier.nationkey", su, "s_nationkey", n, "n_nationkey"),
          edge("nation.regionkey", n, "n_regionkey", r, "r_regionkey"))
          .reduce(_ unionByName _)
      }),

      // rows-only: the content-addressed result cache
      // (operators.ResultCache) driven end-to-end — first call computes
      // and commits, the replay is served from the stored result (the
      // warehouse result-reuse verb). The hit/miss contract, the
      // no-re-execution proof, and input invalidation are pinned in
      // ResultCacheSpec; the entry requires the miss-then-hit sequence
      // before returning the served frame.
      // rows-only: the MV query-rewrite rule (plans.MvRewrite) driven
      // end-to-end the way q233 drives ApproxDistinctRewrite: build a
      // rollup MV of lineitem keyed on (returnflag, linestatus), then
      // run a plain aggregate against the FACT path with the rule's
      // confs set on an isolated session (SQLConf is session state, so
      // the shared session's plans stay untouched) — the entry requires
      // the optimized plan to scan the MV (not the fact table) before
      // returning the result. l_quantity is integral-valued, so the
      // re-merged sums are bit-exact vs the direct scan; MvRewriteSpec
      // pins equality, rollup, filter pushdown, every refusal path, and
      // inertness.
      "layout_mv_rewrite" -> ((s0, d) => {
        val rule = graft.plans.MvRewrite
        val iso = s0.newSession()
        val root = Files.createTempDirectory("graft_mvrw").toString
        val fact = s"$d/lineitem.parquet"
        iso.read.parquet(fact)
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(count(lit(1)).as("cnt"),
            sum(col("l_quantity")).as("sum_l_quantity"),
            min(col("l_quantity")).as("min_l_quantity"),
            max(col("l_quantity")).as("max_l_quantity"))
          .write.mode("overwrite").parquet(s"$root/mv")
        iso.conf.set(rule.SourceKey, fact)
        iso.conf.set(rule.TargetKey, s"$root/mv")
        iso.conf.set(rule.KeysKey, "l_returnflag,l_linestatus")
        val out = iso.read.parquet(fact)
          .filter(col("l_linestatus") === "F")
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity")).as("qty"),
            max(col("l_quantity")).as("max_qty"))
        val scansMv = out.queryExecution.optimizedPlan.collectFirst {
          case lr: org.apache.spark.sql.execution.datasources.LogicalRelation
              if lr.relation.isInstanceOf[
                org.apache.spark.sql.execution.datasources.HadoopFsRelation]
              && lr.relation
                .asInstanceOf[
                  org.apache.spark.sql.execution.datasources.HadoopFsRelation]
                .location.rootPaths.exists(_.toString.contains(root)) => lr
        }.isDefined
        require(scansMv, "MV rewrite did not fire")
        val rows = out.collect().toSeq
        import s0.implicits._
        rows.map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3))).toDF("l_returnflag", "n", "qty", "max_qty")
      }),

      "layout_result_cache" -> ((s, d) => {
        val root = Files.createTempDirectory("graft_rescache").toString
        def q = Tables(s, d, "orders")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast(DecimalType(18, 4)))
              .cast("double").as("total"))
        val (first, h1) = graft.operators.ResultCache.cached(q, root)
        first.count()
        val (served, h2) = graft.operators.ResultCache.cached(q, root)
        require(!h1 && h2, s"expected miss-then-hit, got $h1/$h2")
        served
      }),

      // rows-only: snapshot-isolation layout (operators.VersionedTable)
      // — v1 holds the even docs, v2 the full corpus; the report reads
      // BOTH versions back (time travel) and the crashed-writer
      // invisibility contract is pinned in VersionedTableSpec.
      "layout_timetravel" -> ((s, d) => {
        import s.implicits._
        val root = Files.createTempDirectory("graft_vt").toString
        val docs = Tables(s, d, "documents")
        graft.operators.VersionedTable.write(
          docs.filter(pmod(col("doc_id"), lit(2)) === 0), root)
        graft.operators.VersionedTable.write(docs, root)
        Seq(
          ("v1", graft.operators.VersionedTable
            .read(s, root, Some(1L)).count()),
          ("latest", graft.operators.VersionedTable.read(s, root).count()))
          .toDF("snapshot", "n_docs")
      }),

      // Versioned MERGE: q105's upsert semantics committed as a NEW
      // snapshot version (table-format MERGE INTO on the layout
      // primitives). Rows-only (FS effects); VersionedTableSpec pins
      // replace/insert/carry-over and pre-merge time travel.
      "layout_merge_versioned" -> ((s, d) => {
        import s.implicits._
        val root = Files.createTempDirectory("graft_vtm").toString
        val docs = Tables(s, d, "documents")
          .select(col("doc_id"), col("text"))
        graft.operators.VersionedTable.write(docs, root)
        val updates = docs.filter(pmod(col("doc_id"), lit(10)) === 1)
          .select(col("doc_id"), concat(lit("[m] "), col("text")).as("text"))
          .unionByName(docs.agg((max(col("doc_id")) + 1).as("doc_id"))
            .select(col("doc_id"), lit("inserted row").as("text")))
        val v = graft.operators.VersionedTable.merge(s, root, updates,
          "doc_id")
        val merged = graft.operators.VersionedTable.read(s, root)
        Seq(
          ("version", v),
          ("rows", merged.count()),
          ("updated", merged.filter(col("text").startsWith("[m] ")).count()),
          ("v1_rows", graft.operators.VersionedTable
            .read(s, root, Some(1L)).count()))
          .toDF("fact", "n")
      }),

      // Changelog BETWEEN snapshot versions (the inverse of q123's CDC
      // apply) over the q75 simulation committed as real versions:
      // emits I/U/D per key; rows-only (FS effects), with the
      // apply-roundtrip invariant pinned in VersionedTableSpec.
      // q238 forget flow (rows-only; VersionedTableSpec) — the
      // right-to-be-forgotten pipeline over the versioned layout:
      // DELETE the doomed users' rows as a new snapshot, then EXPIRE
      // every pre-delete version so time travel can no longer serve
      // the forgotten bytes (compliance = delete + expire, not delete
      // alone). Output is the audit a DPO reads: before/after rows,
      // post-flow residue (must be 0), and the surviving version set.
      "q238_forget_flow" -> ((s, d) => {
        import s.implicits._
        val root = Files.createTempDirectory("graft_forget").toString
        val ev = Tables(s, d, "events")
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("value"))
        graft.operators.VersionedTable.write(ev, root)
        val doomed = ev.select(col("user_id")).distinct()
          .filter(pmod(col("user_id"), lit(50)) === 0)
        val v2 = graft.operators.VersionedTable.delete(s, root, doomed,
          "user_id")
        graft.operators.VersionedTable.expire(s, root, v2)
        val cur = graft.operators.VersionedTable.read(s, root)
        val residue = cur.join(doomed, Seq("user_id")).count()
        val live = graft.operators.VersionedTable.versions(s, root)
        Seq(
          ("rows_before", ev.count()),
          ("rows_after", cur.count()),
          ("forgotten_users", doomed.count()),
          ("residue", residue),
          ("versions_live", live.size.toLong),
          ("oldest_version", live.min))
          .toDF("metric", "value")
      }),

      "layout_changelog" -> ((s, d) => {
        val root = Files.createTempDirectory("graft_vtcl").toString
        val docs = Tables(s, d, "documents")
          .select(col("doc_id"), col("text"))
        graft.operators.VersionedTable.write(
          docs.filter(pmod(col("doc_id"), lit(7)) =!= 2), root)
        graft.operators.VersionedTable.write(
          docs.filter(pmod(col("doc_id"), lit(11)) =!= 3)
            .withColumn("text", when(pmod(col("doc_id"), lit(13)) === 5,
              concat(col("text"), lit(" v2"))).otherwise(col("text"))),
          root)
        graft.operators.VersionedTable.changelog(s, root, 1L, 2L, "doc_id")
          .groupBy(col("op")).agg(count(lit(1)).as("n"))
      }),

      "layout_compact" -> ((s, d) => {
        val base = Files.createTempDirectory("graft_compact").toString
        Tables(s, d, "documents").repartition(64)
          .write.mode("overwrite").parquet(s"$base/frag")
        Compaction.compact(s, s"$base/frag", s"$base/out",
          CompactTargetBytes)
      }))

  private val fkSpecs = Seq(
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
      "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey",
      "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey",
      "supplier", "s_suppkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey",
      "customer", "c_custkey"),
    ("customer.c_nationkey->nation", "customer", "c_nationkey",
      "nation", "n_nationkey"),
    ("supplier.s_nationkey->nation", "supplier", "s_nationkey",
      "nation", "n_nationkey"),
    ("nation.n_regionkey->region", "nation", "n_regionkey",
      "region", "r_regionkey"))

  private val keySpecs = Seq(
    ("orders.o_orderkey", "orders", Seq("o_orderkey")),
    ("customer.c_custkey", "customer", Seq("c_custkey")),
    ("supplier.s_suppkey", "supplier", Seq("s_suppkey")),
    ("part.p_partkey", "part", Seq("p_partkey")),
    ("nation.n_nationkey", "nation", Seq("n_nationkey")),
    ("region.r_regionkey", "region", Seq("r_regionkey")),
    ("lineitem.(l_orderkey,l_linenumber)", "lineitem",
      Seq("l_orderkey", "l_linenumber")),
    ("documents.doc_id", "documents", Seq("doc_id")),
    ("events.event_id", "events", Seq("event_id")),
    ("embeddings.vec_id", "embeddings", Seq("vec_id")))

  def oracle: Map[String, String] = Map(
    "q273_ri_audit" -> fkSpecs.map { case (nm, ct, ck, pt, pk) =>
      s"""SELECT '$nm' AS fk, CAST(count(*) AS BIGINT) AS n_child,
         |  CAST(sum(CASE WHEN c.k IS NOT NULL AND p.pk2 IS NULL
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans,
         |  CAST(sum(CASE WHEN c.k IS NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_null_fk,
         |  sum(CASE WHEN c.k IS NOT NULL AND p.pk2 IS NULL
         |    THEN 1 ELSE 0 END)
         |    + sum(CASE WHEN c.k IS NULL THEN 1 ELSE 0 END) = 0 AS ok
         |FROM (SELECT $ck AS k FROM $ct) c
         |LEFT JOIN (SELECT DISTINCT $pk AS pk2 FROM $pt) p
         |  ON c.k = p.pk2""".stripMargin
    }.mkString("\nUNION ALL\n"),
    "q274_key_audit" -> keySpecs.map { case (nm, tbl, cols) =>
      val nullCond = cols.map(c => s"$c IS NULL").mkString(" OR ")
      val fp = cols.map(c => s"CAST($c AS VARCHAR)")
        .mkString(" || '|' || ")
      s"""SELECT '$nm' AS key_name, CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_null_keys,
         |  CAST(count(DISTINCT k) AS BIGINT) AS n_distinct,
         |  CAST(count(*) - sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END)
         |    - count(DISTINCT k) AS BIGINT) AS n_excess_rows,
         |  count(*) - sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END)
         |    = count(DISTINCT k) AS unique_ok
         |FROM (SELECT CASE WHEN $nullCond THEN NULL ELSE $fp END AS k
         |      FROM $tbl)""".stripMargin
    }.mkString("\nUNION ALL\n"),
    "q177_benford" ->
      """WITH g AS (SELECT CAST(substring(CAST(o_totalprice AS VARCHAR),
        |    1, 1) AS INTEGER) AS d, COUNT(*) AS n
        |  FROM orders
        |  WHERE CAST(substring(CAST(o_totalprice AS VARCHAR), 1, 1)
        |    AS INTEGER) >= 1
        |  GROUP BY 1),
        |t AS (SELECT d, n, SUM(n) OVER () AS tot FROM g)
        |SELECT d, n,
        |  round(CAST(n AS DOUBLE) / tot, 6) AS observed,
        |  round(log10(1.0 + 1.0 / d), 6) AS expected,
        |  round(power(CAST(n AS DOUBLE) / tot - log10(1.0 + 1.0 / d), 2)
        |    / log10(1.0 + 1.0 / d) * tot, 6) AS chi2
        |FROM t""".stripMargin,
    "q178_fk_orphans" -> {
      val edges = Seq(
        ("lineitem.orderkey", "lineitem", "l_orderkey", "orders",
          "o_orderkey"),
        ("lineitem.partkey", "lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem.suppkey", "lineitem", "l_suppkey", "supplier",
          "s_suppkey"),
        ("orders.custkey", "orders", "o_custkey", "customer", "c_custkey"),
        ("customer.nationkey", "customer", "c_nationkey", "nation",
          "n_nationkey"),
        ("supplier.nationkey", "supplier", "s_nationkey", "nation",
          "n_nationkey"),
        ("nation.regionkey", "nation", "n_regionkey", "region",
          "r_regionkey"))
      edges.map { case (nm, ch, k, pa, pk) =>
        s"""SELECT '$nm' AS fk_edge, CAST(COUNT(*) AS BIGINT) AS n_orphans
           |FROM $ch WHERE NOT EXISTS
           |  (SELECT 1 FROM $pa WHERE $pa.$pk = $ch.$k)""".stripMargin
      }.mkString("\nUNION ALL\n")
    },
    "q236_profile_drift" -> {
      val snaps = Seq("a" -> "doc_id % 7 <> 2", "b" -> "doc_id % 11 <> 3")
      val cols = Seq("n_chars", "lang", "source")
      snaps.flatMap { case (tag, pred) =>
        cols.map { c =>
          s"""SELECT '$tag' AS snap, '$c' AS col_name,
             |  COUNT(*) AS n,
             |  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_null,
             |  COUNT(DISTINCT $c) AS n_distinct,
             |  CAST(MIN($c) AS VARCHAR) AS min_val,
             |  CAST(MAX($c) AS VARCHAR) AS max_val
             |FROM documents WHERE $pred""".stripMargin
        }
      }.mkString("\nUNION ALL\n")
    },

    "q158_profile" -> {
      val numCols = Seq("l_orderkey", "l_partkey", "l_suppkey",
        "l_linenumber", "l_quantity", "l_extendedprice", "l_discount",
        "l_tax")
      val strCols = Seq("l_returnflag", "l_linestatus")
      val num = numCols.map(c =>
        s"""SELECT '$c' AS col_name,
           |  CAST(COUNT(*) - COUNT($c) AS BIGINT) AS n_null,
           |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  CAST(MIN($c) AS DOUBLE) AS min_num,
           |  CAST(MAX($c) AS DOUBLE) AS max_num,
           |  CAST(NULL AS VARCHAR) AS min_str,
           |  CAST(NULL AS VARCHAR) AS max_str FROM lineitem""".stripMargin)
      val str = strCols.map(c =>
        s"""SELECT '$c', CAST(COUNT(*) - COUNT($c) AS BIGINT),
           |  CAST(COUNT(DISTINCT $c) AS BIGINT),
           |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           |  MIN($c), MAX($c) FROM lineitem""".stripMargin)
      val ts = Seq(
        """SELECT 'l_shipdate',
          |  CAST(COUNT(*) - COUNT(l_shipdate) AS BIGINT),
          |  CAST(COUNT(DISTINCT l_shipdate) AS BIGINT),
          |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
          |  strftime(MIN(l_shipdate), '%Y-%m-%d %H:%M:%S'),
          |  strftime(MAX(l_shipdate), '%Y-%m-%d %H:%M:%S')
          |  FROM lineitem""".stripMargin)
      (num ++ str ++ ts).mkString("\nUNION ALL\n")
    },
    "q123_cdc_apply" ->
      """WITH t AS (SELECT doc_id, text FROM documents),
        |ch AS (
        |  SELECT doc_id, 1 AS seq, 'I' AS op, text FROM t
        |  UNION ALL
        |  SELECT doc_id, 2, 'U', '[u] ' || text FROM t WHERE doc_id % 4 = 1
        |  UNION ALL
        |  SELECT doc_id, 3, 'D', '' FROM t WHERE doc_id % 9 = 2),
        |r AS (SELECT doc_id, seq, op, text,
        |        row_number() OVER (PARTITION BY doc_id ORDER BY seq DESC)
        |          AS rn
        |      FROM ch)
        |SELECT doc_id, CAST(seq AS BIGINT) AS last_seq,
        |  md5(text) AS state_hash
        |FROM r WHERE rn = 1 AND op != 'D'""".stripMargin,
    "q124_checksum_compare" ->
      """WITH a AS (
        |  SELECT doc_id % 64 AS bucket, COUNT(*) AS n,
        |    bit_xor(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|' ||
        |      text), 1, 15))::BIGINT) AS xsum
        |  FROM documents WHERE doc_id % 7 != 2 GROUP BY doc_id % 64),
        |b AS (
        |  SELECT doc_id % 64 AS bucket, COUNT(*) AS n,
        |    bit_xor(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|' ||
        |      CASE WHEN doc_id % 13 = 5 THEN text || ' v2' ELSE text END),
        |      1, 15))::BIGINT) AS xsum
        |  FROM documents WHERE doc_id % 11 != 3 GROUP BY doc_id % 64)
        |SELECT COALESCE(a.bucket, b.bucket) AS bucket,
        |  a.n AS n_a, a.xsum AS x_a, b.n AS n_b, b.xsum AS x_b,
        |  (a.n = b.n AND a.xsum = b.xsum) AS in_sync
        |FROM a FULL JOIN b ON a.bucket = b.bucket""".stripMargin,
    "q100_quality_audit" ->
      """WITH a AS (SELECT COUNT(*) AS n, COUNT(text) AS n_text,
        |  COUNT(lang) AS n_lang, COUNT(DISTINCT doc_id) AS n_id,
        |  MIN(n_chars) AS mn_chars, MAX(n_chars) AS mx_chars,
        |  CAST(SUM(CAST(n_chars AS DECIMAL(18,4))) AS DOUBLE) AS s_chars,
        |  COUNT(*) FILTER (WHERE n_chars = LENGTH(text)) AS n_len_ok
        | FROM documents)
        |SELECT 'row_count' AS metric, CAST(n AS DOUBLE) AS value,
        |  n > 0 AS pass FROM a
        |UNION ALL SELECT 'completeness_text',
        |  ROUND(n_text / CAST(n AS DOUBLE), 6), n_text = n FROM a
        |UNION ALL SELECT 'completeness_lang',
        |  ROUND(n_lang / CAST(n AS DOUBLE), 6), n_lang = n FROM a
        |UNION ALL SELECT 'distinctness_doc_id',
        |  ROUND(n_id / CAST(n AS DOUBLE), 6), n_id = n FROM a
        |UNION ALL SELECT 'min_n_chars', CAST(mn_chars AS DOUBLE),
        |  mn_chars >= 0 FROM a
        |UNION ALL SELECT 'max_n_chars', CAST(mx_chars AS DOUBLE),
        |  mx_chars <= 100000 FROM a
        |UNION ALL SELECT 'mean_n_chars', ROUND(s_chars / n, 6),
        |  s_chars / n BETWEEN 1 AND 100000 FROM a
        |UNION ALL SELECT 'len_consistency',
        |  ROUND(n_len_ok / CAST(n AS DOUBLE), 6), n_len_ok = n FROM a""".stripMargin,
    "q105_upsert" ->
      """WITH upd AS (SELECT doc_id, '[v2] ' || text AS text, lang, source,
        |    n_chars + 5 AS n_chars FROM documents WHERE doc_id % 10 = 0),
        |ins AS (SELECT doc_id + 1000000 AS doc_id, text, lang, source,
        |    n_chars FROM documents WHERE doc_id % 97 = 0),
        |u AS (SELECT * FROM upd UNION ALL SELECT * FROM ins)
        |SELECT * FROM u
        |UNION ALL
        |SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
        |FROM documents d
        |WHERE NOT EXISTS (SELECT 1 FROM u WHERE u.doc_id = d.doc_id)"""
        .stripMargin,
    "q193_mv_join_maintain" ->
      """SELECT c_nationkey,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 4)
        |    AS DOUBLE) AS rev,
        |  COUNT(*) AS n_lines
        |FROM orders
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_nationkey""".stripMargin,
    "q218_mv_delete_delta" ->
      """SELECT c_nationkey,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 4)
        |    AS DOUBLE) AS rev,
        |  COUNT(*) AS n_lines
        |FROM orders
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderkey % 10 <> 0
        |GROUP BY c_nationkey""".stripMargin,
    "q101_state_merge" ->
      """WITH hist AS (SELECT o_custkey, COUNT(*) AS n_orders,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS total
        |  FROM orders WHERE o_orderdate < TIMESTAMP '1997-06-01'
        |  GROUP BY o_custkey),
        |delta AS (SELECT o_custkey, COUNT(*) AS n_orders,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS total
        |  FROM orders WHERE o_orderdate >= TIMESTAMP '1997-06-01'
        |  GROUP BY o_custkey),
        |u AS (SELECT * FROM hist UNION ALL SELECT * FROM delta)
        |SELECT o_custkey, CAST(SUM(n_orders) AS BIGINT) AS n_orders,
        |  CAST(ROUND(SUM(total), 4) AS DOUBLE) AS total,
        |  ROUND(CAST(SUM(total) AS DOUBLE) / CAST(SUM(n_orders) AS BIGINT), 6)
        |    AS avg_price
        |FROM u GROUP BY o_custkey""".stripMargin)
}
