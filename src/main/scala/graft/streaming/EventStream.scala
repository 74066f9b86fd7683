package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface over the `events` table (SURVEY.md §2.10
  * [EXT] — the reference is batch-only; this is the north-star streaming
  * extension). Every transform here is defined once and runs in BOTH
  * modes: the batch twin is what the DuckDB oracle checks (q16, q31), the
  * streaming run is pinned against the batch result in EventStreamSpec
  * via MemoryStream.
  *
  * Scale notes: windowed aggregation state is bounded by the watermark
  * (30 min late-data horizon); session state by user cardinality × open
  * sessions, evicted on event-time timeout — both shuffle-partitioned by
  * key, no driver state.
  */
object EventStream {

  /** Tumbling-window counts per event type — q16's shape. On a streaming
    * DataFrame the watermark bounds state; on batch it is a no-op.
    */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"),
        col("sum_value"))

  /** Streaming exact dedup on event_id: state is bounded by the
    * watermark (an id older than the horizon can be evicted — the
    * streaming form of q20's exact dedup, the first stage of a streaming
    * training-data pipeline).
    */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Batch twin of [[dedupStream]] — q55's oracle-checked shape. Keeps
    * one row per event_id; callers feed it duplicate-bearing input (the
    * query doubles the table with a self-union, so duplicate rows are
    * byte-identical and the kept-row choice can't affect the result).
    * One shuffle on the dedup key — same state partitioning the
    * streaming form uses.
    */
  def dedupBatch(events: DataFrame): DataFrame =
    events.dropDuplicates("event_id")

  /** Sliding-window event rate: 10-minute windows every 5 minutes. */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("n"))

  /** Stream-static enrichment: the streaming fact side joins a static
    * (or slowly-refreshed) dimension — planned as a broadcast hash join
    * per micro-batch, NO streaming state at all. The 100 TB shape for
    * "attach user/source metadata to the event firehose".
    */
  def enrich(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(broadcast(dim), key)

  /** Stream-stream inner join: each click matched to the same user's
    * purchases within the next 10 minutes. Both sides carry watermarks
    * and the join predicate bounds event-time distance, so each side's
    * buffered state is evicted once the other side's watermark passes —
    * state is O(rate × horizon), not unbounded. Neither side
    * broadcasts. In batch mode the same plan is a plain range join
    * (watermarks are no-ops) whose strategy AQE picks, which is what
    * the q45 oracle hash-checks; EventStreamSpec pins streaming == batch.
    */
  def clickPurchaseJoin(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "30 minutes")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "30 minutes")
    clicks.join(purchases,
        col("user_id") === col("p_user") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 10 MINUTES"))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        col("click_ts"), col("purchase_ts"))
  }

  /** Stream-stream LEFT OUTER interval join — every click, with its
    * matching purchase or with NULL purchase columns once the watermark
    * PROVES no match can still arrive. This is the semantics inner joins
    * can't give a streaming pipeline: "conversion or confirmed
    * non-conversion", emitted incrementally. The null-padded row for an
    * unmatched click is only emitted when the purchase-side watermark
    * passes click_ts + 10 min (emitting earlier could be contradicted by
    * a late purchase), so outer results trail the inner ones by the
    * lateness horizon — the correctness/latency trade Structured
    * Streaming makes explicit. State bounds are identical to
    * [[clickPurchaseJoin]]: both sides evict below the watermark.
    * Batch twin (watermarks no-op) = a plain left interval join, which
    * the q104 oracle hash-checks; EventStreamSpec pins streaming ==
    * batch including the null rows.
    */
  def clickPurchaseLeftJoin(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "30 minutes")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "30 minutes")
    clicks.join(purchases,
        col("user_id") === col("p_user") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 10 MINUTES"),
        "left_outer")
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        col("click_ts"), col("purchase_ts"))
  }

  /** Stream-stream LEFT SEMI interval join — "clicks that converted",
    * each click emitted AT MOST ONCE however many purchases match (the
    * inner join q45 fans out per purchase; dropDuplicates after it
    * would need its own keyed state — semi is the native one-state-pass
    * form). Same watermark/state eviction bounds as [[clickPurchaseJoin]];
    * a matched click emits immediately, and state evicts below the
    * watermark. Batch twin = a plain EXISTS range predicate, which the
    * q199 oracle hash-checks; EventStreamSpec pins streaming == batch.
    */
  def clickPurchaseSemiJoin(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "30 minutes")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "30 minutes")
    clicks.join(purchases,
        col("user_id") === col("p_user") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 10 MINUTES"),
        "left_semi")
      .select(col("user_id"), col("click_id"), col("click_ts"))
  }

  /** Stream-stream FULL OUTER interval join — completes the streaming
    * join matrix (inner q45, left q104): unmatched CLICKS null-pad on
    * the purchase side (non-conversions) AND unmatched PURCHASES
    * null-pad on the click side (untracked/organic purchases) — each
    * emitted only once the OTHER side's watermark proves no partner can
    * still arrive. Same O(rate × horizon) state bound as the inner
    * form; the outer rows trail by the lateness horizon on whichever
    * side must be proven empty. Batch twin (watermarks no-op) = plain
    * full interval join, hash-checked by the q122 oracle;
    * EventStreamSpec pins streaming == batch including both null
    * orientations.
    */
  def clickPurchaseFullJoin(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "30 minutes")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "30 minutes")
    clicks.join(purchases,
        col("user_id") === col("p_user") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 10 MINUTES"),
        "full_outer")
      .select(coalesce(col("user_id"), col("p_user")).as("user_id"),
        col("click_id"), col("purchase_id"),
        col("click_ts"), col("purchase_ts"))
  }

  case class Event(user_id: Long, ts: Timestamp, event_type: String,
      value: Double)
  case class SessionAcc(start: Long, end: Long, n: Long, sum: Double)
  case class Session(user_id: Long, session_start: Timestamp,
      session_end: Timestamp, n_events: Long, sum_value: Double)

  /** Custom stateful sessionization via flatMapGroupsWithState — the
    * KeyValueGroupedDataset escape hatch for state machines the built-in
    * session_window can't express (here: the same gap semantics, so the
    * batch session_window twin `sessionized` is its oracle).
    *
    * Streaming contract: events per user arrive in any order within the
    * watermark; state holds ONE open session (micro-batch input is sorted
    * per group before folding); on event-time timeout the session closes
    * and emits.
    */
  /** Timestamp↔micros: state math runs in MICROsecond precision —
    * Timestamp.getTime is millis and would silently truncate the data's
    * µs component, breaking equality with the session_window twin.
    */
  private def micros(t: Timestamp): Long =
    math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
  private def fromMicros(us: Long): Timestamp = {
    val t = new Timestamp(math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  def sessionize(events: Dataset[Event], gapMinutes: Int,
      batchMode: Boolean = false): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes * 60000000L

    def fold(userId: Long, it: Iterator[Event],
        state: GroupState[SessionAcc]): Iterator[Session] = {
      val sorted = it.toSeq.sortBy(e => micros(e.ts))
      var acc = state.getOption
      val out = Seq.newBuilder[Session]
      if (sorted.isEmpty && state.hasTimedOut) {
        // watermark passed end + gap: the open session is closed — emit.
        acc.foreach(a => out += Session(userId, fromMicros(a.start),
          fromMicros(a.end), a.n, a.sum))
        acc = None
        state.remove()
      }
      sorted.foreach { e =>
        val t = micros(e.ts)
        acc match {
          case Some(a) if t - a.end < gapUs =>
            acc = Some(SessionAcc(a.start, math.max(a.end, t), a.n + 1,
              a.sum + e.value))
          case Some(a) =>
            out += Session(userId, fromMicros(a.start), fromMicros(a.end),
              a.n, a.sum)
            acc = Some(SessionAcc(t, t, 1, e.value))
          case None =>
            acc = Some(SessionAcc(t, t, 1, e.value))
        }
      }
      if (batchMode) {
        // a batch run has no further micro-batches: flush the trailing
        // open session instead of parking it in state.
        acc.foreach(a => out += Session(userId, fromMicros(a.start),
          fromMicros(a.end), a.n, a.sum))
      } else acc.foreach { a =>
        state.update(a)
        // close the session once event time passes end + gap (never set a
        // timeout at/behind the current watermark — that throws). Timeout
        // API is millisecond-granular: round the µs deadline UP.
        val wm = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(
          math.max(math.ceil((a.end + gapUs) / 1000.0).toLong, wm + 1))
      }
      out.result().iterator
    }

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(fold)
  }

  /** Batch session aggregation via the built-in session_window — the
    * declarative twin of sessionize, oracle-checked as q31 (DuckDB
    * gaps-and-islands SQL). Spark merges an event into a session iff
    * ts < prev_end + gap, i.e. a new session starts at ts - prev_ts ≥ gap.
    */
  def sessionized(events: DataFrame, gapMinutes: Int): DataFrame =
    events
      .groupBy(col("user_id"),
        session_window(col("ts"), s"$gapMinutes minutes"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"),
        max(col("ts")).as("session_end"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("session_end"), col("n_events"), col("sum_value"))

  /** q228: sessionization with a DYNAMIC gap — the session timeout
    * depends on the event (engagement events like view/click hold a
    * session open for 30 minutes; transactional events only 10). This
    * is Spark's `session_window(ts, gapExpr)` surface: each event
    * contributes the interval [ts, ts+gap(event)) and overlapping
    * intervals merge, so the session END is the running MAX of member
    * ends, not last-event + constant. Same single shuffle on user_id
    * as the fixed-gap form (q31); works identically over a watermarked
    * stream (EventStreamSpec pins streaming == batch). The DuckDB twin
    * reconstructs the merge with the classic interval-union walk: a
    * session boundary is exactly an event whose ts ≥ the running max
    * end of all previous events (ends are non-decreasing across
    * sessions, so the global cummax IS the current session's end).
    */
  def sessionizedDynamic(events: DataFrame): DataFrame = {
    // string durations: session_window requires CalendarIntervalType
    // (ANSI INTERVAL literals arrive as DayTimeIntervalType and are
    // rejected); duration strings cast to the right type per-row
    val gap = when(col("event_type").isin("view", "click"),
      lit("30 minutes")).otherwise(lit("10 minutes"))
    events
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))
  }

  /** Windowed heavy hitters via the Misra-Gries TypedImperativeAggregate
    * (q219's grouped sketch composed with STREAMING aggregation): the
    * state store carries one ≤capacity-counter sketch per window — not
    * the item stream — so per-window state is fixed-size no matter the
    * event volume; partial buffers merge across micro-batches exactly
    * like across map partitions. The default capacity 2048 exceeds the
    * per-window user cardinality at every test SF (1500 at sf0.1), so
    * the driver entry runs in the exact regime and the streaming result
    * EQUALS the batch twin (EventStreamSpec pins it — q46's
    * discipline). At 100× the cardinality the sketch IS approximate:
    * counts underestimate by at most n/capacity and any item above that
    * frequency is guaranteed present, ACROSS micro-batch merges —
    * EventStreamSpec pins that regime too, with capacity forced far
    * below a crafted stream's cardinality.
    */
  def windowHeavyHitters(events: DataFrame, capacity: Int = 2048,
      k: Int = 5): DataFrame = {
    import graft.functions.sketches._
    events
      .groupBy(window(col("ts"), "5 days"))
      .agg(approx_top_k(col("user_id").cast("string"), capacity, k).as("top"))
      .select(col("window.start").as("ws"), posexplode(col("top")))
      .select(col("ws"), (col("pos") + 1).cast("long").as("rk"),
        col("col.item").as("user_id"), col("col.cnt").as("n"))
  }

  /** Per-window top-k event types, batch form — q93's oracle-checked
    * shape: tumbling 10-minute windows, types ranked by (count desc,
    * type). Two-phase at scale: the windowed count is a partial+final
    * aggregation; the rank window partitions on ws so no global sort.
    */
  def topKPerWindow(events: DataFrame, k: Int = 3): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("ws")).orderBy(col("n").desc, col("event_type"))
    events
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
  }

  /** Streaming top-k per window via flatMapGroupsWithState — the
    * "trending now" primitive windowed aggregation alone can't express
    * (ranking needs the whole group, streaming agg can't re-sort its own
    * output). State per OPEN window is the per-type count map — bounded
    * by (windows inside the watermark horizon) × (type cardinality) —
    * keyed and shuffle-partitioned on the window start, evicted by
    * event-time timeout once the watermark passes the window. Each
    * micro-batch emits the window's REFRESHED top-k (Update mode) with
    * `seen` = events folded so far, so a consumer (and the spec) can
    * identify the freshest snapshot per window; the final snapshot
    * equals [[topKPerWindow]] on the same data, pinned in
    * EventStreamSpec.
    */
  def topKStream(events: DataFrame, k: Int = 3)
      : Dataset[(Timestamp, String, Long, Int, Long)] = {
    import events.sparkSession.implicits._
    // the watermark rides the window-START column (the grouping key is
    // the event-time for state purposes): 30-min late-data horizon plus
    // the 10-min window width a late event can reach back
    val typed = events
      .select(window(col("ts"), "10 minutes").getField("start").as("ws"),
        col("event_type"))
      .withWatermark("ws", "40 minutes")
      .as[(Timestamp, String)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update(),
        GroupStateTimeout.EventTimeTimeout) {
        (ws: Timestamp, rows: Iterator[(Timestamp, String)],
            state: GroupState[Map[String, Long]]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val m = rows.foldLeft(
              state.getOption.getOrElse(Map.empty[String, Long])) {
              case (acc, (_, t)) => acc.updated(t, acc.getOrElse(t, 0L) + 1L)
            }
            state.update(m)
            // evict once the watermark passes the window's end (timeout
            // must stay ahead of the current watermark or Spark throws)
            val wm = state.getCurrentWatermarkMs()
            state.setTimeoutTimestamp(
              math.max(ws.getTime + 10 * 60000L, wm + 1))
            val seen = m.values.sum
            m.toSeq.sortBy { case (t, n) => (-n, t) }.take(k).zipWithIndex
              .map { case ((t, n), i) => (ws, t, n, i + 1, seen) }.iterator
          }
      }
  }

  /** Point-in-time (temporal) enrichment of a fact stream against an
    * SCD2 dimension: each fact joins the dimension VERSION whose
    * [valid_from, valid_to) interval covers the fact's event time — the
    * "what did we believe about this user when the event happened"
    * join, the streaming counterpart of q83's history build and the
    * interval cousin of the as-of join (q34/q176).
    *
    * `dim` columns: (d_key, attr, valid_from, valid_to) with NULL
    * valid_to on the current version. Works identically on a BATCH
    * fact frame (EventStreamSpec pins streaming == batch). Scale: this
    * is a stream-STATIC join with an EQUALITY conjunct on the key, so
    * every micro-batch plans a hash join with the validity range as a
    * residual filter — no unbounded stream-stream state, no BNLJ; the
    * dimension re-reads per batch, which is exactly the SCD2 refresh
    * contract. Facts before their key's first version emit with NULL
    * attr (left join) — the honest "we did not know them yet" row.
    */
  def scd2Enrich(facts: DataFrame, dim: DataFrame): DataFrame =
    facts.join(dim,
      facts("user_id") === dim("d_key") &&
        facts("ts") >= dim("valid_from") &&
        (dim("valid_to").isNull || facts("ts") < dim("valid_to")),
      "left")
      .select(facts("event_id"), facts("ts"), facts("user_id"),
        facts("event_type"), dim("attr").as("state_at_event"),
        dim("valid_from").as("state_since"))

  /** readStream twin of Tables(): parquet source with the RAW on-disk
    * schema (streaming needs it explicit), then the same ts
    * normalization the batch loader applies. The raw schema is one
    * driver footer read (`Tables.parquetSchema`), not a batch read.
    */
  def readEventsStream(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = graft.Tables.parquetSchema(spark, s"$sfDir/events.parquet")
    // the file-stream source monitors a DIRECTORY; select just the events
    // table from the sf dir via glob filter
    graft.Tables.normalize(
      spark.readStream.schema(raw)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sfDir))
  }

  /** writeStream helper: complete/append the aggregation to an in-memory
    * sink and block until the source drains (test/demo harness).
    */
  def runToMemory(df: DataFrame, name: String, mode: OutputMode): Unit = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode).start()
    q.processAllAvailable()
    q.stop()
  }
}
