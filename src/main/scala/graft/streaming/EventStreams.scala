package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface over the `events` stream table.
  * The reference is strictly batch (SURVEY.md §2.5), so this is the
  * engine's forward-looking streaming tier: the SAME logical transforms
  * run incrementally with watermarked state. Local tests drive these with
  * the file source + a memory sink (`processAllAvailable`).
  */
object EventStreams {

  // The file source requires an explicit schema. Hardcoding one broke
  // when the data generator switched ts from TIMESTAMP(NANOS) to
  // TIMESTAMP_NTZ (the declared LongType silently misread micros as
  // nanos and every watermark collapsed to 1970) — so take the schema
  // from the actual file footer via a one-time batch read at stream
  // start, and normalize ts with the same shared rule the batch tier
  // uses (Tables.normalizeTs).

  /** @param sfDir testdata directory containing events.parquet. The file
    * source requires a directory; a glob filter selects the events file. */
  /** The streaming events as the wide dynamic-column TSDB frame — the
    * same mapping as `Tables.eventsAsTsdb`, so PromQL / TsdbTable
    * operators run UNCHANGED over the stream (the instant vector
    * becomes a live materialized view in complete mode). */
  def readEventsWide(spark: SparkSession, sfDir: String): DataFrame =
    readEvents(spark, sfDir).select(
      unix_millis(col("ts")).as("time"),
      col("value"),
      col("event_type").as("labels.name"),
      col("user_id").cast("string").as("labels.user"),
      regexp_extract(col("props"), "\"k\": (\\d+)", 1).as("labels.k"))

  def readEvents(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val fileSchema = spark.read
      .option("pathGlobFilter", "events.parquet").parquet(sfDir).schema
    graft.queries.Tables.normalizeTs(
      spark.readStream.schema(fileSchema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sfDir))
  }

  /** Tumbling-window aggregation with a watermark — late rows beyond
    * 1 hour are dropped, state is bounded (the 100 TB/day requirement:
    * state size ∝ windows-in-flight × keys, independent of history). */
  def windowedCounts(events: DataFrame,
                     window_ : String = "1 hour",
                     watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))

  final case class SessionUpdate(user_id: Long, n_events: Long,
                                 session_start: Long, session_end: Long,
                                 closed: Boolean)
  final case class SessionState(n: Long, start: Long, end: Long)

  /** Sessionization via flatMapGroupsWithState: a session closes after
    * `gapMs` of inactivity (event-time, watermark-driven timeout). The
    * canonical custom-state operator the built-in windows can't express. */
  def sessionize(events: DataFrame, gapMs: Long = 30 * 60 * 1000L): Dataset[SessionUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", "1 hour")
      // keep the watermarked `ts` column itself — projecting it away
      // would drop the watermark EventTimeTimeout depends on
      .select(col("user_id"), col("ts"))
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, SessionUpdate](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp)],
         state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionUpdate(user, s.n, s.start, s.end, closed = true))
          } else {
            val ts = rows.map(_._2.getTime).toSeq.sorted
            val (closedSessions, open) = ts.foldLeft((Vector.empty[SessionUpdate],
              state.getOption)) { case ((acc, cur), t) =>
              cur match {
                // late-but-in-watermark events (t < s.end across batches)
                // may only EXTEND a session, never truncate it
                case Some(s) if t - s.end <= gapMs =>
                  (acc, Some(s.copy(n = s.n + 1, end = math.max(s.end, t))))
                case Some(s) =>
                  (acc :+ SessionUpdate(user, s.n, s.start, s.end, closed = true),
                    Some(SessionState(1, t, t)))
                case None => (acc, Some(SessionState(1, t, t)))
              }
            }
            open.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.end + gapMs)
            }
            closedSessions.iterator
          }
      }
  }

  /** Streaming dedup: first event per (user_id, event_type) wins; state
    * for a key is dropped once the watermark passes it (bounded state —
    * the exactly-once ingestion guard a 100 TB/day feed needs, with
    * memory independent of stream history). */
  def dedupWithinWatermark(events: DataFrame,
                           watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("user_id", "event_type")

  /** Stream-stream interval join: each purchase joined to the same
    * user's clicks in the preceding `windowMinutes`. Watermarks on BOTH
    * sides plus the two-sided time-range predicate are what let Spark
    * bound the join state (a side's row is dropped once the other side's
    * watermark passes its window) — without them, stream-stream join
    * state grows without limit; with them it is ∝ events-per-window,
    * the only shape that survives a 100 TB/day feed. */
  /** @param joinType "inner" (matches only) or "left_outer" (a purchase
    * with no click in its window emits null-extended once the watermark
    * proves no matching click can still arrive). */
  def intervalJoin(events: DataFrame, windowMinutes: Int = 5,
                   joinType: String = "inner"): DataFrame = {
    val p = events.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "1 hour")
    val c = events.where(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    p.join(c,
        col("p_user") === col("c_user") &&
          col("click_ts") >= col("purchase_ts") - expr(s"INTERVAL $windowMinutes MINUTES") &&
          col("click_ts") <= col("purchase_ts"),
        joinType)
      .select(col("purchase_id"), col("click_id"), col("p_user").as("user_id"),
        expr("unix_millis(purchase_ts)").as("purchase_ms"),
        expr("unix_millis(click_ts)").as("click_ms"))
  }

  /** Recording rule: the continuously-evaluated per-SERIES windowed
    * aggregate (PromQL's `record:` rules — the standard way a TSDB keeps
    * dashboards cheap at scale). Per (window, event_type, user): count,
    * sum, and the windowed gauge delta (last − first by event time,
    * duplicate timestamps totalized by (ts, value) like the batch tier).
    * Append mode: a window emits once its end passes the watermark —
    * state ∝ windows-in-flight × series, independent of history. */
  def recordingRule(events: DataFrame,
                    window_ : String = "1 hour",
                    watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"),
        // (epoch-ms, value) totalizes duplicate timestamps in the same
        // order the batch tier and the oracle use (ms, not micros)
        max(struct(unix_millis(col("ts")).as("t"), col("value")))
          .getField("value").as("last_v"),
        min(struct(unix_millis(col("ts")).as("t"), col("value")))
          .getField("value").as("first_v"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("user_id"), col("n"), col("total_value"),
        (col("last_v") - col("first_v")).as("delta_v"))

  /** Histogram recording rule: the continuously-maintained per-window
    * NATIVE histogram ([[graft.tsdb.NativeHistogram]]) — how a TSDB keeps
    * latency/size distributions queryable 24/7 without retaining raw
    * samples. The histogram aggregate is the same partial-aggregatable
    * expression the batch tier uses, so streaming state per key is one
    * fixed-width struct (count, sum, |buckets| doubles) — independent of
    * window row count, the only state shape that survives 100 TB/day.
    * Append mode: a window's histogram emits once, final, when the
    * watermark passes it. */
  def histogramRule(events: DataFrame,
                    boundaries: Seq[Double],
                    window_ : String = "1 hour",
                    watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(graft.tsdb.NativeHistogram.histAgg(col("value"), boundaries).as("hist"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("hist"))

  final case class AlertUpdate(alertname: String, event_type: String,
                               user_id: Long, window_start: Long,
                               active_at: Long, alertstate: String, n: Long)

  /** Streaming alert state: per-key open tumbling-window counts plus the
    * current run ((`runActiveAt`, `lastActive`), −1 = none). */
  final case class AlertRunState(open: Map[Long, Long],
                                 runActiveAt: Long, lastActive: Long)

  /** Streaming ALERTING rule — the live counterpart of the batch rules
    * engine ([[graft.tsdb.AlertRules]]): per (event_type, user) tumbling
    * window, the element is ACTIVE when its window count exceeds
    * `threshold`; an alert is `pending` from its run's first active
    * window and `firing` once continuously active ≥ `forMs`; a skipped
    * or inactive window resets the run. A window closes — and its state
    * transition emits, final — when the event-time watermark passes its
    * end (the same emission rule as the streaming windowed aggregates).
    *
    * State shape (the 100 TB/day requirement): per key, the open-window
    * counts (∝ windows-in-flight, each one long) plus two longs for the
    * live run; a key's state is EVICTED once the watermark proves no
    * future window can close late (all windows closed) or extend the run
    * (`wm ≥ lastActive + 2·window` — any later window is non-adjacent).
    * The canonical custom-state operator: the windowed-aggregate →
    * stateful-transition chain can't be expressed as built-in streaming
    * aggregation because the run machine is ordered and cross-window. */
  def alertingRule(events: DataFrame, alertname: String = "hot_series",
                   threshold: Long = 1L, forMs: Long = 86400000L,
                   windowMs: Long = 86400000L,
                   watermark: String = "1 hour"): Dataset[AlertUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", watermark)
      .select(col("event_type"), col("user_id"), col("ts"))
      .as[(String, Long, java.sql.Timestamp)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState[AlertRunState, AlertUpdate](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: (String, Long), rows: Iterator[(String, Long, java.sql.Timestamp)],
         state: GroupState[AlertRunState]) =>
          val wm = state.getCurrentWatermarkMs()
          var st = state.getOption.getOrElse(AlertRunState(Map.empty, -1L, -1L))
          // bin arriving rows into still-open tumbling windows (a row
          // whose window already closed is late beyond the watermark —
          // dropped, the same contract as the built-in windowed aggs)
          rows.foreach { r =>
            val w = Math.floorDiv(r._3.getTime, windowMs) * windowMs
            if (w + windowMs > wm)
              st = st.copy(open = st.open.updated(w, st.open.getOrElse(w, 0L) + 1L))
          }
          // close every window the watermark passed, in event-time order,
          // advancing the pending→firing run machine
          val (closed, open) = st.open.partition { case (w, _) => w + windowMs <= wm }
          val out = closed.toSeq.sortBy(_._1).flatMap { case (w, n) =>
            if (n > threshold) {
              val activeAt = if (st.lastActive == w - windowMs) st.runActiveAt else w
              st = st.copy(runActiveAt = activeAt, lastActive = w)
              Some(AlertUpdate(alertname, key._1, key._2, w, activeAt,
                if (w - activeAt >= forMs) "firing" else "pending", n))
            } else None
          }
          st = st.copy(open = open)
          val runLive = st.lastActive >= 0L && wm < st.lastActive + 2 * windowMs
          if (st.open.nonEmpty) {
            state.update(st)
            state.setTimeoutTimestamp(st.open.keys.min + windowMs)
          } else if (runLive) {
            state.update(st)
            state.setTimeoutTimestamp(st.lastActive + 2 * windowMs)
          } else state.remove()
          out.iterator
      }
  }

  /** Run any of the above to completion against static files through the
    * streaming engine and return the materialized result (test/verify
    * harness — exercises the real incremental execution path). */
  def runToMemory(df: DataFrame, name: String, mode: String = "append"): DataFrame = {
    val q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
    df.sparkSession.table(name)
  }
}
