package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming runtime for the event flow (SURVEY.md §1.1: the
  * reference's daily "last-14-days upsert" is a micro-batch with
  * late-data overwrite — Structured Streaming is the idiomatic upgrade).
  * The batch-equivalent semantics are the oracle-verified StreamQueries;
  * these are the incremental forms.
  */
object EventStream {

  /** File-source stream over parquet event files (schema must be fixed
    * up front — streaming reads don't infer).
    */
  def read(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val schema = "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE, props STRING"
    val r = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n))
    r.parquet(dir)
  }

  /** Incremental form of st01_hourly_rollup: tumbling event-time window
    * + watermark (1h lateness → state for at most 2 open windows per
    * type). Append mode emits each window once, when the watermark
    * passes — the streaming analogue of the daily idempotent upsert.
    */
  def hourlyRollup(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(28,2)")).cast("double").as("total_value"))
      .select(col("w.start").as("hour"), col("event_type"),
        col("n_events"), col("total_value"))

  /** The reference's production loop — "extract the recent window, upsert
    * by business key" (`truenas/cron-jobs.txt:12` daily, MyView windows)
    * — as an incremental stream: each micro-batch dedupes to
    * last-writer-wins per key and MERGEs into a `p_date`-partitioned
    * [[graft.sinks.VersionedTable]] at `tableRoot`. The merge is
    * partition-scoped: only the dates present in the batch are read back
    * and rewritten, and every other partition's files stay referenced by
    * the new manifest, untouched. At 100 TB a micro-batch touches the
    * last day or two of a years-deep table — reading or rewriting the
    * whole table per batch (the naive form) would be quadratic in
    * history.
    *
    * The commit is crash-atomic: immutable commit dirs plus one manifest
    * rename, so a crash mid-batch leaves the previous version fully
    * readable. Read the result with `VersionedTable.read`, not
    * `spark.read.parquet`. Checkpoint replay of a half-committed batch is
    * idempotent: the merge is keyed by event_id, so re-applying the same
    * updates republishes an identical state — the whole exactly-once
    * story this sink needs.
    *
    * An event without an event time has no place on a date-partitioned
    * timeline: a null `ts` is dropped.
    */
  def upsertStream(events: DataFrame, tableRoot: String, checkpoint: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val updates = graft.sinks.MergeWriter.latestPerKey(
            batch.toDF(), Seq("event_id"), col("ts").desc)
          .filter(col("ts").isNotNull)
          .withColumn("p_date", to_date(col("ts")))
        graft.sinks.VersionedTable.merge(batch.sparkSession, tableRoot, updates,
          businessKey = "event_id", partitionCols = Seq("p_date"))
        ()
      }
      .start()

  // ---- sessionization via explicit state (st02's incremental form) ----

  /** Stream-stream interval join — st04's view→purchase attribution as a
    * true two-stream join: each purchase pairs with the same user's
    * views from the preceding `width`. Both sides carry watermarks and
    * the join condition bounds event-time distance, so Spark can size
    * the join state: a buffered view is dropped once the purchase-side
    * watermark passes `view_ts + width`, and state stays O(window), not
    * O(history) — the property that makes a stream-stream join viable at
    * 100 TB/day ingest. Append-mode results are emitted as soon as both
    * sides' matches are final.
    */
  def attributionJoin(purchases: DataFrame, views: DataFrame,
      width: String = "10 minutes", lateness: String = "1 hour"): DataFrame = {
    val p = purchases
      .select(col("user_id"), col("ts").as("p_ts"), col("event_id").as("purchase_id"))
      .withWatermark("p_ts", lateness)
    val v = views
      .select(col("user_id").as("v_user_id"), col("ts").as("view_ts"),
        col("event_id").as("view_id"))
      .withWatermark("view_ts", lateness)
    p.join(v,
        col("user_id") === col("v_user_id") &&
          col("view_ts") <= col("p_ts") &&
          col("view_ts") >= col("p_ts") - expr(s"INTERVAL $width"))
      .select(col("purchase_id"), col("user_id"), col("view_id"),
        col("p_ts"), col("view_ts"))
  }

  /** Streaming exact dedup — the ingest-side dedup a training-data
    * pipeline runs on arrival: drop events repeating the same
    * (user, event_type, day) key, keeping the first arrival, with
    * state BOUNDED by the watermark. `dropDuplicatesWithinWatermark`
    * evicts a key's state once the watermark passes its event time
    * plus `lateness`, so state is O(keys per lateness window), not
    * O(all keys ever) the way plain `dropDuplicates` grows on an
    * unbounded stream — the property that keeps a year-long ingest
    * from accreting a year of dedup state. Dedup is guaranteed for
    * duplicates whose event times lie within `lateness` of each
    * other; `lateness` therefore must cover the dedup grain's span
    * (2 days > the 24 h a day-grain key can stretch). Batch-equivalent
    * semantics (same key set) are the oracle-verified st06.
    */
  def dedupKeys(events: DataFrame, lateness: String = "2 days"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .withColumn("day", date_trunc("day", col("ts")))
      .dropDuplicatesWithinWatermark("user_id", "event_type", "day")

  final case class Ev(user_id: Long, ts_us: Long, value: Double)
  final case class SessionState(start_us: Long, last_us: Long, n: Long, value: Double)
  final case class Session(user_id: Long, start_us: Long, end_us: Long, n_events: Long, session_value: Double)

  val GapUs: Long = 1800L * 1000000L

  /** Pure state transition: fold one (sorted) batch of a user's events
    * into the open session, emitting closed sessions. Unit-tested
    * directly; the streaming wrapper below just wires it to
    * flatMapGroupsWithState.
    */
  def advance(userId: Long, state: Option[SessionState], events: Seq[Ev])
      : (Option[SessionState], Seq[Session]) =
    events.sortBy(e => (e.ts_us)).foldLeft((state, Seq.empty[Session])) {
      case ((None, out), e) =>
        (Some(SessionState(e.ts_us, e.ts_us, 1, e.value)), out)
      case ((Some(s), out), e) if e.ts_us - s.last_us > GapUs =>
        (Some(SessionState(e.ts_us, e.ts_us, 1, e.value)),
          out :+ Session(userId, s.start_us, s.last_us, s.n, s.value))
      case ((Some(s), out), e) =>
        (Some(s.copy(last_us = e.ts_us, n = s.n + 1, value = s.value + e.value)), out)
    }

  /** Incremental sessionization: state per user, sessions emitted when
    * the 30-min gap closes them in-batch, and — the part `NoTimeout`
    * loses — the final open session is flushed by an event-time timeout
    * once the watermark passes `last event + gap`. In a batch execution
    * of the same code timeouts never fire (Spark defines batch
    * watermarks as never advancing), so batch callers see exactly the
    * in-batch closed sessions.
    */
  def sessionize(events: Dataset[Ev]): Dataset[Session] = {
    import events.sparkSession.implicits._
    // batch executions of this plan have no watermark: timeouts never
    // fire and GroupState.getCurrentWatermarkMs throws — skip the
    // timeout bookkeeping entirely there
    val streaming = events.isStreaming
    events
      .withColumn("event_ts", timestamp_micros(col("ts_us")))
      .withWatermark("event_ts", "30 minutes")
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        (userId: Long, it: Iterator[Ev], state: GroupState[SessionState]) => {
          if (state.hasTimedOut) {
            // watermark passed last_us + gap with no new events: the open
            // session can never be extended — emit and clear it
            val s = state.get
            state.remove()
            Iterator.single(Session(userId, s.start_us, s.last_us, s.n, s.value))
          } else {
            val (next, closed) = advance(userId, state.getOption, it.toSeq)
            next match {
              case Some(s) =>
                state.update(s)
                // flush when event time passes the gap after the last
                // event; clamp above the current watermark (a late batch
                // could otherwise request a timeout already in the past)
                if (streaming) state.setTimeoutTimestamp(
                  math.max(state.getCurrentWatermarkMs + 1,
                    s.last_us / 1000L + GapUs / 1000L))
              case None => state.remove()
            }
            closed.iterator
          }
        })
  }
}
