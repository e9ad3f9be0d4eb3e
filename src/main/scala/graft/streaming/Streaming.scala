package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface (SURVEY §2.8): the reference's
  * incremental machinery is chunked batch + resume
  * (globi_kg_generator.py:167-171); its faithful streaming mapping is a
  * file-source micro-batch pipeline with Trigger.AvailableNow whose
  * `foreachBatch` appends each batch to the docs snapshot table, keyed
  * by its batch id, and runs [[graft.kg.Pipeline.incrementalCanonicalFromTable]]
  * (StreamingSpec). Event streams additionally get watermarked windows,
  * interval joins and stateful sessionization — the operators a
  * 100 TB training-data ingest pipeline needs.
  */
object Streaming {

  /** Watermarked tumbling-window aggregation over an event stream. */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_v"))

  /** Watermarked HOPPING-window aggregation: 10-minute windows sliding
    * every 5 — the streaming twin of the batch `ev_hopping_window`
    * query (size = 2 × slide ⇒ every event lands in exactly two
    * windows, and the built-in window() generator does the bounded
    * expansion the batch query spells as an explode).
    */
  def hoppingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))

  /** Watermarked stream-stream interval join: each click paired with
    * the same user's views inside its (click_ts, click_ts + 1 h]
    * attribution window — the streaming twin of the batch
    * `ev_range_join`. The two watermarks plus the time-range join
    * condition bound the join state Spark must retain per side; note
    * it is the CLICKS side that buffers longest (a click at cts can
    * still match views up to an hour newer, so it lives until the view
    * watermark passes cts + 1 h, while a view is droppable once the
    * click watermark passes its vts). The delays themselves are only
    * lateness tolerances for out-of-order arrival.
    */
  def clickViewJoin(clicks: DataFrame, views: DataFrame): DataFrame = {
    val c = clicks.select(col("user_id").as("c_user"),
        col("event_id").as("click_id"), col("ts").as("cts"))
      .withWatermark("cts", "1 hour")
    val v = views.select(col("user_id").as("v_user"),
        col("event_id").as("view_id"), col("ts").as("vts"))
      .withWatermark("vts", "2 hours")
    c.join(v, expr(
        "c_user = v_user AND vts > cts AND vts <= cts + interval 1 hour"))
      .select(col("c_user").as("user_id"), col("click_id"), col("view_id"))
  }

  /** LEFT-OUTER watermarked stream-stream join: [[clickViewJoin]] plus
    * the clicks that never attract a view inside their attribution
    * window, emitted with a NULL view_id — but only once the global
    * watermark passes cts + 1 h, when the unmatched-ness is FINAL
    * (Spark evicts the buffered click and emits the outer row at that
    * point; a click the watermark has not yet cleared stays buffered
    * and emits nothing). The time-range condition is what makes the
    * outer join legal at all in streaming: without it the unmatched
    * side could never be declared final and state would grow without
    * bound.
    */
  def clickViewJoinLeft(clicks: DataFrame, views: DataFrame): DataFrame = {
    val c = clicks.select(col("user_id").as("c_user"),
        col("event_id").as("click_id"), col("ts").as("cts"))
      .withWatermark("cts", "1 hour")
    val v = views.select(col("user_id").as("v_user"),
        col("event_id").as("view_id"), col("ts").as("vts"))
      .withWatermark("vts", "2 hours")
    c.join(v, expr(
        "c_user = v_user AND vts > cts AND vts <= cts + interval 1 hour"),
        "leftOuter")
      .select(col("c_user").as("user_id"), col("click_id"), col("view_id"),
        col("cts"))
  }

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)
  case class SessionState(start: Long, last: Long, n: Int)
  case class SessionOut(user_id: Long, n_events: Int, seconds: Long)

  /** Stateful sessionization: 30-minute inactivity gap closes a session
    * (KeyValueGroupedDataset.flatMapGroupsWithState — custom state, the
    * operator Spark's built-ins can't express declaratively).
    */
  def sessionize(events: Dataset[Event]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var cur = state.getOption
          val closed = scala.collection.mutable.ArrayBuffer[SessionOut]()
          sorted.foreach { e =>
            val t = e.ts.getTime
            cur match {
              case Some(s) if t - s.last <= 30 * 60 * 1000 =>
                cur = Some(s.copy(last = t, n = s.n + 1))
              case Some(s) =>
                closed += SessionOut(user, s.n, (s.last - s.start) / 1000)
                cur = Some(SessionState(t, t, 1))
              case None => cur = Some(SessionState(t, t, 1))
            }
          }
          cur.foreach(state.update)
          closed.iterator
      }
  }
}
