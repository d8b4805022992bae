package graft.streaming

import org.apache.spark.sql.{Dataset, KeyValueGroupedDataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The north-star stateful stream query (reference E1: "alert when
  * messages remain undelivered after a configurable timeout",
  * README.md:31-35; undelivered-message-alert/README.md:150-156 — the
  * reference declares it in prose but never implements it).
  *
  * Semantics: the transition in [[MsgState]], shared with
  * [[TwsDetector]]; the relational twin is [[alertsBatch]]. Input must
  * arrive in order per key (a Kafka partition keyed by `messageId`): a
  * `sent` landing in a later micro-batch than its key's in-time
  * `delivered` starts a new clock — see [[MsgState]].
  *
  * Scale: state is bounded at one MsgState per in-flight (or recently
  * alerted) key and is hash-partitioned by messageId across executors;
  * watermark-driven timeouts guarantee eviction even when `delivered`
  * never arrives.
  */
object UndeliveredDetector {

  /** Streaming detector over a MessageStatus stream. */
  def alerts(ds: Dataset[MessageStatus], timeoutMs: Long,
      watermarkDelay: String = "1 minute"): Dataset[UndeliveredAlert] = {
    import ds.sparkSession.implicits._
    keyed(ds, watermarkDelay)
      .flatMapGroupsWithState[MsgState, UndeliveredAlert](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update(timeoutMs))
  }

  /** The wiring both builds share: event time from `timestamp`, the
    * watermark, and the events grouped by the `messageId` column (no key
    * lambda, so the stateful exchange hashes the column itself). */
  private[streaming] def keyed(ds: Dataset[MessageStatus], watermarkDelay: String)
      : KeyValueGroupedDataset[String, MessageStatus] = {
    import ds.sparkSession.implicits._
    ds.withColumn("eventTime", timestamp_millis(col("timestamp")))
      .withWatermark("eventTime", watermarkDelay)
      .groupBy(col("messageId")).as[String, MessageStatus]
  }

  /** [[MsgState]]'s transition applied to `GroupState`, for one key and
    * one micro-batch's events (or its timeout). */
  private[streaming] def update(timeoutMs: Long)(
      messageId: String,
      events: Iterator[MessageStatus],
      state: GroupState[MsgState]): Iterator[UndeliveredAlert] = {
    val (alert, keep) =
      if (state.hasTimedOut) MsgState.expire(messageId, state.get, timeoutMs)
      else (None, MsgState.afterEvents(state.getOption, events, timeoutMs))
    keep match {
      case Some((s, timer)) =>
        state.update(s)
        state.setTimeoutTimestamp(clampToWatermark(state, timer))
      case None => if (state.exists) state.remove()
    }
    alert.iterator
  }

  /** GroupState.setTimeoutTimestamp throws when the timestamp is at or
    * below the current event-time watermark — reachable whenever an event
    * arrives more than timeout+watermarkDelay out of order (Kafka
    * backfill from earliest, skewed partitions with small timeouts).
    * Clamping to watermark+1 fires the already-expired timer on the next
    * micro-batch, which is the intended semantics for a deadline the
    * watermark has overtaken. */
  private def clampToWatermark(state: GroupState[MsgState], ts: Long): Long =
    math.max(ts, state.getCurrentWatermarkMs() + 1)

  /** Batch twin over the same Dataset — identical answer set computed
    * relationally (the oracle for the streaming path; SURVEY Q15 is this
    * shape over the events fixture). */
  def alertsBatch(ds: Dataset[MessageStatus], timeoutMs: Long)
      : Dataset[UndeliveredAlert] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.groupBy(col("messageId"))
      .agg(
        min(when(col("status") === "sent", col("timestamp"))).as("firstSent"),
        min(when(col("status") === "delivered", col("timestamp"))).as("firstDelivered"),
        first(col("phoneNumber")).as("phoneNumber"),
        first(col("carrier")).as("carrier"))
      .filter(col("firstSent").isNotNull &&
        (col("firstDelivered").isNull ||
          col("firstDelivered") > col("firstSent") + timeoutMs))
      .select(col("messageId"), col("phoneNumber"), col("carrier"),
        col("firstSent").as("sentTime"),
        (col("firstSent") + timeoutMs).as("deadline"))
      .as[UndeliveredAlert]
  }
}
