package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming._

/** Spark-4-native variant of the E1 detector built on
  * `transformWithState` (StatefulProcessor + named ValueState +
  * explicit event-time timers, RocksDB state store). Same transition as
  * [[UndeliveredDetector]] ([[MsgState]]) — the flatMapGroupsWithState
  * build is kept for HDFS-state-store deployments; this is the forward
  * path (state schema evolution, TTL, multiple state variables).
  */
object TwsDetector {

  class Processor(timeoutMs: Long)
      extends StatefulProcessor[String, MessageStatus, UndeliveredAlert] {

    @transient private var state: ValueState[MsgState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[MsgState](
        "msg", Encoders.product[MsgState], TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[MessageStatus],
        timerValues: TimerValues): Iterator[UndeliveredAlert] = {
      val prev = if (state.exists()) Some(state.get()) else None
      keep(MsgState.afterEvents(prev, rows, timeoutMs))
      Iterator.empty
    }

    override def handleExpiredTimer(key: String, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[UndeliveredAlert] = {
      if (!state.exists()) return Iterator.empty
      val (alert, next) = MsgState.expire(key, state.get(), timeoutMs)
      keep(next)
      alert.iterator
    }

    /** The key's one state row and one timer, or neither. */
    private def keep(next: Option[(MsgState, Long)]): Unit = {
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      next match {
        case Some((s, timer)) =>
          state.update(s)
          getHandle.registerTimer(timer)
        case None => state.clear()
      }
    }
  }

  /** Requires the RocksDB state store provider:
    * spark.sql.streaming.stateStore.providerClass =
    *   org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider
    */
  def alerts(ds: Dataset[MessageStatus], timeoutMs: Long,
      watermarkDelay: String = "1 minute"): Dataset[UndeliveredAlert] = {
    import ds.sparkSession.implicits._
    UndeliveredDetector.keyed(ds, watermarkDelay)
      .transformWithState(new Processor(timeoutMs),
        TimeMode.EventTime(), OutputMode.Append())
  }
}
