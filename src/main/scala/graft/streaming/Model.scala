package graft.streaming

/** Wire shapes of the reference's message-tracking stream
  * (reference: undelivered-message-alert/phone_message_producer.py:302-323,
  * message-tracking.json:36-55). `timestamp` is epoch MILLISECONDS — the
  * on-wire convention of the reference producer
  * (phone_message_producer.py:406-408).
  */
case class MessageStatus(
    messageId: String,
    status: String, // "sent" | "delivered"
    phoneNumber: Long,
    carrier: String,
    timestamp: Long)

/** Alert emitted when a message stays undelivered past the timeout
  * (reference: README.md:31-35 — the declared-but-unimplemented north
  * star query). */
case class UndeliveredAlert(
    messageId: String,
    phoneNumber: Long,
    carrier: String,
    sentTime: Long,
    deadline: Long)

/** Keyed detector state: one small record per message — heartbeats do
  * NOT grow it (reference parity: heartbeats re-send `sent` every 30s,
  * phone_message_producer.py:540-568, and must not extend the deadline,
  * which is governed by the first sent_time). Both firsts are tracked so
  * a `delivered` arriving in an earlier micro-batch than its `sent`
  * still resolves exactly like the batch replay. `alerted` marks a
  * tombstone: the key has alerted and never alerts again. */
case class MsgState(
    phoneNumber: Long,
    carrier: String,
    firstSent: Option[Long],
    firstDelivered: Option[Long],
    alerted: Boolean = false) {

  /** Associative merge: the earliest `sent` and `delivered`, the flag
    * OR-ed, and the left side's phone and carrier (the key's first event
    * in arrival order). Commutative on every field but those two. */
  def merge(o: MsgState): MsgState = MsgState(phoneNumber, carrier,
    MsgState.minOf(firstSent, o.firstSent),
    MsgState.minOf(firstDelivered, o.firstDelivered),
    alerted || o.alerted)
}

/** The E1 transition, with no Spark state API in it: both detector
  * builds ([[UndeliveredDetector]], [[TwsDetector]]) apply its results
  * to their state handles. A key holds at most one state and one
  * event-time timer:
  *  - pending (`sent` seen, no `delivered` by the deadline = firstSent +
  *    timeout, a late `delivered` included): timer at the deadline,
  *    which fires the alert and leaves a tombstone
  *  - resolved (`delivered` at or before the deadline): dropped
  *  - delivered-only orphan, or tombstone: dropped silently after one
  *    timeout of quiet — each batch of the key's events re-arms the
  *    timer at its latest timestamp + timeout
  * So heartbeats past the deadline never raise a second alert, however
  * they are cut into micro-batches; a key quiet for longer than that
  * starts a new lifecycle.
  *
  * Limit: a resolved key keeps nothing, so a `sent` that reaches the
  * detector in a later micro-batch than its key's in-time `delivered`
  * starts a new clock (and alerts if nothing follows). The detector
  * needs per-key in-order delivery, as a Kafka partition keyed by
  * `messageId` gives. */
object MsgState {

  private def minOf(a: Option[Long], b: Option[Long]): Option[Long] = (a, b) match {
    case (Some(x), Some(y)) => Some(math.min(x, y))
    case _ => a.orElse(b)
  }

  def of(e: MessageStatus): MsgState =
    if (e.status == "delivered") MsgState(e.phoneNumber, e.carrier, None, Some(e.timestamp))
    else MsgState(e.phoneNumber, e.carrier, Some(e.timestamp), None)

  /** What a key keeps after one batch of its events (non-empty) merged
    * into `prev`: None to drop it, else the state and the event time its
    * timer fires at. */
  def afterEvents(prev: Option[MsgState], events: Iterator[MessageStatus],
      timeoutMs: Long): Option[(MsgState, Long)] = {
    val first = events.next()
    var merged = prev.fold(of(first))(_.merge(of(first)))
    var latest = first.timestamp
    events.foreach { e =>
      merged = merged.merge(of(e))
      latest = math.max(latest, e.timestamp)
    }
    merged.firstSent match {
      case Some(t0) if !merged.alerted =>
        if (merged.firstDelivered.exists(_ <= t0 + timeoutMs)) None
        else Some((merged, t0 + timeoutMs))
      case _ => Some((merged, latest + timeoutMs))
    }
  }

  /** The key's timer fired: the alert, if this was a pending key's
    * deadline, and what the key keeps — the tombstone, whose one timeout
    * of quiet counts from the deadline — or nothing. */
  def expire(messageId: String, s: MsgState, timeoutMs: Long)
      : (Option[UndeliveredAlert], Option[(MsgState, Long)]) =
    s.firstSent match {
      case Some(t0) if !s.alerted && !s.firstDelivered.exists(_ <= t0 + timeoutMs) =>
        val deadline = t0 + timeoutMs
        (Some(UndeliveredAlert(messageId, s.phoneNumber, s.carrier, t0, deadline)),
          Some((s.copy(alerted = true), deadline + timeoutMs)))
      case _ => (None, None) // GC of a tombstone or a delivered-only orphan
    }
}

/** A generator fork's birth row: frozen per-key vars plus the
  * classified delivery delay (None = never delivered) — the D2 frozen
  * state the reference keeps per fork (message-tracking.json:14-35). */
case class GenBirth(
    messageId: String,
    phoneNumber: Long,
    carrier: String,
    ts: Long,
    deliveryDelayMs: Option[Long])

/** Generator state-machine state for one in-flight message
  * (message-tracking.json:56-71): the frozen vars plus the clock the
  * heartbeat/delivery timers run against. */
case class GenLife(
    phoneNumber: Long,
    carrier: String,
    sentTime: Long,
    deliveryDelayMs: Option[Long])
