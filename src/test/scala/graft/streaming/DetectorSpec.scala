package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Transcript tests for the E1 detector (scenarios from FIXTURES.md A3,
  * timings from the reference's Config: sent -> delivered at 30s/180s,
  * heartbeats every 30s, 5% never delivered). Every scenario runs on
  * both builds through [[DetectorReplay.run]]. */
class DetectorSpec extends DetectorReplay {

  private val WatermarkDelay = 60000L // the detectors' default "1 minute"

  /** `check` on the alerts of each build, the transcript fed as one
    * micro-batch. */
  private def onBoth(events: Seq[MessageStatus])(
      check: Seq[UndeliveredAlert] => Unit): Unit =
    Builds.foreach(b => withClue(s"${b.name}: ")(check(run(b, Seq(events)))))

  private def sent(id: String, t: Long) =
    MessageStatus(id, "sent", 12125551234L, "verizon", t)
  private def delivered(id: String, t: Long) =
    MessageStatus(id, "delivered", 12125551234L, "verizon", t)

  test("normal delivery within timeout -> no alert") {
    onBoth(Seq(sent("a", T0), delivered("a", T0 + 30000)))(a => assert(a.isEmpty))
  }

  test("never delivered -> exactly one alert at firstSent + timeout") {
    onBoth(Seq(sent("a", T0), sent("a", T0 + 30000), sent("a", T0 + 60000))) {
      alerts => assert(alerts.map(a => (a.messageId, a.sentTime, a.deadline)) ==
        Seq(("a", T0, T0 + Timeout)))
    }
  }

  test("heartbeats do not extend the deadline") {
    // delivered at t0+150s: after the 120s deadline even though a
    // heartbeat arrived at t0+90s — alert must stand (ref parity:
    // sent_time governs, phone_message_producer.py:547-558)
    onBoth(Seq(sent("a", T0), sent("a", T0 + 90000), delivered("a", T0 + 150000))) {
      alerts => assert(alerts.map(_.messageId) == Seq("a"))
    }
  }

  test("delayed delivery inside timeout -> no alert") {
    onBoth(Seq(sent("a", T0), sent("a", T0 + 30000), delivered("a", T0 + 110000))) {
      alerts => assert(alerts.isEmpty)
    }
  }

  test("duplicate delivered -> still no alert, no crash") {
    onBoth(Seq(sent("a", T0), delivered("a", T0 + 30000), delivered("a", T0 + 31000))) {
      alerts => assert(alerts.isEmpty)
    }
  }

  test("delivered arriving before sent (out of order) resolves the key") {
    onBoth(Seq(delivered("a", T0 + 30000), sent("a", T0)))(a => assert(a.isEmpty))
  }

  test("late delivery alerts, in-time delivery does not") {
    onBoth(Seq(
        sent("ok", T0), delivered("ok", T0 + 30000),
        sent("late", T0), delivered("late", T0 + Timeout + 5000))) {
      alerts => assert(alerts.map(_.messageId) == Seq("late"))
    }
  }

  test("backfilled event behind the watermark still alerts (timer clamp)") {
    Builds.foreach { b =>
      val alerts = run(b, Seq(
        // key starts normally; its deadline is T0 + Timeout
        Seq(sent("late", T0)),
        // another key far ahead drags the watermark way past that deadline
        Seq(sent("fresh", T0 + 20 * Timeout)),
        // a heartbeat for the pending key arrives (its own timestamp is
        // current, so it passes the late-row filter, and having data
        // suppresses this batch's timeout processing on fMGWS): the
        // state update recomputes deadline = T0 + Timeout, which the
        // watermark has ALREADY overtaken — an unclamped
        // setTimeoutTimestamp throws here and kills the whole query
        Seq(sent("late", T0 + 20 * Timeout)),
        // advance the watermark twice so the clamped watermark+1 timer fires
        Seq(sent("fresh2", T0 + 40 * Timeout)),
        Seq(sent("fresh3", T0 + 60 * Timeout))))
      // the alert reports the TRUE deadline, not the clamped timer time
      assert(alerts.filter(_.messageId == "late").map(a => (a.sentTime, a.deadline)) ==
        Seq((T0, T0 + Timeout)), b.name)
    }
  }

  test("heartbeats past the deadline alert once, any batching") {
    // the reference producer re-sends `sent` every 30 s while a message
    // is undelivered, so heartbeats carry on past the deadline; fed one
    // per micro-batch, the alert fires between them
    val transcript = (0 to 20).map(i => sent("hb", T0 + i * 30000L))
    for (b <- Builds; batches <- Seq(Seq(transcript), transcript.map(Seq(_))))
      assert(run(b, batches).map(a => (a.messageId, a.sentTime)) == Seq(("hb", T0)),
        s"${b.name}, ${batches.size} batches")
  }

  test("a key quiet past the timeout starts a new lifecycle") {
    // both keys alert at T0 + Timeout; their tombstones are then kept
    // until one timeout of quiet (T0 + 2 * Timeout, re-armed by each
    // later event at its own timestamp + Timeout)
    val back = T0 + 2 * Timeout - 1000 // inside b's quiet window
    val t1 = T0 + 2 * Timeout + WatermarkDelay + 10000 // after a's
    def advance(t: Long) = Seq(sent("adv", t + WatermarkDelay))
    Builds.foreach { b =>
      val alerts = run(b, Seq(
        Seq(sent("a", T0), sent("b", T0)),
        advance(T0 + Timeout + 1000), advance(T0 + Timeout + 2000), // both alert
        Seq(sent("b", back)), // absorbed by b's tombstone
        advance(T0 + 2 * Timeout + 1000), advance(T0 + 2 * Timeout + 2000), // a's GC
        Seq(sent("a", t1)))) // a new lifecycle
      assert(alerts.filter(_.messageId != "adv")
        .map(a => (a.messageId, a.sentTime)).sorted ==
        Seq(("a", T0), ("a", t1), ("b", T0)), b.name)
    }
  }

  test("both builds key by the messageId column, with no AppendColumns") {
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ds = MemoryStream[MessageStatus].toDS()
    Builds.foreach { b =>
      val plan = b.alerts(ds, Timeout).queryExecution.analyzed
      assert(!plan.exists(_.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.logical.AppendColumns]), b.name)
    }
  }

  test("streaming answer equals the batch twin on a generated stream") {
    assertMatchesBatchTwin(Builds, 300L, 7L)
  }

  test("MsgState.merge: associative, commutative on timing, split-invariant") {
    def sample[T](g: Gen[T], seed: Long): T =
      g.apply(Gen.Parameters.default, Seed(seed)).get
    def eventGen(phones: Gen[Long], carriers: Gen[String]) = for {
      status <- Gen.oneOf("sent", "delivered")
      ts <- Gen.chooseNum(T0, T0 + 10 * Timeout)
      phone <- phones
      carrier <- carriers
    } yield MessageStatus("k", status, phone, carrier, ts)
    val anyEvent = eventGen(Gen.oneOf(1L, 2L), Gen.oneOf("att", "verizon"))
    val stateGen = for { e <- anyEvent; alerted <- Gen.oneOf(false, true) }
      yield MsgState.of(e).copy(alerted = alerted)
    def timing(s: MsgState) = (s.firstSent, s.firstDelivered, s.alerted)
    def fold(es: Seq[MessageStatus]) = es.map(MsgState.of).reduce(_ merge _)
    (1L to 200L).foreach { seed =>
      val Seq(a, b, c) = sample(Gen.listOfN(3, stateGen), seed)
      assert(a.merge(b).merge(c) == a.merge(b.merge(c)), s"seed=$seed")
      assert(timing(a.merge(b)) == timing(b.merge(a)), s"seed=$seed")
      // one phone and carrier per key: commutative on every field
      val es = sample(Gen.nonEmptyListOf(eventGen(Gen.const(1L), Gen.const("att"))), seed)
      val whole = fold(es)
      assert(fold(new scala.util.Random(seed).shuffle(es)) == whole, s"seed=$seed")
      // any cut of the key's events into micro-batches folds the same
      val cuts = sample(Gen.listOf(Gen.chooseNum(1, es.size)), seed + 1000)
        .distinct.sorted.filter(_ < es.size)
      val chunks = (0 +: cuts).zip(cuts :+ es.size).map { case (i, j) => es.slice(i, j) }
      assert(chunks.map(fold).reduce(_ merge _) == whole, s"seed=$seed")
      val mixed = sample(Gen.nonEmptyListOf(anyEvent), seed + 2000)
      assert(timing(fold(mixed)) == timing(fold(mixed.reverse)), s"seed=$seed")
    }
  }
}
