package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, ForeachWriter, SparkSession}
import org.apache.spark.sql.functions.{col, concat, expr, lit, max}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sources.KafkaIO
import graft.sources.memkafka.{MemBroker, MemKafkaProvider}
import graft.streaming.{Generator, MessageStatus, UndeliveredAlert, UndeliveredDetector}

/** Wall clock in epoch milliseconds with sub-millisecond resolution. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
  def sleepUntil(ms: Double): Unit = {
    var left = ms - nowMs
    while (left > 0) {
      LockSupport.parkNanos((left * 1e6).toLong)
      left = ms - nowMs
    }
  }
}

/** The benchmark's own sink: stamps each alert as it reaches it. Spark
  * runs it on task threads of this JVM (local mode). */
object AlertSink {
  final case class Arrival(alert: UndeliveredAlert, atMs: Double)
  val arrivals = new ConcurrentLinkedQueue[Arrival]()
  val writeNs = new AtomicLong(0L)
  @volatile var parentSpan = 0L

  /** The arrivals so far, emptying the sink. */
  def take(): Seq[Arrival] = {
    val out = Seq.newBuilder[Arrival]
    var a = arrivals.poll()
    while (a != null) { out += a; a = arrivals.poll() }
    out.result()
  }
}

final class AlertSink extends ForeachWriter[UndeliveredAlert] {
  override def open(partitionId: Long, epochId: Long): Boolean = true
  override def process(a: UndeliveredAlert): Unit = {
    val t0 = System.nanoTime()
    AlertSink.arrivals.add(AlertSink.Arrival(a, Clock.nowMs))
    val t1 = System.nanoTime()
    AlertSink.writeNs.addAndGet(t1 - t0)
    Tracer.global.record("sink.write", AlertSink.parentSpan, t0, t1)
  }
  override def close(errorOrNull: Throwable): Unit = ()
}

/** Workload `alert_stream`: the north-star detector fed through the
  * in-memory broker, MemKafka -> `unframeConfluent` ->
  * `UndeliveredDetector.alerts` -> [[AlertSink]], in two phases that
  * each run their own detector query on their own transcript.
  *
  * A transcript is `Generator.batch` output with message births spread
  * over one-minute slices of event time, sorted by event time and framed
  * with `KafkaIO.frameConfluent` during set-up.
  *  - Paced phase (open loop, per-batch floor): record i is due at
  *    start + (t_i - t_0) / SpeedUp and is appended to the broker when
  *    due, whatever the query does. The speed-up lets the default 120 s
  *    timeout and 1 min watermark expire within the phase. The query runs
  *    on a fixed processing-time trigger, as a deployed alerting job
  *    would, so a record's latency includes its wait for the next trigger.
  *  - Flood phase (closed loop, per-record work): a chunk of records is
  *    appended, the query (triggered as fast as it can go) is waited on
  *    until it has committed the chunk, and the next chunk follows. The
  *    query starts during set-up, where its first [[WarmChunks]] chunks
  *    warm it up; at least [[MinChunks]] more are measured. The transcript
  *    is sized for 45k records/s; a faster program runs out of it early.
  * After each phase a sentinel record pushes the watermark past every
  * deadline, and the alert set must equal `alertsBatch` over exactly the
  * records the phase produced.
  */
object AlertStream {
  val TimeoutMs = 120000L
  val WatermarkMs = 60000L
  val SliceMs = 60000L
  val T0 = 1700000000000L
  /** Events per message lifecycle in `Generator.batch`, on average. */
  val EventsPerMessage = 2.6
  /** Paced phase: offered events per second, event-time speed-up and the
    * micro-batch trigger interval. */
  val RatePerS = 2000.0
  val SpeedUp = 90.0
  val TriggerMs = 1000L
  /** Flood phase: records per chunk, chunks run during set-up, chunks
    * measured at least, and the rate the transcript is sized for. */
  val Chunk = 50000
  val WarmChunks = 3
  val MinChunks = 5
  val FloodSizingPerS = 45000L
  val FloodSlices = 10

  final case class Plan(pacedS: Int, floodS: Int, pacedSlices: Int,
      pacedPerSlice: Long, floodPerSlice: Long)

  /** The paced phase gets two fifths of the seconds: its hundreds of
    * alert samples need less time than the flood's chunks. */
  def plan(seconds: Int): Plan = {
    val pacedS = math.max(1, seconds * 2 / 5)
    val floodS = math.max(1, seconds - pacedS)
    Plan(pacedS, floodS,
      pacedSlices = math.ceil(pacedS * SpeedUp * 1000.0 / SliceMs).toInt,
      // births per slice so that the steady replay rate is RatePerS
      pacedPerSlice = math.round(RatePerS / SpeedUp / EventsPerMessage * SliceMs / 1000.0),
      floodPerSlice = math.ceil((floodS * FloodSizingPerS + WarmChunks * Chunk)
        / EventsPerMessage / FloodSlices).toLong)
  }

  /** `slices * perSlice` message lifecycles from one `Generator.batch`
    * call; message k is born in slice k / perSlice, so births are spread
    * over `slices` minutes of event time instead of the generator's one. */
  def transcript(spark: SparkSession, seed: Long, prefix: String,
      t0: Long, slices: Int, perSlice: Long): Dataset[MessageStatus] = {
    import spark.implicits._
    Generator.batch(spark, slices * perSlice, seed = seed, t0 = t0, timeoutMs = TimeoutMs)
      .withColumn("timestamp", col("timestamp") +
        expr(s"cast(substring_index(messageId, '-', -1) as bigint) div $perSlice") * SliceMs)
      .withColumn("messageId", concat(lit(prefix), col("messageId")))
      .as[MessageStatus]
  }

  type Rec = (Array[Byte], Array[Byte])

  /** A transcript (cached until the phase is checked), its records
    * sorted by event time, their frames in the same order, and the
    * seconds generating and framing took. */
  final case class Input(ds: Dataset[MessageStatus], recs: Array[MessageStatus],
      framed: Array[Rec], generateS: Double, frameS: Double)

  /** Generate and frame a transcript, then sort both by event time on the
    * driver: the two collects read the same cached partitions in the same
    * order, so record i and frame i stay paired. */
  def prepare(transcript: Dataset[MessageStatus], tracer: Tracer): Input = {
    val g0 = System.nanoTime()
    val ds = transcript.cache()
    val recs = tracer.span("generate")(ds.collect())
    val g1 = System.nanoTime()
    val framed = tracer.span("frame") {
      KafkaIO.frameConfluent(ds).collect()
        .map(r => (r.getAs[Array[Byte]](0), r.getAs[Array[Byte]](1)))
    }
    val g2 = System.nanoTime()
    require(framed.length == recs.length, "framing changed the record count")
    val order = Array.tabulate[Integer](recs.length)(Integer.valueOf)
    java.util.Arrays.sort(order, (a: Integer, b: Integer) => {
      val (x, y) = (recs(a), recs(b))
      val c = java.lang.Long.compare(x.timestamp, y.timestamp)
      if (c != 0) c
      else {
        val d = x.messageId.compareTo(y.messageId)
        if (d != 0) d else x.status.compareTo(y.status)
      }
    })
    Input(ds, order.map(i => recs(i)), order.map(i => framed(i)),
      (g1 - g0) / 1e9 + (System.nanoTime() - g2) / 1e9, (g2 - g1) / 1e9)
  }

  private def frameOne(spark: SparkSession, m: MessageStatus): Rec = {
    import spark.implicits._
    val r = KafkaIO.frameConfluent(Seq(m).toDS()).collect().head
    (r.getAs[Array[Byte]](0), r.getAs[Array[Byte]](1))
  }

  /** One detector query reading its own topic, with its own checkpoint. */
  private final class Detector(spark: SparkSession, workDir: String, name: String,
      trigger: Option[Trigger], tracer: Tracer) {
    val topic = s"perfbench-$name-${System.nanoTime()}"
    val q: StreamingQuery = tracer.span("detector.start") {
      AlertSink.parentSpan = tracer.current
      val src = spark.readStream.format(classOf[MemKafkaProvider].getName)
        .option("topic", topic).load()
      val w = UndeliveredDetector.alerts(KafkaIO.unframeConfluent(src), TimeoutMs)
        .writeStream.outputMode("append")
        .option("checkpointLocation", s"$workDir/checkpoint-$topic")
        .foreach(new AlertSink)
      trigger.fold(w)(w.trigger).start()
    }

    def append(recs: Seq[Rec]): Unit =
      tracer.span("producer.append")(MemBroker.append(topic, recs))

    def size: Long = MemBroker.size(topic)

    /** Offset up to which the query has committed. */
    def committed: Long =
      Option(q.lastProgress).flatMap(p => p.sources.headOption)
        .flatMap(s => Option(s.endOffset)).map(_.trim)
        .filter(o => o.nonEmpty && o.forall(_.isDigit)).map(_.toLong).getOrElse(0L)

    /** Push the watermark past every deadline up to event time `lastTs`,
      * wait for the query to process everything, stop it, and return the
      * number of broker records it never consumed. */
    def finish(lastTs: Long): Long = {
      append(Seq(frameOne(spark, MessageStatus("sentinel", "delivered", 0L, "none",
        lastTs + TimeoutMs + WatermarkMs + 1000L))))
      q.processAllAvailable()
      val unconsumed = math.max(0L, size - committed)
      q.stop()
      MemBroker.clear(topic)
      unconsumed
    }
  }

  /** Alerts of a phase against the batch twin over the `produced` first
    * records of its transcript: (expected, missing, extra). */
  private def check(in: Input, produced: Int, got: Seq[UndeliveredAlert]): (Int, Int, Int) = {
    val expected =
      if (produced == 0) Array.empty[UndeliveredAlert]
      else {
        val last = in.recs(produced - 1)
        val (t, m, s) = (col("timestamp"), col("messageId"), col("status"))
        val prefix = in.ds.filter(t < last.timestamp || (t === last.timestamp &&
          (m < last.messageId || (m === last.messageId && s <= last.status))))
        UndeliveredDetector.alertsBatch(prefix, TimeoutMs).collect()
      }
    in.ds.unpersist()
    val want = expected.groupBy(identity).map { case (k, v) => k -> v.length }
    val have = got.groupBy(identity).map { case (k, v) => k -> v.length }
    val missing = want.map { case (k, c) => math.max(0, c - have.getOrElse(k, 0)) }.sum
    val extra = have.map { case (k, c) => math.max(0, c - want.getOrElse(k, 0)) }.sum
    (expected.length, missing, extra)
  }

  def run(spark: SparkSession, seed: Long, seconds: Int, workDir: String,
      tracer: Tracer): Map[String, Any] = {
    val p = plan(seconds)

    // ---- set-up: start the paced query and warm it up on a small
    // transcript half an hour earlier, while the two measured transcripts
    // are generated and framed; then start the flood query and run its
    // warm-up chunks
    val s0 = System.nanoTime()
    val warm = prepare(transcript(spark, seed + 7919L, "w-", T0 - 30 * 60000L, 2, 200),
      new Tracer(false))
    warm.ds.unpersist()
    val paced = new Detector(spark, workDir, "paced",
      Some(Trigger.ProcessingTime(TriggerMs)), tracer)
    paced.append(warm.framed.toSeq :+ frameOne(spark,
      MessageStatus("w-sentinel", "delivered", 0L, "none", T0 - 120000L)))
    val pacedIn = prepare(transcript(spark, seed, "p-", T0, p.pacedSlices, p.pacedPerSlice),
      tracer)
    val floodIn = prepare(transcript(spark, seed + 1000003L, "f-", T0, FloodSlices,
      p.floodPerSlice), tracer)
    val frecs = floodIn.recs
    val fn = frecs.length
    val fdue = new Array[Double](fn)
    val flood = new Detector(spark, workDir, "flood", None, tracer)
    var i = 0
    val warmChunks = Seq.newBuilder[(Int, Double)]
    while (i < math.min(fn, WarmChunks * Chunk)) {
      val j = math.min(fn, i + Chunk)
      val a = Clock.nowMs
      java.util.Arrays.fill(fdue, i, j, a)
      flood.append(floodIn.framed.slice(i, j).toSeq)
      flood.q.processAllAvailable()
      warmChunks += ((j - i, Clock.nowMs - a))
      i = j
    }
    val floodBase = i
    paced.q.processAllAvailable()
    val setupS = (System.nanoTime() - s0) / 1e9
    val unframeS = if (tracer.traced) {
      val frames = KafkaIO.frameConfluent(floodIn.ds).cache()
      frames.count()
      val u0 = System.nanoTime()
      tracer.span("unframe") {
        KafkaIO.unframeConfluent(frames).agg(max("timestamp"), max("messageId")).collect()
      }
      val s = (System.nanoTime() - u0) / 1e9
      frames.unpersist()
      s
    } else 0.0
    val base = paced.size
    // alerts are told apart by their transcript's prefix: the warm-up
    // transcript's are dropped, the flood warm-up chunks' kept
    val early = AlertSink.take()
    AlertSink.writeNs.set(0L)

    // ---- paced phase
    val recs = pacedIn.recs
    val n = recs.length
    val due = new Array[Double](n)
    val appended = new Array[Double](n)
    val backlog = Seq.newBuilder[(Double, Long, Double)]
    val start = Clock.nowMs + 100.0
    val end = start + p.pacedS * 1000.0
    i = 0
    tracer.span("producer.paced") {
      val e0 = recs(0).timestamp
      while (i < n) { due(i) = start + (recs(i).timestamp - e0) / SpeedUp; i += 1 }
      i = 0
      while (i < n && due(i) < end) {
        Clock.sleepUntil(due(i))
        val now = Clock.nowMs
        var j = i
        while (j < n && due(j) <= now && due(j) < end) j += 1
        paced.append(pacedIn.framed.slice(i, j).toSeq)
        val at = Clock.nowMs
        java.util.Arrays.fill(appended, i, j, at)
        // backlog in records and in age: how long ago the oldest record
        // not yet committed was due
        val oldest = (paced.committed - base).toInt
        backlog += ((at, paced.size - math.max(paced.committed, base),
          if (oldest < j) at - due(math.max(0, oldest)) else 0.0))
        i = j
      }
    }
    val pacedN = i
    val pacedUnconsumed = paced.finish(if (i > 0) recs(i - 1).timestamp else T0)
    val afterPaced = early ++ AlertSink.take()
    val pacedAlerts = afterPaced.filter(_.alert.messageId.startsWith("p-"))
    val (pacedWant, pacedMissing, pacedExtra) = check(pacedIn, pacedN, pacedAlerts.map(_.alert))

    // ---- flood phase
    // a traced run records spans on every other chunk only
    val chunks = Seq.newBuilder[(Int, Double, Boolean)]
    val floodStart = Clock.nowMs
    i = floodBase
    var k = 0
    tracer.span("producer.flood") {
      while (i < fn && (i < floodBase + MinChunks * Chunk ||
          Clock.nowMs < floodStart + p.floodS * 1000.0)) {
        val j = math.min(fn, i + Chunk)
        tracer.recording = tracer.traced && k % 2 == 1
        val a = Clock.nowMs
        java.util.Arrays.fill(fdue, i, j, a)
        flood.append(floodIn.framed.slice(i, j).toSeq)
        flood.q.processAllAvailable()
        chunks += ((j - i, Clock.nowMs - a, tracer.recording))
        i = j
        k += 1
      }
      tracer.recording = tracer.traced
    }
    val floodN = i
    val floodUnconsumed = flood.finish(if (i > 0) frecs(i - 1).timestamp else T0)
    val floodAlerts = (afterPaced ++ AlertSink.take()).filter(_.alert.messageId.startsWith("f-"))
    val (floodWant, floodMissing, floodExtra) = check(floodIn, floodN, floodAlerts.map(_.alert))

    Binary.writeDoubles(s"$workDir/paced_due_ms.bin", due.take(pacedN))
    Binary.writeDoubles(s"$workDir/paced_appended_ms.bin", appended.take(pacedN))
    Binary.writeDoubles(s"$workDir/paced_event_ms.bin", recs.take(pacedN).map(_.timestamp.toDouble))
    Binary.writeDoubles(s"$workDir/flood_due_ms.bin", fdue.take(floodN))
    Binary.writeDoubles(s"$workDir/flood_event_ms.bin",
      frecs.take(floodN).map(_.timestamp.toDouble))
    def alertRows(as: Seq[AlertSink.Arrival]) = as.map(a => Seq(a.alert.deadline.toDouble, a.atMs))
    Map(
      "plan" -> p, "rate_per_s" -> RatePerS, "speed_up" -> SpeedUp, "trigger_ms" -> TriggerMs,
      "chunk" -> Chunk, "timeout_ms" -> TimeoutMs, "watermark_ms" -> WatermarkMs,
      "generate_s" -> (pacedIn.generateS + floodIn.generateS),
      "frame_s" -> (pacedIn.frameS + floodIn.frameS), "unframe_s" -> unframeS,
      "setup_s" -> setupS, "warm_events" -> warm.recs.length,
      "paced_query_id" -> paced.q.id.toString, "flood_query_id" -> flood.q.id.toString,
      "paced_base_offset" -> base, "paced_start_ms" -> start, "paced_end_ms" -> end,
      "paced" -> pacedN, "flood" -> floodN, "produced" -> (pacedN + floodN),
      "unconsumed" -> (pacedUnconsumed + floodUnconsumed),
      "expected_alerts" -> (pacedWant + floodWant),
      "missing_alerts" -> (pacedMissing + floodMissing),
      "extra_alerts" -> (pacedExtra + floodExtra),
      "checks" -> Map(
        "paced" -> Map("expected" -> pacedWant, "missing" -> pacedMissing, "extra" -> pacedExtra,
          "unconsumed" -> pacedUnconsumed),
        "flood" -> Map("expected" -> floodWant, "missing" -> floodMissing, "extra" -> floodExtra,
          "unconsumed" -> floodUnconsumed)),
      "flood_base_offset" -> floodBase,
      "warm_chunks" -> warmChunks.result().map { case (e, ms) => Map("events" -> e, "ms" -> ms) },
      "chunks" -> chunks.result().map { case (e, ms, t) =>
        Map("events" -> e, "ms" -> ms, "traced" -> t) },
      "backlog" -> backlog.result().map { case (t, b, age) => Seq(t, b.toDouble, age) },
      "paced_alerts" -> alertRows(pacedAlerts), "flood_alerts" -> alertRows(floodAlerts),
      "sink_write_ms" -> AlertSink.writeNs.get / 1e6)
  }
}
