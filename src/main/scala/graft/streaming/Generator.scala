package graft.streaming

import graft.functions.PortableHash
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Synthetic message-status generator with the reference producer's
  * dataflow semantics, as seedable column-expression pipelines (no
  * driver-side loops — a narrow plan that scales to any row count).
  *
  * Reference semantics reproduced:
  *  - phone numbers: area code oneOf{212,415,713,404,602,503} +
  *    exchange U[200,999] + line U[1000,9999]
  *    (phone_message_producer.py:389-404)
  *  - carrier oneOf{verizon,att,t-mobile} (phone_message_producer.py:62)
  *  - delivery classification: normal 0.85 / delayed 0.10 / never 0.05
  *    (phone_message_producer.py:463-472, Config:47-49)
  *  - delivery delay: normal_delivery_time 30s, delayed_delivery_time
  *    180s (Config:52-53)
  *  - heartbeat re-send every 30s while undelivered
  *    (phone_message_producer.py:540-568)
  *  - per-key frozen vars and sent->delivered state machine
  *    (message-tracking.json:14-35, 56-71)
  *
  * Determinism: every column derives from the row id through the
  * portable md5 hash (`PortableHash.h60`) — not rand(), whose draw
  * order is partition-dependent — so the same (n, seed, t0) produces
  * identical rows on any cluster layout, and DuckDB can replay the
  * exact stream. The delivery class compares integers, `h % 10000`
  * against 8500 and 9500, in every formulation.
  */
object Generator {

  val Carriers: Seq[String] = Seq("verizon", "att", "t-mobile")
  val AreaCodes: Seq[Int] = Seq(212, 415, 713, 404, 602, 503)

  /** Fewest lifecycles in one range of [[batch]]'s id split: a smaller
    * range costs more in task scheduling than its rows save (the rule
    * `MemKafkaMicroBatchStream.ranges` applies to a batch's records). */
  final val MinRangeLifecycles = 8192L

  /** Delivery class of a lifecycle from its bucket `h % 10000` (the
    * uniform the reference draws): below 8500 normal (85%), below 9500
    * delayed (10%), the rest never delivered (5%). */
  private final val NormalBelow = 8500
  private final val DelayedBelow = 9500

  /** The portable hash of lifecycle `id`: h60 of `'k' || (id + seed)`. */
  private def lifecycleHash(id: Column, seed: Long): Column =
    PortableHash.h60(concat(lit("k"), id + seed))

  /** The frozen per-key vars [[batch]] and [[stream]] derive from `h`. */
  private val PhoneNumberSql =
    s"element_at(array(${AreaCodes.map(_ + "L").mkString(", ")}), cast(h % 6 + 1 as int)) * 10000000" +
      " + ((h div 6) % 800 + 200) * 10000" +
      " + ((h div 4800) % 9000 + 1000) AS phoneNumber"
  private val CarrierSql =
    s"element_at(array(${Carriers.map(c => s"'$c'").mkString(", ")}), cast((h div 43200000) % 3 + 1 as int)) AS carrier"

  /** Deterministic batch transcript (sent + heartbeats + delivered) of
    * n message lifecycles starting at epochMs t0.
    *
    * The ids are split into at most `defaultParallelism` contiguous
    * ranges of at least [[MinRangeLifecycles]] each, so a large
    * transcript is generated on every core. Rows and collect order do
    * not depend on the split: the union is every `sent` in id order,
    * then every `delivered` in id order. */
  def batch(spark: SparkSession, n: Long, seed: Long = 42L,
      t0: Long = 1700000000000L, timeoutMs: Long = 120000L,
      heartbeatMs: Long = 30000L): DataFrame = {
    val ranges = math.max(1L, math.min(
      spark.sparkContext.defaultParallelism.toLong, n / MinRangeLifecycles)).toInt
    val keyed = spark.range(0, n, 1, ranges)
      .select(col("id"), lifecycleHash(col("id"), seed).as("h"))
      .selectExpr(
        "concat('msg-', id) AS messageId", PhoneNumberSql, CarrierSql,
        "h % 10000 AS bucket", s"$t0 + h % 60000 AS sentTime")
      .withColumn("deliveryDelay",
        when(col("bucket") < NormalBelow, 30000L)
          .when(col("bucket") < DelayedBelow, 180000L))
      .withColumn("endMs", coalesce(col("deliveryDelay"), lit(timeoutMs)))

    val sent = keyed
      .selectExpr("messageId", "phoneNumber", "carrier", "sentTime",
        s"explode(sequence(0L, endMs - 1, ${heartbeatMs}L)) AS off")
      .select(col("messageId"), lit("sent").as("status"), col("phoneNumber"),
        col("carrier"), (col("sentTime") + col("off")).as("timestamp"))
    val delivered = keyed.filter(col("deliveryDelay").isNotNull)
      .select(col("messageId"), lit("delivered").as("status"),
        col("phoneNumber"), col("carrier"),
        (col("sentTime") + col("deliveryDelay")).as("timestamp"))
    sent.unionByName(delivered)
      .select("messageId", "status", "phoneNumber", "carrier", "timestamp")
  }

  /** DuckDB mirror of [[batch]] — same hash, same arithmetic. */
  def batchSql(n: Long, seed: Long = 42L, t0: Long = 1700000000000L,
      timeoutMs: Long = 120000L, heartbeatMs: Long = 30000L): String = {
    val areas = AreaCodes.mkString("[", ", ", "]")
    val carr = Carriers.map(c => s"'$c'").mkString("[", ", ", "]")
    s"""WITH ids AS (SELECT unnest(range(0, $n)) AS id),
       |keyed AS (SELECT id,
       |    CAST(concat('0x', substr(md5(concat('k', id + $seed)), 1, 15)) AS BIGINT) AS h
       |  FROM ids),
       |base AS (SELECT
       |    concat('msg-', id) AS messageId,
       |    CAST($areas[CAST(h % 6 + 1 AS INT)] AS BIGINT) * 10000000
       |      + ((h // 6) % 800 + 200) * 10000
       |      + ((h // 4800) % 9000 + 1000) AS phoneNumber,
       |    $carr[CAST((h // 43200000) % 3 + 1 AS INT)] AS carrier,
       |    h % 10000 AS bucket,
       |    $t0 + h % 60000 AS sentTime
       |  FROM keyed),
       |cls AS (SELECT *,
       |    CASE WHEN bucket < $NormalBelow THEN 30000 WHEN bucket < $DelayedBelow THEN 180000 END AS deliveryDelay
       |  FROM base),
       |horizon AS (SELECT *, coalesce(deliveryDelay, $timeoutMs) AS endMs FROM cls),
       |sent AS (SELECT messageId, 'sent' AS status, phoneNumber, carrier,
       |    sentTime + off AS timestamp
       |  FROM (SELECT *, unnest(range(0, endMs, $heartbeatMs)) AS off FROM horizon)),
       |delivered AS (SELECT messageId, 'delivered' AS status, phoneNumber, carrier,
       |    sentTime + deliveryDelay AS timestamp
       |  FROM horizon WHERE deliveryDelay IS NOT NULL)
       |SELECT * FROM sent UNION ALL SELECT * FROM delivered""".stripMargin
  }

  /** Streaming variant with the FULL reference lifecycle per key
    * (D1/D3/D5/B8): the rate source forks one message per row
    * (rowsPerSecond = reference peak 100/s from 100 forks x 1/s,
    * message-tracking.json:9,85-87), and a processing-time-timer state
    * machine then emits, per key: the initial `sent`, a heartbeat
    * re-send every heartbeatMs while undelivered
    * (phone_message_producer.py:540-568), the s1->s2 `delivered`
    * transition when the key's frozen delay elapses
    * (message-tracking.json:56-71), and nothing after the timeout for
    * never-delivered keys.
    *
    * Delivery classification (frozen per key from the portable hash,
    * never rand()): 85% normal -> normalMs; 10% delayed -> the D4
    * probabilistic delay ~N(delayedMeanMs, delayedStdMs) via
    * Box-Muller on two hash-derived uniforms
    * (message-tracking.json:72-83); 5% never delivered
    * (phone_message_producer.py:463-472).
    *
    * State is one small record per in-flight key, removed at the
    * terminal transition — bounded by rowsPerSecond x lifetime, hash-
    * partitioned across executors like every keyed stateful op here. */
  def stream(spark: SparkSession, rowsPerSecond: Int = 100,
      seed: Long = 42L, heartbeatMs: Long = 30000L,
      timeoutMs: Long = 120000L, normalMs: Long = 30000L,
      delayedMeanMs: Long = 120000L, delayedStdMs: Long = 10000L)
      : Dataset[MessageStatus] = {
    import spark.implicits._
    val raw = spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond).load()
    val births = raw.select(col("value").as("id"),
        lifecycleHash(col("value"), seed).as("h"),
        unix_millis(col("timestamp")).as("ts"))
      .selectExpr(
        "concat('msg-', id) AS messageId", PhoneNumberSql, CarrierSql,
        "h % 10000 AS bucket",
        // Box-Muller gaussian from two hash-derived uniforms (offset by
        // 0.5 so ln never sees zero); frozen per key like every var
        "sqrt(-2.0 * ln(((h div 10000) % 10000 + 0.5) / 10000.0))" +
          " * cos(2.0 * pi() * ((h div 100000000) % 10000 + 0.5) / 10000.0) AS g",
        "ts")
      .select(col("messageId"), col("phoneNumber"), col("carrier"), col("ts"),
        when(col("bucket") < NormalBelow, lit(normalMs))
          .when(col("bucket") < DelayedBelow,
            greatest(lit(1L),
              round(lit(delayedMeanMs) + lit(delayedStdMs) * col("g"))
                .cast("long")))
          .as("deliveryDelayMs"))
      .as[GenBirth]
    births.groupByKey(_.messageId)
      .flatMapGroupsWithState[GenLife, MessageStatus](
        OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout)(
        streamUpdate(heartbeatMs, timeoutMs))
  }

  /** Lifecycle state machine for one key (see [[stream]]). */
  private[streaming] def streamUpdate(heartbeatMs: Long, timeoutMs: Long)(
      messageId: String,
      events: Iterator[GenBirth],
      state: GroupState[GenLife]): Iterator[MessageStatus] = {
    if (state.hasTimedOut) {
      val s = state.get
      val now = state.getCurrentProcessingTimeMs()
      val elapsed = now - s.sentTime
      s.deliveryDelayMs match {
        case Some(dl) if elapsed >= dl =>
          state.remove() // s1 -> s2: terminal delivered transition
          Iterator.single(MessageStatus(
            messageId, "delivered", s.phoneNumber, s.carrier, s.sentTime + dl))
        case None if elapsed >= timeoutMs =>
          state.remove() // never-delivered fork exits after timeout
          Iterator.empty
        case _ =>
          state.setTimeoutDuration(heartbeatMs)
          Iterator.single(MessageStatus( // B8 heartbeat re-send
            messageId, "sent", s.phoneNumber, s.carrier, now))
      }
    } else {
      val b = events.next()
      state.update(GenLife(b.phoneNumber, b.carrier, b.ts, b.deliveryDelayMs))
      state.setTimeoutDuration(heartbeatMs)
      Iterator.single(MessageStatus(
        messageId, "sent", b.phoneNumber, b.carrier, b.ts))
    }
  }

  /** B3 — periodic batch emission: drive any generator stream on the
    * reference's wall-clock cadence (phone_message_producer.py:616-620
    * emits in 30/60s rhythms; tickMs parameterizes it). */
  def streamWriter(ds: Dataset[MessageStatus], tickMs: Long = 1000L)
      : org.apache.spark.sql.streaming.DataStreamWriter[MessageStatus] =
    ds.writeStream.outputMode("append")
      .trigger(Trigger.ProcessingTime(s"$tickMs milliseconds"))
}
