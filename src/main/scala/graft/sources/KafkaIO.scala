package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import graft.streaming.MessageStatus

/** Kafka source/sink surface (reference C1/C6): keyed Avro records on
  * the `message_status` topic with the reference's reliability settings
  * (acks=all, 3 retries, 1s backoff, 30s request / 60s delivery timeout
  * — phone_message_producer.py:354-358) and env-driven connection config
  * (phone_message_producer.py:930-941: BOOTSTRAP_URL + SASL creds).
  *
  * The methods build standard `format("kafka")` plans; the kafka
  * connector jar is a deploy-time dependency (not shipped in this
  * offline environment, so tests cover the frame encode/decode and the
  * option plumbing rather than a live broker round trip).
  */
object KafkaIO {

  val Topic = "message_status"

  /** C1 reliability options, translated to Kafka producer configs. */
  def producerOptions(bootstrap: String): Map[String, String] = Map(
    "kafka.bootstrap.servers" -> bootstrap,
    "topic" -> Topic,
    "kafka.acks" -> "all",
    "kafka.retries" -> "3",
    "kafka.retry.backoff.ms" -> "1000",
    "kafka.request.timeout.ms" -> "30000",
    "kafka.delivery.timeout.ms" -> "60000")

  /** C6 env-based SASL_SSL config (same knobs as the reference's
    * producer config / message-tracking.json:90-117). */
  def saslOptions(apiKey: String, apiSecret: String): Map[String, String] = Map(
    "kafka.security.protocol" -> "SASL_SSL",
    "kafka.sasl.mechanism" -> "PLAIN",
    "kafka.sasl.jaas.config" ->
      ("org.apache.kafka.common.security.plain.PlainLoginModule required " +
        s"""username="$apiKey" password="$apiSecret";"""))

  /** Frame a MessageStatus stream as Kafka (key, value) — Avro key on
    * messageId, Avro value on the wire fields (C2 framing,
    * phone_message_producer.py:410-451). */
  def frame(ds: Dataset[MessageStatus]): DataFrame =
    ds.select(
      AvroWire.toAvro(struct(col("messageId")),
        AvroWire.MessageKeySchema).as("key"),
      AvroWire.toAvro(
        struct(col("status"), col("phoneNumber"), col("carrier"), col("timestamp")),
        AvroWire.MessageStatusSchema).as("value"))

  /** Registry subjects for the topic's key/value schemas (Confluent
    * TopicNameStrategy, the reference serializer's default). */
  val KeySubject = s"$Topic-key"
  val ValueSubject = s"$Topic-value"

  /** Fallback ids for the explicit-id entry points = what a fresh
    * registry issues for (key, value) registration order. Production
    * framing should go through the resolver overloads below, mirroring
    * the reference's register-then-use flow. */
  val KeySchemaId = 1
  val ValueSchemaId = 2

  /** Register both schemas (idempotently) with the resolver and frame
    * with the ids IT issues — the reference producer's register-then-
    * use flow (phone_message_producer.py:327-340). */
  def frameConfluent(ds: Dataset[MessageStatus],
      registry: SchemaIdResolver): DataFrame =
    frameConfluent(ds,
      registry.register(KeySubject, AvroWire.MessageKeySchema),
      registry.register(ValueSubject, AvroWire.MessageStatusSchema))

  /** Consumer side of the resolver flow: look up the registered ids
    * (throws if the subjects were never registered) and unframe. */
  def unframeConfluent(df: DataFrame,
      registry: SchemaIdResolver): Dataset[MessageStatus] =
    unframeConfluent(df,
      registry.idFor(KeySubject, AvroWire.MessageKeySchema),
      registry.idFor(ValueSubject, AvroWire.MessageStatusSchema))

  /** [[frame]] in Confluent Schema-Registry wire format (magic + schema
    * id header) — what a registry-aware consumer of the reference's
    * topic expects (phone_message_producer.py:327-340, 426-432). */
  def frameConfluent(ds: Dataset[MessageStatus],
      keyId: Int = KeySchemaId, valueId: Int = ValueSchemaId): DataFrame =
    ds.select(
      AvroWire.toAvroConfluent(struct(col("messageId")),
        AvroWire.MessageKeySchema, keyId).as("key"),
      AvroWire.toAvroConfluent(
        struct(col("status"), col("phoneNumber"), col("carrier"), col("timestamp")),
        AvroWire.MessageStatusSchema, valueId).as("value"))

  /** Inverse of [[frameConfluent]]. */
  def unframeConfluent(df: DataFrame,
      keyId: Int = KeySchemaId, valueId: Int = ValueSchemaId): Dataset[MessageStatus] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(
      AvroWire.fromAvroConfluent(col("key"), AvroWire.MessageKeySchema, keyId).as("k"),
      AvroWire.fromAvroConfluent(col("value"), AvroWire.MessageStatusSchema, valueId).as("v"))
      .select(col("k.messageId"), col("v.status"), col("v.phoneNumber"),
        col("v.carrier"), col("v.timestamp"))
      .as[MessageStatus]
  }

  /** Inverse of [[frame]]: (key, value) binary -> MessageStatus. */
  def unframe(df: DataFrame): Dataset[MessageStatus] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(
      AvroWire.fromAvro(col("key"), AvroWire.MessageKeySchema).as("k"),
      AvroWire.fromAvro(col("value"), AvroWire.MessageStatusSchema).as("v"))
      .select(col("k.messageId"), col("v.status"), col("v.phoneNumber"),
        col("v.carrier"), col("v.timestamp"))
      .as[MessageStatus]
  }

  /** Streaming sink: at-least-once keyed produce in Confluent wire
    * format, with the ids `registry` issues (what every consumer's
    * [[unframeConfluent]] reads); the micro-batch epoch commit is the
    * flush barrier (C1's producer.flush parity). */
  def writer(ds: Dataset[MessageStatus], bootstrap: String,
      checkpoint: String, registry: SchemaIdResolver)
      : DataStreamWriter[org.apache.spark.sql.Row] = {
    var w = frameConfluent(ds, registry).writeStream.format("kafka")
      .option("checkpointLocation", checkpoint)
    producerOptions(bootstrap).foreach { case (k, v) => w = w.option(k, v) }
    w
  }

  /** C4 — console dry-run sink: print the framed records instead of
    * producing them (the reference producer's --dry-run surface,
    * phone_message_producer.py:754-756). */
  def consoleWriter(ds: Dataset[MessageStatus],
      numRows: Int = 20): DataStreamWriter[org.apache.spark.sql.Row] =
    ds.toDF().writeStream.format("console")
      .option("numRows", numRows).option("truncate", "false")

  /** Streaming source for the topic (maxOffsetsPerTrigger is the B4
    * backpressure cap). */
  def reader(spark: SparkSession, bootstrap: String,
      maxOffsetsPerTrigger: Long = 10000L): DataFrame =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", Topic)
      .option("startingOffsets", "earliest")
      .option("maxOffsetsPerTrigger", maxOffsetsPerTrigger)
      .load()
}
