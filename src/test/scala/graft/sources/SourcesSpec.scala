package graft.sources

import graft.SparkSpec
import graft.streaming.{Generator, MessageStatus, UndeliveredAlert, UndeliveredDetector}
import java.nio.file.Files

class SourcesSpec extends SparkSpec {

  test("avro wire roundtrip preserves every MessageStatus field") {
    import spark.implicits._
    val in = Generator.batch(spark, 50L).as[MessageStatus]
    val back = KafkaIO.unframe(KafkaIO.frame(in)).collect().toSet
    assert(back == in.collect().toSet)
    assert(back.nonEmpty)
  }

  test("avro frame produces non-empty binary key/value columns") {
    import spark.implicits._
    val framed = KafkaIO.frame(Generator.batch(spark, 5L).as[MessageStatus])
    assert(framed.schema.fieldNames.toSeq == Seq("key", "value"))
    framed.collect().foreach { r =>
      assert(r.getAs[Array[Byte]](0).nonEmpty)
      assert(r.getAs[Array[Byte]](1).nonEmpty)
    }
  }

  test("confluent framing roundtrips and strips the 5-byte header") {
    import spark.implicits._
    val in = Generator.batch(spark, 50L).as[MessageStatus]
    val back = KafkaIO.unframeConfluent(KafkaIO.frameConfluent(in))
      .collect().toSet
    assert(back == in.collect().toSet)
    assert(back.nonEmpty)
  }

  test("resolver flow: ids issued by the registry, not constants") {
    import spark.implicits._
    val reg = new InMemorySchemaRegistry
    // seed an unrelated subject so the message ids are NOT (1, 2) — a
    // hardcoded-constant path would fail this round trip
    assert(reg.register("other-subject", "{\"type\":\"string\"}") == 1)
    val in = Generator.batch(spark, 30L).as[MessageStatus]
    val framed = KafkaIO.frameConfluent(in, reg)
    assert(reg.idFor(KafkaIO.KeySubject, AvroWire.MessageKeySchema) == 2)
    assert(reg.idFor(KafkaIO.ValueSubject, AvroWire.MessageStatusSchema) == 3)
    // registration is idempotent: same ids on re-register
    assert(reg.register(KafkaIO.KeySubject, AvroWire.MessageKeySchema) == 2)
    // the embedded header carries the issued id (BE int32 after magic)
    val key = framed.head().getAs[Array[Byte]]("key")
    assert(key.take(5).toSeq == Seq[Byte](0, 0, 0, 0, 2))
    val back = KafkaIO.unframeConfluent(framed, reg).collect().toSet
    assert(back == in.collect().toSet && back.nonEmpty)
    // an unregistered consumer cannot guess ids: lookup throws
    intercept[NoSuchElementException] {
      new InMemorySchemaRegistry().idFor(KafkaIO.KeySubject,
        AvroWire.MessageKeySchema)
    }
  }

  test("confluent wire bytes: magic 0x00 + BE schema id + bare avro body") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val one = Seq(MessageStatus("m-1", "sent", 12125551234L, "att", 1700000000000L))
      .toDS()
    val framed = one.select(
      AvroWire.toAvroConfluent(struct(col("messageId")),
        AvroWire.MessageKeySchema, 7).as("key"),
      AvroWire.toAvro(struct(col("messageId")),
        AvroWire.MessageKeySchema).as("bare"))
      .head()
    val key = framed.getAs[Array[Byte]]("key")
    val bare = framed.getAs[Array[Byte]]("bare")
    // header-compat vector: a registry consumer strips exactly these 5
    // bytes and must find the bare Avro body byte-for-byte
    assert(key.take(5).toSeq == Seq[Byte](0, 0, 0, 0, 7))
    assert(key.drop(5).toSeq == bare.toSeq)
    // the avro body itself: zigzag varint length 3 (0x06) + "m-1" utf8
    assert(bare.toSeq == Seq[Byte](0x06, 'm'.toByte, '-'.toByte, '1'.toByte))
  }

  test("confluent decode rejects a mismatched schema id") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val one = Seq(MessageStatus("m-1", "sent", 1L, "att", 0L)).toDS()
    val framed = one.select(AvroWire.toAvroConfluent(
      struct(col("messageId")), AvroWire.MessageKeySchema, 7).as("key"))
    val ex = intercept[Exception] {
      framed.select(AvroWire.fromAvroConfluent(
        col("key"), AvroWire.MessageKeySchema, 8)).collect()
    }
    assert(ex.getMessage.contains("schema id") ||
      Option(ex.getCause).exists(_.getMessage.contains("schema id")))
  }

  test("nullable union fields roundtrip, null and non-null branches") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val schema =
      """{"type": "record", "name": "Opt", "fields": [
        |  {"name": "id", "type": "string"},
        |  {"name": "note", "type": ["null", "string"]},
        |  {"name": "n", "type": ["null", "long"]},
        |  {"name": "ok", "type": ["null", "boolean"]}
        |]}""".stripMargin
    val rows = Seq(("a", Some("hi"), Some(7L), Some(true)), ("b", None, None, None),
      ("c", Some("ça"), None, Some(false)), ("", Some(""), Some(-1L), None))
    val df = rows.toDF("id", "note", "n", "ok")
    val in = struct(col("id"), col("note"), col("n"), col("ok"))
    // bare body and Confluent-framed body decode through the same path
    for (framed <- Seq(
        AvroWire.fromAvro(AvroWire.toAvro(in, schema), schema),
        AvroWire.fromAvroConfluent(AvroWire.toAvroConfluent(in, schema, 9), schema, 9))) {
      val back = df.select(framed.as("r"))
        .select("r.id", "r.note", "r.n", "r.ok")
        .collect().map(r => (r.getString(0), Option(r.getString(1)),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          if (r.isNullAt(3)) None else Some(r.getBoolean(3)))).toSet
      assert(back == rows.toSet)
    }
  }

  test("multi-byte UTF-8 and empty strings roundtrip through confluent framing") {
    import spark.implicits._
    val in = Seq(
      MessageStatus("ü-日本-\uD83D\uDE00", "", 12125551234L, "t\u2011mobile \u2713", 1L),
      MessageStatus("", "sent", 0L, "", -1L),
      MessageStatus("m-1", "délivré", Long.MaxValue, "att", Long.MinValue))
    val back = KafkaIO.unframeConfluent(KafkaIO.frameConfluent(in.toDS()))
      .collect().toSet
    assert(back == in.toSet)
  }

  test("AvroDecode computes its struct type once, not per row") {
    val e = AvroDecode(org.apache.spark.sql.catalyst.expressions.Literal(Array[Byte]()),
      AvroWire.MessageStatusSchema, Some(2))
    assert(e.dataType eq e.dataType)
    assert(e.dataType == AvroWire.structFor(AvroWire.MessageStatusSchema))
  }

  test("a truncated Avro body or header still throws") {
    import spark.implicits._
    val framed = KafkaIO.frameConfluent(
      Seq(MessageStatus("m-1", "sent", 12125551234L, "att", 1700000000000L)).toDS())
      .select("value").head().getAs[Array[Byte]](0)
    def decode(b: Array[Byte]) = Seq(b).toDF("value").select(
      AvroWire.fromAvroConfluent(org.apache.spark.sql.functions.col("value"),
        AvroWire.MessageStatusSchema, KafkaIO.ValueSchemaId).as("v")).collect()
    intercept[Exception](decode(framed.dropRight(3)))
    val ex = intercept[Exception](decode(framed.take(3)))
    assert(Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("not Confluent-framed")))
  }

  test("framed produce->consume roundtrip through a live DSv2 transport") {
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val fmt = classOf[memkafka.MemKafkaProvider].getName
    val topic = "t_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val msgs = Generator.batch(spark, 30L).as[MessageStatus].collect().toSeq
    val ckpt = Files.createTempDirectory("memkafka_ckpt").toString
    // produce: frame to Avro (key, value) and write through the real
    // streaming sink path (per-task writers, driver epoch commit)
    val src = MemoryStream[MessageStatus]
    val w = KafkaIO.frame(src.toDS()).writeStream.format(fmt)
      .option("topic", topic).option("checkpointLocation", ckpt).start()
    try {
      // two batches exercise offset tracking across epochs
      val (b1, b2) = msgs.splitAt(msgs.length / 2)
      src.addData(b1); w.processAllAvailable()
      src.addData(b2); w.processAllAvailable()
    } finally w.stop()
    // consume: read the topic back through the micro-batch source
    val qn = "mk_" + topic
    val r = KafkaIO.unframe(
      spark.readStream.format(fmt).option("topic", topic).load())
      .writeStream.format("memory").queryName(qn).start()
    try r.processAllAvailable() finally r.stop()
    val got = spark.table(qn).as[MessageStatus].collect().toSet
    spark.catalog.dropTempView(qn)
    memkafka.MemBroker.clear(topic)
    assert(got == msgs.toSet)
    assert(got.nonEmpty)
  }

  test("KafkaIO.writer produces what unframeConfluent reads") {
    // the writer's own sink, swapped onto the in-process transport (the
    // kafka.* options are ignored there); every consumer in the repo
    // reads Confluent framing, so a bare-Avro writer fails the read
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val fmt = classOf[memkafka.MemKafkaProvider].getName
    val topic = "w_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val msgs = Generator.batch(spark, 30L).as[MessageStatus].collect().toSeq
    // a shared registry that already holds the topic's subjects, so the
    // read fails on the frame, not on the lookup
    val reg = new InMemorySchemaRegistry
    reg.register(KafkaIO.KeySubject, AvroWire.MessageKeySchema)
    reg.register(KafkaIO.ValueSubject, AvroWire.MessageStatusSchema)
    val src = MemoryStream[MessageStatus]
    val w = KafkaIO.writer(src.toDS(), "broker:9092",
        Files.createTempDirectory("writer_ckpt").toString, reg)
      .format(fmt).option("topic", topic).start()
    try { src.addData(msgs); w.processAllAvailable() } finally w.stop()
    try {
      val log = memkafka.MemBroker.slice(topic, 0, Long.MaxValue).toSeq
      val got = KafkaIO.unframeConfluent(log.toDF("key", "value"), reg)
        .collect().toSet
      assert(got == msgs.toSet && got.nonEmpty)
    } finally memkafka.MemBroker.clear(topic)
  }

  test("e2e: MemKafka -> unframeConfluent -> detector, epochs + restart") {
    // The declared reference pipeline (undelivered-message-alert/
    // README.md:150-156) end-to-end over the live transport: producer
    // frames Confluent-wire Avro into the topic across multiple epochs;
    // the detector consumes it through the DSv2 source, is STOPPED and
    // restarted from its checkpoint mid-topic, and must still alert on
    // a key whose only events arrived before the restart.
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val fmt = classOf[memkafka.MemKafkaProvider].getName
    val topic = "e2e_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val tmp = Files.createTempDirectory("memkafka_e2e")
    val t0 = 1700000000000L
    val timeout = 120000L

    val src = MemoryStream[MessageStatus]
    val prod = KafkaIO.frameConfluent(src.toDS()).writeStream.format(fmt)
      .option("topic", topic)
      .option("checkpointLocation", tmp.resolve("prod").toString).start()
    def produce(ms: MessageStatus*): Unit = {
      src.addData(ms); prod.processAllAvailable()
    }

    val out = tmp.resolve("out").toString
    def consumer() = UndeliveredDetector.alerts(
      KafkaIO.unframeConfluent(
        spark.readStream.format(fmt).option("topic", topic).load()), timeout)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", tmp.resolve("cons").toString)
      .outputMode("append").start()

    try {
      // epoch 1: one key that must alert, one that resolves in time
      produce(
        MessageStatus("m-a", "sent", 1L, "att", t0),
        MessageStatus("m-b", "sent", 2L, "verizon", t0),
        MessageStatus("m-b", "delivered", 2L, "verizon", t0 + 30000))
      val c1 = consumer()
      c1.processAllAvailable()
      c1.stop() // restart point: source offsets + detector state checkpointed

      // epoch 2 consumed after restart advances the watermark past m-a's
      // deadline; epoch 3 is the data batch in which the timer fires
      produce(MessageStatus("sentinel", "delivered", 0L, "none",
        t0 + 10 * timeout))
      val c2 = consumer()
      c2.processAllAvailable()
      produce(MessageStatus("sentinel", "delivered", 0L, "none",
        t0 + 20 * timeout))
      c2.processAllAvailable()
      c2.stop()
    } finally {
      prod.stop()
      memkafka.MemBroker.clear(topic)
    }
    val alerts = spark.read.parquet(out).as[UndeliveredAlert]
      .collect().filterNot(_.messageId == "sentinel")
    assert(alerts.map(_.messageId).toSeq == Seq("m-a"),
      s"expected exactly the pre-restart key to alert, got ${alerts.toSeq}")
    assert(alerts.head.sentTime == t0)
    assert(alerts.head.deadline == t0 + timeout)
  }

  test("kafka writer carries the reference reliability options") {
    val opts = KafkaIO.producerOptions("broker:9092")
    assert(opts("kafka.acks") == "all")
    assert(opts("kafka.retries") == "3")
    assert(opts("kafka.delivery.timeout.ms") == "60000")
  }

  test("compaction shrinks the file count and preserves every row") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("compact_").toString + "/t"
    // 20 one-row appends => 20+ tiny files, the streaming-sink pathology
    (0 until 20).foreach { i =>
      ParquetStore.append(Seq((i.toLong, s"row$i")).toDF("k", "v"), dir)
    }
    val before = spark.read.parquet(dir).collect().map(_.toSeq.toString).sorted
    val (nBefore, nAfter) = ParquetStore.compact(spark, dir, targetMB = 128)
    assert(nBefore >= 20)
    assert(nAfter == 1) // 20 tiny rows fit one target-sized file
    val after = spark.read.parquet(dir).collect().map(_.toSeq.toString).sorted
    assert(after.toSeq == before.toSeq)
  }

  test("insertIfAbsent ignores duplicate keys across batches") {
    import spark.implicits._
    val dir = Files.createTempDirectory("pqstore").toString + "/t"
    val b1 = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val b2 = Seq((2L, "B"), (3L, "c"), (3L, "c2")).toDF("k", "v")
    ParquetStore.insertIfAbsent(spark, b1, dir, "k")
    ParquetStore.insertIfAbsent(spark, b2, dir, "k")
    val got = spark.read.parquet(dir).as[(Long, String)].collect().toMap
    assert(got.keySet == Set(1L, 2L, 3L))
    assert(got(2L) == "b") // first write wins, OR IGNORE semantics
  }

  test("insertIfAbsent serializes concurrent same-path writers (no dupes)") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = Files.createTempDirectory("pqrace").toString + "/t"
    // both writers carry the same keys; unserialized read-then-append
    // would let both pass the anti-join and double-insert
    val fs = (1 to 2).map { i =>
      Future {
        val batch = (1L to 50L).map(k => (k, s"w$i")).toDF("k", "v")
        ParquetStore.insertIfAbsent(spark, batch, dir, "k")
      }
    }
    Await.result(Future.sequence(fs), 120.seconds)
    val rows = spark.read.parquet(dir).as[(Long, String)].collect()
    assert(rows.length == 50, s"expected 50 unique keys, got ${rows.length}")
    assert(rows.map(_._1).toSet == (1L to 50L).toSet)
  }

  test("console dry-run sink drives the generator without a broker") {
    val q = KafkaIO.consoleWriter(
      Generator.stream(spark, rowsPerSecond = 50,
        heartbeatMs = 200L, timeoutMs = 800L, normalMs = 200L,
        delayedMeanMs = 400L, delayedStdMs = 50L))
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))
      .start()
    try {
      // wait for the first completed micro-batch (fixed sleeps flake
      // when the suite saturates the scheduler)
      val deadline = System.currentTimeMillis() + 30000
      while (q.recentProgress.isEmpty && q.exception.isEmpty &&
        System.currentTimeMillis() < deadline) Thread.sleep(200)
      assert(q.exception.isEmpty, q.exception.toString)
      assert(q.recentProgress.nonEmpty, "no micro-batch completed in 30s")
    } finally q.stop()
  }

  test("partitioned write prunes non-matching partitions at scan time") {
    import spark.implicits._
    val dir = Files.createTempDirectory("pqpart").toString + "/msgs"
    val msgs = Seq(("m1", "sent", 1L), ("m2", "delivered", 2L),
      ("m3", "sent", 3L)).toDF("message_id", "status", "phone")
    ParquetStore.writePartitioned(msgs, dir, "status")
    val q = spark.read.parquet(dir).filter($"status" === "sent")
    val plan = q.queryExecution.executedPlan.toString
    // the status predicate must become a partition filter, not a data filter
    assert(plan.contains("PartitionFilters: [isnotnull(status"), plan)
    assert(q.count() == 2)
  }

  test("bucketed tables join with zero shuffle") {
    import org.apache.spark.sql.functions._
    val o = graft.Tables.orders(spark, sf).select("o_orderkey", "o_custkey")
    val c = graft.Tables.customer(spark, sf).select("c_custkey", "c_mktsegment")
    // a previous JVM's warehouse dir survives while the in-memory
    // catalog does not — clear orphaned locations first
    Seq("b_orders", "b_customer").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val p = new org.apache.hadoop.fs.Path(s"spark-warehouse/$t")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
    }
    ParquetStore.writeBucketed(o, "b_orders", "o_custkey", 8)
    ParquetStore.writeBucketed(c, "b_customer", "c_custkey", 8)
    val joined = spark.table("b_orders")
      .join(spark.table("b_customer").hint("merge"),
        col("o_custkey") === col("c_custkey"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"bucketed join must not shuffle:\n$plan")
    assert(joined.count() > 0)
  }

  test("counters view reproduces the reference's per-phone tallies") {
    import spark.implicits._
    val msgs = Seq(
      ("m1", "sent", 100L), ("m1", "delivered", 100L),
      ("m2", "sent", 100L), ("m3", "sent", 200L))
      .toDF("messageId", "status", "phoneNumber")
    val c = ParquetStore.counters(msgs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(c(100L) == (3L, 1L))
    assert(c(200L) == (1L, 0L))
  }
}
