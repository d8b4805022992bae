package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import graft.sources.memkafka.{MemBroker, MemKafkaMicroBatchStream, MemKafkaProvider, MemOffset, MemRange}
import graft.streaming.{Generator, MessageStatus, UndeliveredAlert, UndeliveredDetector}

/** The MemKafka read plan: how a micro-batch's offset range is split
  * into input partitions, and that a split batch still feeds the
  * detector exactly the records of the topic. */
class MemKafkaSpec extends SparkSpec {
  import MemKafkaMicroBatchStream.{MinRangeRecords => Min, ranges}

  private def checkCover(rs: Array[MemRange], from: Long, until: Long): Unit = {
    assert(rs.nonEmpty)
    assert(rs.head.from == from && rs.last.until == until)
    rs.zip(rs.tail).foreach { case (a, b) =>
      assert(a.until == b.from, s"gap or overlap between $a and $b")
    }
  }

  test("ranges are contiguous, cover [from, until) exactly and are never empty") {
    for {
      from <- Seq(0L, 7L, 123456L)
      n <- Seq(1L, Min - 1, Min, 2 * Min - 1, 2 * Min, 3 * Min + 5, 50000L, 1000003L)
      par <- Seq(1, 2, 4, 7, 32)
    } {
      val rs = ranges("t", from, from + n, par)
      checkCover(rs, from, from + n)
      assert(rs.forall(r => r.until > r.from), s"empty range in ${rs.toSeq}")
      assert(rs.length <= par, s"${rs.length} ranges at parallelism $par")
      if (rs.length > 1) assert(rs.forall(r => r.until - r.from >= Min))
    }
  }

  test("an empty batch is one empty range; a batch below twice the minimum stays whole") {
    assert(ranges("t", 5L, 5L, 4).toSeq == Seq(MemRange("t", 5L, 5L)))
    assert(ranges("t", 0L, 2000L, 4).toSeq == Seq(MemRange("t", 0L, 2000L)))
    assert(ranges("t", 0L, Min - 1, 4).length == 1)
    assert(ranges("t", 0L, 2 * Min - 1, 4).length == 1)
    assert(ranges("t", 0L, 2 * Min, 4).length == 2)
    assert(ranges("t", 0L, 50000L, 4).length == 4)
  }

  test("planInputPartitions splits by the session's default parallelism") {
    val par = spark.sparkContext.defaultParallelism
    val stream = new MemKafkaMicroBatchStream("t")
    val big = stream.planInputPartitions(MemOffset(10L), MemOffset(10L + 100 * Min))
      .map(_.asInstanceOf[MemRange])
    assert(big.length == par)
    checkCover(big, 10L, 10L + 100 * Min)
    val small = stream.planInputPartitions(MemOffset(0L), MemOffset(2000L))
    assert(small.toSeq == Seq(MemRange("t", 0L, 2000L)))
  }

  test("offsets stay a bare record index, so old checkpoints resume") {
    assert(MemOffset(12345L).json() == "12345")
    val stream = new MemKafkaMicroBatchStream("t")
    assert(stream.deserializeOffset("67890") == MemOffset(67890L))
  }

  test("broker slice clamps to the log and keeps record order") {
    val topic = "slice_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val recs = (0 until 10).map(i => (Array(i.toByte), Array((i * 2).toByte)))
    MemBroker.append(topic, recs)
    try {
      assert(MemBroker.slice(topic, 3L, 6L).map(_._1.head.toInt).toSeq == Seq(3, 4, 5))
      assert(MemBroker.slice(topic, 8L, 20L).map(_._1.head.toInt).toSeq == Seq(8, 9))
      assert(MemBroker.slice(topic, 12L, 20L).isEmpty)
    } finally MemBroker.clear(topic)
  }

  test("e2e: a topic above the split minimum, read by several tasks, alerts like alertsBatch") {
    // ~26k records: the first micro-batch (two thirds of the topic) is
    // split into several ranges; the detector is then stopped and
    // restarted from its checkpoint for the rest of the topic.
    import spark.implicits._
    val fmt = classOf[MemKafkaProvider].getName
    val topic = "big_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val tmp = Files.createTempDirectory("memkafka_big")
    val timeout = 120000L
    val ds = Generator.batch(spark, 10000L, timeoutMs = timeout).as[MessageStatus].cache()
    // event-time order, as a producer emits them: no record of the
    // second part is behind the watermark the first part leaves
    val framed = KafkaIO.frameConfluent(ds.orderBy("timestamp", "messageId", "status"))
      .collect().map(r => (r.getAs[Array[Byte]](0), r.getAs[Array[Byte]](1)))
    val cut = framed.length * 2 / 3
    assert(framed.length > 20000)
    assert(ranges(topic, 0L, cut.toLong, spark.sparkContext.defaultParallelism).length > 1,
      "the first micro-batch must be read by more than one task")
    val maxTs = ds.agg(org.apache.spark.sql.functions.max("timestamp")).as[Long].head()
    def sentinel(ts: Long) = KafkaIO.frameConfluent(
      Seq(MessageStatus("sentinel", "delivered", 0L, "none", ts)).toDS())
      .collect().map(r => (r.getAs[Array[Byte]](0), r.getAs[Array[Byte]](1))).toSeq

    val out = tmp.resolve("out").toString
    def consumer() = UndeliveredDetector.alerts(
      KafkaIO.unframeConfluent(
        spark.readStream.format(fmt).option("topic", topic).load()), timeout)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", tmp.resolve("cons").toString)
      .outputMode("append").start()
    try {
      MemBroker.append(topic, framed.take(cut).toSeq)
      val c1 = consumer()
      c1.processAllAvailable()
      c1.stop()
      MemBroker.append(topic, framed.drop(cut).toSeq)
      val c2 = consumer()
      c2.processAllAvailable()
      MemBroker.append(topic, sentinel(maxTs + 10 * timeout))
      c2.processAllAvailable()
      MemBroker.append(topic, sentinel(maxTs + 20 * timeout))
      c2.processAllAvailable()
      c2.stop()
    } finally MemBroker.clear(topic)
    val got = spark.read.parquet(out).as[UndeliveredAlert]
      .collect().filterNot(_.messageId == "sentinel")
    val want = UndeliveredDetector.alertsBatch(ds, timeout).collect()
    ds.unpersist()
    assert(want.nonEmpty)
    assert(got.length == got.toSet.size, "an alert was emitted twice across the restart")
    assert(got.toSet == want.toSet,
      s"${got.toSet.diff(want.toSet).size} extra, ${want.toSet.diff(got.toSet).size} missing")
  }
}
