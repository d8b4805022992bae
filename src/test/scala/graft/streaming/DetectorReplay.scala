package graft.streaming

import graft.SparkSpec
import graft.operators.Sessions
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The replay harness of the E1 detector suites: both builds —
  * flatMapGroupsWithState on the default state store and
  * transformWithState on RocksDB — behind one [[run]]. */
trait DetectorReplay extends SparkSpec {

  protected val T0 = 1700000000000L
  protected val Timeout = 120000L // 2 minutes, README's "configurable timeout"

  protected case class Build(name: String,
      alerts: (Dataset[MessageStatus], Long) => Dataset[UndeliveredAlert],
      confs: Seq[(String, String)])

  protected val Tws = Build("transformWithState", TwsDetector.alerts(_, _),
    Seq("spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
  protected val Builds =
    Seq(Build("flatMapGroupsWithState", UndeliveredDetector.alerts(_, _), Nil), Tws)

  /** Replay `batches` (one micro-batch each) through the real streaming
    * path of `build`; two sentinel batches then push the watermark far
    * enough that every timer fires. */
  protected def run(build: Build, batches: Seq[Seq[MessageStatus]])
      : Seq[UndeliveredAlert] = Sessions.withConfs(spark, build.confs: _*) {
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[MessageStatus]
    val qn = "det_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = build.alerts(src.toDS(), Timeout).writeStream
      .format("memory").queryName(qn).outputMode("append").start()
    try {
      val s1 = MessageStatus("sentinel", "delivered", 0L, "none",
        batches.flatten.map(_.timestamp).max + 10 * Timeout)
      (batches :+ Seq(s1) :+ Seq(s1.copy(timestamp = s1.timestamp + 10 * Timeout)))
        .foreach { b => src.addData(b); q.processAllAvailable() }
      spark.table(qn).as[UndeliveredAlert].collect().toSeq
        .filterNot(_.messageId == "sentinel")
    } finally {
      q.stop()
      spark.catalog.dropTempView(qn)
    }
  }

  /** Each of `builds`, fed a `keys`-key generated transcript as one
    * micro-batch, alerts on exactly the keys the batch twin does. */
  protected def assertMatchesBatchTwin(builds: Seq[Build], keys: Long, seed: Long): Unit = {
    import spark.implicits._
    val transcript = Generator.batch(spark, keys, seed = seed)
      .as[MessageStatus].collect().toSeq
    val batch = UndeliveredDetector
      .alertsBatch(transcript.toDS(), Timeout)
      .collect().map(_.messageId).sorted.toSeq
    assert(batch.nonEmpty) // ~5% never-delivered keys must alert
    builds.foreach { b =>
      assert(run(b, Seq(transcript)).map(_.messageId).sorted == batch, s"${b.name}, seed=$seed")
    }
  }
}
