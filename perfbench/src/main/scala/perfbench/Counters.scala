package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Scheduler and executor counters from a `SparkListener` the benchmark
  * attaches in the traced run. Jobs submitted by a streaming query carry
  * its id as a local property; their jobs and tasks are also counted
  * apart, as the micro-batch engine's share. */
final class Counters extends SparkListener {
  private val c = new ConcurrentHashMap[String, AtomicLong]()
  private val streamStages = ConcurrentHashMap.newKeySet[Int]()

  private def add(k: String, v: Long): Unit =
    c.computeIfAbsent(k, _ => new AtomicLong()).addAndGet(v)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    add("jobs", 1)
    val p = e.properties
    if (p != null && p.getProperty("sql.streaming.queryId") != null) {
      add("stream_jobs", 1)
      e.stageIds.foreach(streamStages.add)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks", 1)
    if (streamStages.contains(e.stageId)) add("stream_tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("executor_run_ms", m.executorRunTime)
      add("executor_cpu_ns", m.executorCpuTime)
      add("gc_ms", m.jvmGCTime)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      add("input_bytes", m.inputMetrics.bytesRead)
    }
  }

  def snapshot(): Map[String, Long] = c.asScala.map { case (k, v) => k -> v.get }.toMap
}

/** Micro-batch progress from a `StreamingQueryListener`. */
final class Progress extends StreamingQueryListener {
  private val q = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    q.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def all: Seq[StreamingQueryProgress] = q.asScala.toSeq
}

/** Listeners of one traced run. */
final class Listeners(spark: SparkSession) {
  val counters = new Counters
  val progress = new Progress
  spark.sparkContext.addSparkListener(counters)
  spark.streams.addListener(progress)

  /** Wait until every posted event has been seen. */
  def drain(): Unit = ListenerDrain(spark.sparkContext)

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(counters)
    spark.streams.removeListener(progress)
  }
}

object Codegen {
  /** (compiles, compile seconds) so far in this JVM. Spark keeps compile
    * times in a sampled histogram, so seconds are count x sample mean. */
  def read(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val n = h.getCount
    (n, n * h.getSnapshot.getMean / 1000.0)
  }
}
