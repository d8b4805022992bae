package perfbench

import java.io.{BufferedOutputStream, DataOutputStream, FileOutputStream, PrintWriter}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Little-endian float64 arrays, read back with `numpy.fromfile`. */
object Binary {
  def writeDoubles(path: String, xs: Array[Double]): Unit = {
    val buf = ByteBuffer.allocate(8 * xs.length).order(ByteOrder.LITTLE_ENDIAN)
    xs.foreach(buf.putDouble)
    val out = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(path)))
    try out.write(buf.array()) finally out.close()
  }
}

/** One benchmark run inside one JVM; `perfbench/run.py` starts it,
  * checks its outputs and turns its raw samples into metrics.
  *
  * {{{
  * Main --workload query_suite|alert_stream --seed N
  *      --seconds S --trace 0|1 --cores C --data DIR --work DIR
  * }}}
  * Writes `result.json` (and, with tracing, `spans.jsonl`) to the work
  * directory.
  */
object Main {
  private val json = JsonMapper.builder().addModule(DefaultScalaModule).build()

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toInt
    val trace = args("trace") == "1"
    val cores = args("cores").toInt
    val work = args("work")
    val tracer = new Tracer(trace)
    Tracer.global = tracer

    val localDir = s"$work/local"
    Files.createDirectories(Paths.get(localDir))
    val spark = tracer.span("session.start")(Session.start(cores, localDir))
    val readyMs = System.currentTimeMillis().toDouble
    val listeners = if (trace) Some(new Listeners(spark)) else None
    val (cg0, cgs0) = Codegen.read()
    val gc0 = gcMs
    val w0 = System.nanoTime()
    val out = workload match {
      case "query_suite" =>
        QuerySuite.run(spark, args("data"), s"$work/results", tracer, seconds)
      case "alert_stream" =>
        AlertStream.run(spark, seed, seconds, work, tracer)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val wallS = (System.nanoTime() - w0) / 1e9
    listeners.foreach(_.drain())
    val (cg1, cgs1) = Codegen.read()
    val layers: Map[String, Any] = listeners.map { l =>
      Map(
        "counters" -> l.counters.snapshot(),
        "progress" -> l.progress.all.map(progressOf),
        "codegen_compiles" -> (cg1 - cg0),
        "codegen_s" -> (cgs1 - cgs0))
    }.getOrElse(Map.empty)
    listeners.foreach(_.detach())

    if (trace) {
      val spans = tracer.all
      val pw = new PrintWriter(s"$work/spans.jsonl")
      try spans.foreach { s =>
        pw.println(json.writeValueAsString(Map("id" -> s.id, "parent" -> s.parent,
          "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
      } finally pw.close()
    }
    val result = out ++ layers ++ Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "cores" -> cores,
      "confs" -> Session.confs(cores, localDir).toMap,
      "oracle_sql" -> graft.SparkEntry.oracleSql, "suite" -> QuerySuite.Suite,
      "session_ready_ms" -> readyMs, "workload_wall_s" -> wallS,
      "gc_s" -> (gcMs - gc0) / 1e3,
      "span_summary" -> (if (trace) Tracer.summary(tracer.all) else Map.empty))
    Files.writeString(Paths.get(s"$work/result.json"), json.writeValueAsString(result))
    spark.stop()
  }

  private def gcMs: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum

  private def progressOf(p: org.apache.spark.sql.streaming.StreamingQueryProgress)
      : Map[String, Any] = {
    val src = p.sources.headOption
    val st = p.stateOperators.headOption
    Map(
      "query_id" -> p.id.toString, "batch" -> p.batchId,
      "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
      "input_rows" -> p.numInputRows,
      "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      "start_offset" -> src.map(_.startOffset).orNull,
      "end_offset" -> src.map(_.endOffset).orNull,
      "state" -> st.map(s => Map(
        "rows_total" -> s.numRowsTotal, "rows_updated" -> s.numRowsUpdated,
        "rows_removed" -> s.numRowsRemoved, "update_ms" -> s.allUpdatesTimeMs,
        "removal_ms" -> s.allRemovalsTimeMs, "commit_ms" -> s.commitTimeMs,
        "memory_bytes" -> s.memoryUsedBytes)).orNull)
  }
}
