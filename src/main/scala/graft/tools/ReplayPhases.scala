package graft.tools

import graft.{GraftSession, SparkEntry, Tables, TempDirs}
import graft.operators.{Sessions, StreamingQueries}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

/** Diagnostic main: attribute the s-family replay constant into
  * phases, per row, so the remaining cost is either shavable or
  * provably Spark-machinery floor.
  *
  * Every selected row runs once to warm the session (replay dirs built,
  * codegen cached) before any row is measured, and the list is then
  * measured [[MeasuredRuns]] times over in interleaved rounds, so a
  * drift over the session reaches every row alike; a row's `wall`
  * is reported as min and median, every other column as its median
  * over those runs:
  *   wall     — harness wall time for the whole queries() call
  *   life     — Σ per-streaming-query (terminated − started)
  *   trig     — Σ per-batch triggerExecution (the time the stream was
  *              actually executing micro-batches)
  *   startup  — Σ (first-batch start − query start): stream planning,
  *              source init, checkpoint dir creation
  *   outside  — wall − life: harness work outside any stream (replay
  *              dir reuse, memory-sink drain, batch-twin joins,
  *              checkpoint scratch setup/teardown)
  *   idle+stop = life − trig − startup: trigger scheduling gaps and
  *              stop() teardown
  *   jobs, stages — Spark jobs started and stages submitted inside
  *              micro-batches (tagged with the batch id), in all and per
  *              batch: a relation used twice in a batch without a
  *              persist shows up as its stages run twice
  *
  * Also measures NOOP scaffold rows — a 3-file replay through the same
  * maxFilesPerTrigger=1 / memory-sink / scratch-checkpoint shape with
  * (a) an identity projection and (b) a stateful groupBy count — whose
  * wall is the irreducible per-replay session constant that bounds any
  * future shave: 25 × noop is the floor of the whole family.
  */
object ReplayPhases {

  /** Measured runs per row, after the one warm-up pass over the list. */
  private final val MeasuredRuns = 3

  /** The local property Spark sets on every job of a micro-batch. */
  private final val BatchIdKey = "streaming.sql.batchId"

  /** One measured run of a row; times in seconds. */
  private final case class Run(wall: Double, life: Double, trig: Double,
      startup: Double, batches: Double, queries: Double, jobs: Double,
      stages: Double, addBatch: Double, walCommit: Double, planning: Double)

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private class Phases {
    val qStart = new ConcurrentHashMap[java.util.UUID, Long]()
    val qFirstBatch = new ConcurrentHashMap[java.util.UUID, Long]()
    @volatile var life = 0L
    @volatile var trig = 0L
    @volatile var addBatch = 0L
    @volatile var walCommit = 0L
    @volatile var planning = 0L
    @volatile var batches = 0
    @volatile var queries = 0
    @volatile var startup = 0L
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    def reset(): Unit = {
      qStart.clear(); qFirstBatch.clear()
      life = 0; trig = 0; addBatch = 0; walCommit = 0; planning = 0
      batches = 0; queries = 0; startup = 0; jobs.set(0); stages.set(0)
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.start()

    val ph = new Phases
    spark.streams.addListener(new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = {
        ph.qStart.put(e.runId, System.nanoTime()); ph.queries += 1
      }
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        ph.qFirstBatch.putIfAbsent(p.runId, System.nanoTime() -
          p.durationMs.getOrDefault("triggerExecution", 0L) * 1000000L)
        ph.batches += 1
        ph.trig += p.durationMs.getOrDefault("triggerExecution", 0L)
        ph.addBatch += p.durationMs.getOrDefault("addBatch", 0L)
        ph.walCommit += p.durationMs.getOrDefault("walCommit", 0L) +
          p.durationMs.getOrDefault("commitOffsets", 0L)
        ph.planning += p.durationMs.getOrDefault("queryPlanning", 0L)
      }
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = {
        Option(ph.qStart.get(e.runId): java.lang.Long).foreach { t0 =>
          ph.life += (System.nanoTime() - t0.longValue) / 1000000L
          Option(ph.qFirstBatch.get(e.runId): java.lang.Long).foreach { fb =>
            ph.startup += math.max(0L, (fb.longValue - t0.longValue) / 1000000L)
          }
        }
      }
    })

    def inBatch(props: java.util.Properties): Boolean =
      props != null && props.getProperty(BatchIdKey) != null
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (inBatch(e.properties)) ph.jobs.incrementAndGet()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (inBatch(e.properties)) ph.stages.incrementAndGet()
    })

    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = sys.env.get("SPARK_GRAFT_PROBE_ONLY")
      .map(_.split(",").map(_.trim).toSeq)
      .getOrElse(SparkEntry.queries.keys.filter(_.startsWith("s")).toSeq.sorted)

    names.distinct.foreach(n => SparkEntry.queries(n)(spark, d).count())
    println("row wall_min_s wall_med_s life_s trig_s startup_s outside_s " +
      "idlestop_s batches queries jobs stages jobs_per_batch stages_per_batch " +
      "addBatch_s walCommit_s planning_s")
    def measure(n: String): Run = {
      Thread.sleep(300)
      ph.reset()
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, d).count()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(400) // let async terminated and listener events land
      Run(wall, ph.life / 1e3, ph.trig / 1e3, ph.startup / 1e3, ph.batches,
        ph.queries, ph.jobs.get, ph.stages.get, ph.addBatch / 1e3,
        ph.walCommit / 1e3, ph.planning / 1e3)
    }
    val rounds = Seq.fill(MeasuredRuns)(names.map(measure))
    var tw, tl, tt, tsu, tout = 0.0
    for ((n, i) <- names.zipWithIndex) {
      val runs = rounds.map(_(i))
      def med(f: Run => Double): Double = median(runs.map(f))
      val wall = med(_.wall); val life = med(_.life); val trig = med(_.trig)
      val su = med(_.startup); val outside = med(r => r.wall - r.life)
      val idleStop = med(r => r.life - r.trig - r.startup)
      val batches = med(_.batches); val jobs = med(_.jobs); val stages = med(_.stages)
      def perBatch(x: Double) = if (batches > 0) x / batches else 0.0
      println(f"$n ${runs.map(_.wall).min}%.2f $wall%.2f $life%.2f $trig%.2f " +
        f"$su%.2f $outside%.2f $idleStop%.2f ${batches.toInt} " +
        f"${med(_.queries).toInt} ${jobs.toInt} ${stages.toInt} " +
        f"${perBatch(jobs)}%.1f ${perBatch(stages)}%.1f ${med(_.addBatch)}%.2f " +
        f"${med(_.walCommit)}%.2f ${med(_.planning)}%.2f")
      tw += wall; tl += life; tt += trig; tsu += su; tout += outside
    }
    println(f"TOTAL (medians) wall=$tw%.1f life=$tl%.1f trig=$tt%.1f " +
      f"startup=$tsu%.1f outside=$tout%.1f")

    // ---- irreducible scaffold: noop replays through the same shape
    import spark.implicits._
    val dir = StreamingQueries.replayFixture(spark, "noop")(
      (0 until 3).map(n => Seq.tabulate(10)(i => (n * 10 + i).toLong).toDF("v")))
    val schema = Tables.schemaOf(spark, dir.getAbsolutePath)
    def noop(stateful: Boolean): Double = Sessions.withConfs(spark,
        StreamingQueries.replayConfs(StreamingQueries.ReplayPartitions): _*) {
      val ckpt = TempDirs.scratchDir("graft_noop_ck_")
      val t0 = System.nanoTime()
      val src = StreamingQueries.replayStream(spark, dir, 1, Some(schema))
      val df = if (stateful) src.groupBy(pmod(col("v"), lit(4))).count()
        else src.select(col("v") + 1)
      val qn = "noop_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val q = df.writeStream.format("memory").queryName(qn)
        .outputMode(if (stateful) "update" else "append")
        .option("checkpointLocation", ckpt.getAbsolutePath).start()
      q.processAllAvailable(); q.stop()
      spark.table(qn).collect()
      spark.catalog.dropTempView(qn)
      val w = (System.nanoTime() - t0) / 1e9
      TempDirs.deleteRecursively(ckpt)
      w
    }
    noop(stateful = false) // warm the streaming machinery path
    for (k <- 1 to 3)
      println(f"NOOP stateless run$k = ${noop(stateful = false)}%.2f s")
    for (k <- 1 to 3)
      println(f"NOOP stateful  run$k = ${noop(stateful = true)}%.2f s")
    spark.stop()
  }
}
