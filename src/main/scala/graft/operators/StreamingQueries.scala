package graft.operators

import graft.TempDirs
import graft.streaming._
import java.io.File
import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.StructType

/** Streaming operators exposed through the driver contract by REPLAYING
  * the events fixture through real Structured Streaming machinery:
  * readStream file sources (the events parquet plus tiny sentinel
  * parquet files whose far-future timestamps push the watermark past
  * every deadline/window so timers fire and windows finalize) ->
  * stateful operators -> memory sink. Nothing is collected to the
  * driver except the memory-sink drain itself; the fixture streams
  * through executors exactly as a Kafka-source deployment would
  * (sources.KafkaIO.reader is the drop-in production swap).
  *
  * s01/s02 are oracle-checked: the streaming answer must hash-match the
  * equivalent batch SQL over the same fixture, which pins down the
  * stateful semantics (watermark, timers, out-of-order handling), not
  * just "it produced rows".
  */
object StreamingQueries {

  private def carrierSql: String =
    "['verizon', 'att', 't-mobile'][CAST(user_id % 3 + 1 AS INT)]"

  /** The events fixture as a streaming Dataset[MessageStatus]: a real
    * readStream file source over the events parquet, the same ts
    * normalization as [[graft.Tables.events]] — both ride
    * [[graft.Tables.eventsPath]], so no session conf is mutated here
    * and the batch/streaming paths cannot drift in encoding. No driver
    * collect — rows stream through executors. */
  private def eventsStream(s: SparkSession, d: String): Dataset[MessageStatus] =
    messageStatusOf(rawEventsStream(s, d))

  /** The raw events rows as a stream, read from the cached multi-file
    * split of the fixture ([[eventsSplitDir]]) rather than the raw
    * single-file layout: parquet row groups are larger than the fixture,
    * so a one-file source pins the whole data batch's scan+shuffle-write
    * on ONE core — with no trigger cap all split files still arrive in
    * the same micro-batch (identical rows, identical batching, the scan
    * is just N tasks wide). */
  private def rawEventsStream(s: SparkSession, d: String): DataFrame = {
    val path = eventsSplitDir(s, d, 8).getAbsolutePath
    s.readStream.schema(graft.Tables.schemaOf(s, path)).parquet(path)
  }

  /** [[eventsStream]] followed by the two sentinel micro-batches. */
  private def replayEvents(s: SparkSession, d: String): Dataset[MessageStatus] =
    eventsStream(s, d).unionByName(sentinelStream(s))

  /** The events→MessageStatus mapping, shared by every replay source
    * (single-file, and s10's multi-file split) so the projection cannot
    * drift between them. */
  private def messageStatusOf(raw: DataFrame): Dataset[MessageStatus] = {
    import raw.sparkSession.implicits._
    graft.Tables.normalizeEventTs(raw)
      .selectExpr(
        "cast(user_id as string) AS messageId",
        "CASE WHEN event_type = 'purchase' THEN 'delivered' ELSE 'sent' END AS status",
        "user_id AS phoneNumber",
        "element_at(array('verizon', 'att', 't-mobile'), cast(user_id % 3 + 1 as int)) AS carrier",
        "unix_millis(ts) AS timestamp")
      .as[MessageStatus]
  }

  private lazy val MessageStatusSchema = Encoders.product[MessageStatus].schema

  /** Sentinel timestamps: fixed instants far past any fixture event
    * (2100-01-01 and +1d). Constants — not a max(ts) scan — because the
    * only requirement is "after every deadline/window end", and fixture
    * events live decades earlier; this keeps the replay free of an extra
    * pass over the data. */
  private[operators] val Sentinel1Ms = 4102444800000L
  private[operators] val Sentinel2Ms = Sentinel1Ms + 86400000L

  /** The sentinel rows as two one-row micro-batches to replay AFTER the
    * fixture: the first advances the watermark past every
    * deadline/window, the second is the data batch in which the
    * timers/eviction fire. The rows are constants, so one fixture per
    * application serves every replay (s01 + s02, and every bench
    * iteration) instead of a write job each. */
  private def sentinelStream(s: SparkSession): Dataset[MessageStatus] = {
    import s.implicits._
    val dir = replayFixture(s, "sentinel")(Seq(Sentinel1Ms, Sentinel2Ms)
      .map(ms => Seq(MessageStatus("sentinel", "delivered", 0L, "none", ms)).toDF()))
    replayStream(s, dir, 1, Some(MessageStatusSchema)).as[MessageStatus]
  }

  /** The replay fixture for `key`, built on first use by
    * [[TempDirs.derived]]: batch i is written as ONE parquet file,
    * named in batch order with strictly ascending mtimes, so a
    * `maxFilesPerTrigger = 1` source ([[replayStream]]) delivers file
    * i as micro-batch i. A replay thus pins which micro-batch every row
    * rides — the invariant that lets a batch twin serve as its oracle.
    * An empty batch still yields its (row-less) file, so the degenerate
    * sweep replays the same number of batches. */
  private[graft] def replayFixture(s: SparkSession, key: String)(
      batches: => Seq[DataFrame]): File =
    TempDirs.derived(s, key) { dir =>
      val t0 = System.currentTimeMillis()
      batches.zipWithIndex.foreach { case (df, i) =>
        val stage = new File(dir, s"stage$i")
        df.coalesce(1).write.parquet(stage.getAbsolutePath)
        val part = stage.listFiles().filter(_.getName.endsWith(".parquet")).head
        val dest = new File(dir, f"b$i%02d.parquet")
        Files.move(part.toPath, dest.toPath)
        dest.setLastModified(t0 + i * 60000L)
        TempDirs.deleteRecursively(stage)
      }
    }

  /** A file-source stream over a replay fixture, `perTrigger` files per
    * micro-batch; the schema is read from the files unless given. */
  private[graft] def replayStream(s: SparkSession, dir: File, perTrigger: Int,
      schema: Option[StructType] = None): DataFrame = {
    val path = dir.getAbsolutePath
    s.readStream.schema(schema.getOrElse(graft.Tables.schemaOf(s, path)))
      .option("maxFilesPerTrigger", perTrigger.toString).parquet(path)
  }

  /** Shuffle-partition count of a replay: the stateful shuffle inherits
    * it as its state-partition count, and the replay keys are few, so 8
    * partitions cut per-partition state-store commit overhead without
    * losing parallelism (re-A/B'd at 8/4/2: 8 stands). A replay whose
    * per-batch work scales with the DATA (s17's batch×corpus candidate
    * joins) passes its own count to [[runReplay]], since this one would
    * sort-spill at rehearsal scale; partition count never changes a
    * result. */
  private[graft] val ReplayPartitions = 8

  /** The replay conf window, with `parts` shuffle partitions. */
  private[graft] def replayConfs(parts: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> parts.toString,
    // AQE off (results never depend on it): under AQE every exchange
    // materializes as its OWN Spark job, and the foreachBatch replays
    // (s19/s20/s24: LSH pipelines + bucket-store reads + upsert writes
    // per micro-batch) were measured at 13-34 jobs per batch — per-stage
    // job overhead on tiny per-batch data, with nothing for AQE to
    // re-plan at the fixed replay partition count.
    // (Whole-stage codegen stays ON: streaming plans do generate
    // per-run-novel fused sources — probe measured 12–35 Janino
    // compiles per WARM replay, codegen-cache size irrelevant — but a
    // min-of-5 same-session A/B showed fusion WINS anyway: 1.30/1.60/
    // 2.73/3.62 s with WSCG vs 1.46/1.85/3.26/4.05 s without, on
    // s01/s15/s19/s24. The un-fused fallback trades one big compile
    // for many small ones plus slower per-operator execution.)
    "spark.sql.adaptive.enabled" -> "false",
    // Checkpoint-file checksums off (Spark 4's
    // ChecksumCheckpointFileManager funnels every offset/commit/state
    // delta file through a checksum executor and close() AWAITS the
    // future — jstack sampling showed replay tasks parked in
    // ChecksumCancellableFSDataOutputStream.close more than anywhere
    // else). The replays write scratch checkpoints that are deleted at
    // stop; integrity re-verification buys nothing there. Durable
    // production checkpoints choose their own setting.
    "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false",
    // No-data micro-batches off. They only matter for timers/eviction
    // that fire AFTER the last data batch; every replay's last batch is
    // itself a data batch that fires everything real, so a trailing
    // no-data batch would only GC the sentinel's own state (~0.3-0.5 s
    // of per-query-run overhead for zero output — two such batches
    // showed up in s11's restarted-consumer leg alone).
    "spark.sql.streaming.noDataMicroBatches.enabled" -> "false")

  /** One replay's scratch: its checkpoint and any named state dirs, all
    * under one root that [[runReplay]] deletes on every exit. */
  private final class Scratch(val root: File) {
    def file(name: String): File = {
      val f = new File(root, name); f.mkdirs(); f
    }
    // the sinks address state through the Hadoop FileSystem API — this
    // scratch dir could equally be an hdfs:// or s3a:// URI
    def path(name: String): Path = new Path(file(name).getAbsolutePath)
  }

  /** Run one replay to completion — the lifecycle every replay shares:
    *  - a fresh [[Scratch]] (the checkpoint plus any state dirs `query`
    *    names);
    *  - the replay conf window ([[replayConfs]] at `parts`, plus
    *    `confs`);
    *  - the query `query` builds is started on the scratch checkpoint,
    *    drained with processAllAvailable and stopped; `result` then
    *    reads what it left, still inside the window;
    *  - on every exit, the run's state-store providers are released now
    *    instead of at the 60s maintenance cycle (repeated replays
    *    otherwise stack providers — RocksDB native handles, HDFS map
    *    caches — and each replay runs slower than the last), and the
    *    scratch is deleted.
    * A relation `result` returns must not scan the scratch: persist it
    * under a [[keptDir]] first. */
  private def runReplay[T](s: SparkSession, parts: Int = ReplayPartitions,
      confs: Seq[(String, String)] = Nil)(
      query: Scratch => DataStreamWriter[Row])(result: Scratch => T): T = {
    val sc = new Scratch(TempDirs.scratchDir("graft_replay_"))
    try Sessions.withConfs(s, replayConfs(parts) ++ confs: _*) {
      val q = query(sc)
        .option("checkpointLocation", sc.file("ckpt").getAbsolutePath).start()
      try q.processAllAvailable() finally q.stop()
      result(sc)
    } finally {
      org.apache.spark.sql.graft.Bridge.unloadAllStateStores()
      TempDirs.deleteRecursively(sc.root)
    }
  }

  /** Run a streaming DataFrame to completion into a memory sink and
    * return its contents as a local batch DataFrame. The collect here is
    * the memory-sink drain — the only driver materialization in the
    * replay path. */
  private def runToSink(s: SparkSession, df: DataFrame, outputMode: String,
      confs: (String, String)*): DataFrame = {
    val qn = "replay_" + java.util.UUID.randomUUID().toString.replace("-", "")
    runReplay(s, confs = confs)(_ =>
      df.writeStream.format("memory").queryName(qn).outputMode(outputMode)) { _ =>
      // materialize and DROP the sink: repeated replays (Bench runs every
      // query several times) otherwise accumulate memory-sink tables and
      // degrade the whole session
      val out = s.table(qn)
      val rows = out.collect()
      val schema = out.schema
      s.catalog.dropTempView(qn)
      s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    }
  }

  /** A replay output dir that outlives the run's scratch (the returned
    * relation scans it), removed at JVM exit — the harness stays
    * driver-bounded at any output size, no collect. */
  private def keptDir(): File = TempDirs.deleteOnExit(TempDirs.scratchDir("graft_replay_out_"))

  /** Provider window of the `transformWithState` replays (RocksDB state
    * store); the rest stay on the default HDFS-backed provider, so the
    * replays exercise both stores. */
  private val RocksDbProvider = "spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Typed empty relation — the correct stand-in for an upsert table no
    * batch ever wrote (empty corpus in the degenerate sweep). */
  private def emptyRelation(s: SparkSession,
      fields: (String, org.apache.spark.sql.types.DataType)*): DataFrame =
    s.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(fields.map { case (n, t) =>
        org.apache.spark.sql.types.StructField(n, t) }))

  /** s01 — the E1 detector replayed over the fixture. Timeout = 24h
    * (same knob as Q15). */
  def s01(s: SparkSession, d: String): DataFrame =
    detectorReplay(s, d, UndeliveredDetector.alerts(_, _))

  /** One replay body for both detector builds: `detector` over the
    * fixture replay, run to completion under `confs`. */
  private def detectorReplay(s: SparkSession, d: String,
      detector: (Dataset[MessageStatus], Long) => Dataset[UndeliveredAlert],
      confs: (String, String)*): DataFrame =
    runToSink(s, detector(replayEvents(s, d), Relational.TimeoutMs).toDF(),
        "append", confs: _*)
      .filter(col("messageId") =!= "sentinel")

  val s01Sql: String =
    s"""SELECT CAST(user_id AS VARCHAR) AS messageId,
       |  user_id AS phoneNumber,
       |  $carrierSql AS carrier,
       |  first_sent AS sentTime,
       |  first_sent + ${Relational.TimeoutMs} AS deadline
       |FROM (
       |  SELECT user_id,
       |    epoch_ms(min(ts) FILTER (WHERE event_type <> 'purchase')) AS first_sent,
       |    epoch_ms(min(ts) FILTER (WHERE event_type = 'purchase')) AS first_delivered
       |  FROM events GROUP BY user_id)
       |WHERE first_sent IS NOT NULL
       |  AND (first_delivered IS NULL
       |       OR first_delivered > first_sent + ${Relational.TimeoutMs})""".stripMargin

  /** s01_tws — the SAME E1 detector semantics on the Spark-4-native
    * `transformWithState` build ([[TwsDetector]], RocksDB state store):
    * oracle-checked against the identical batch SQL as s01 and benched
    * alongside it, so the forward path has both a correctness and a
    * perf record, not just a unit test. The provider conf is set for
    * this query and restored after (s01 stays on the default
    * HDFS-backed provider — the two detectors exercise both stores). */
  def s01Tws(s: SparkSession, d: String): DataFrame =
    detectorReplay(s, d, TwsDetector.alerts(_, _), RocksDbProvider)

  /** s02 — the E2 windowed monitoring view as a real FILE-SOURCE
    * streaming query in APPEND mode: each (window, carrier, status)
    * count is emitted exactly once, when the watermark passes the window
    * end, and its state row is evicted — state stays bounded by the
    * in-flight window span no matter how long the stream runs (complete
    * mode would retain and re-emit every window forever). The sentinel
    * rows push the watermark past the fixture's last window so every
    * window finalizes; their own never-finalized rows are filtered by
    * carrier. The production swap is the Kafka source
    * (sources.KafkaIO.reader) — the plan downstream of the source is
    * identical. */
  def s02(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val stream = replayEvents(s, d)
    runToSink(s, WindowedCounts.byCarrier(stream, "1 hour", "2 minutes"),
      "append")
      .filter(col("carrier") =!= "none")
  }

  val s02Sql: String =
    s"""SELECT date_trunc('hour', ts) AS win_start,
       |  $carrierSql AS carrier,
       |  CASE WHEN event_type = 'purchase' THEN 'delivered' ELSE 'sent' END AS status,
       |  count(*) AS cnt
       |FROM events GROUP BY 1, 2, 3""".stripMargin

  /** s04 — streaming exact dedup (the reference's B11 dedup-by-key
    * guard as a STREAM): the first occurrence of each (messageId,
    * status) passes, repeats are suppressed, and
    * `dropDuplicatesWithinWatermark` evicts key state once the
    * watermark passes it — state is bounded by the watermark horizon
    * no matter how long the stream runs (plain streaming
    * dropDuplicates would retain every key forever). The oracle is the
    * batch DISTINCT twin; the replay matches it because the events
    * fixture arrives as ONE file = one micro-batch (keys whose repeats
    * span more than the watermark horizon ACROSS batches would
    * re-emit — that horizon/exactness trade is the operator's
    * documented semantics, not a replay artifact). */
  def s04(s: SparkSession, d: String): DataFrame = {
    val stream = replayEvents(s, d)
    val deduped = stream.toDF()
      .withColumn("eventTime", timestamp_millis(col("timestamp")))
      .withWatermark("eventTime", "1 minute")
      .dropDuplicatesWithinWatermark("messageId", "status")
      .select(col("messageId"), col("status"))
    runToSink(s, deduped, "append")
      .filter(col("messageId") =!= "sentinel")
  }

  val s04Sql: String =
    """SELECT DISTINCT CAST(user_id AS VARCHAR) AS messageId,
      |  CASE WHEN event_type = 'purchase' THEN 'delivered' ELSE 'sent' END AS status
      |FROM events""".stripMargin

  /** s05 — STREAM-STREAM interval join: every sent event joined to the
    * same key's delivered events within `JoinBoundMs`, emitting the
    * delivery lag — the "match request to response" join every event
    * pipeline runs, and the one stateful operator class the rest of the
    * streaming surface doesn't exercise. Both sides carry watermarks
    * and the join predicate bounds delivered-time to a closed interval
    * after sent-time, so Spark derives state-eviction watermarks for
    * BOTH join buffers: state is bounded by the interval span no matter
    * how long the stream runs (an unconstrained stream-stream join
    * would buffer each side forever). The oracle is the identical batch
    * interval join. */
  private[operators] val JoinBoundMs = 2 * 60 * 60 * 1000L

  def s05(s: SparkSession, d: String): DataFrame = deliveryJoin(s, d, "inner")

  /** The one body of s05 and s08: sent events interval-joined to the
    * same key's deliveries within `JoinBoundMs`, as `joinType`.
    *
    * Watermark subtlety the inner join is insensitive to: each side's
    * watermark node only sees rows passing its upstream filter, and
    * s08's null emission waits on the GLOBAL (min) watermark — so the
    * sentinel rows pass BOTH side filters, or the sent-side watermark
    * would idle at the fixture's last event and the unmatched rows near
    * the end of the fixture would never emit. The sentinels' own
    * matches are dropped with the rest of their rows. */
  private def deliveryJoin(s: SparkSession, d: String, joinType: String): DataFrame = {
    val base = replayEvents(s, d)
      .toDF()
      .withColumn("eventTime", timestamp_millis(col("timestamp")))
    val sent = base.filter(col("status") === "sent" || col("messageId") === "sentinel")
      .select(col("messageId"), col("eventTime").as("sentTime"))
      .withWatermark("sentTime", "1 minute")
    val dlv = base.filter(col("status") === "delivered")
      .select(col("messageId").as("d_id"), col("eventTime").as("dlvTime"))
      .withWatermark("dlvTime", "1 minute")
    val joined = AsOf.intervalJoin(sent, dlv, "messageId", "d_id",
        "sentTime", "dlvTime", JoinBoundMs, joinType)
      .select(col("messageId"),
        unix_millis(col("sentTime")).as("sentMs"),
        unix_millis(col("dlvTime")).as("deliveredMs"),
        (unix_millis(col("dlvTime")) - unix_millis(col("sentTime")))
          .as("lag_ms"))
    runToSink(s, joined, "append")
      .filter(col("messageId") =!= "sentinel")
  }

  // The join predicate compares epoch-MS (the stream's event-time
  // resolution after the nanos->ms mapping), not raw ns timestamps — a
  // pair landing inside the sub-millisecond boundary window must round
  // the same way in both engines.
  val s05Sql: String =
    s"""SELECT CAST(e1.user_id AS VARCHAR) AS messageId,
       |  epoch_ms(e1.ts) AS sentMs,
       |  epoch_ms(e2.ts) AS deliveredMs,
       |  epoch_ms(e2.ts) - epoch_ms(e1.ts) AS lag_ms
       |FROM events e1 JOIN events e2 ON e1.user_id = e2.user_id
       |  AND e1.event_type <> 'purchase' AND e2.event_type = 'purchase'
       |  AND epoch_ms(e2.ts) >= epoch_ms(e1.ts)
       |  AND epoch_ms(e2.ts) - epoch_ms(e1.ts) <= $JoinBoundMs""".stripMargin

  /** s08 — stream-stream LEFT OUTER interval join: s05's join, but a
    * sent event with NO delivery inside `JoinBoundMs` is emitted ONCE
    * with nulls on the delivery side — when the watermark passes
    * `sentTime + bound` and the match is provably impossible. This is
    * the reference's undelivered-timeout alert (E1) re-expressed as a
    * join instead of custom keyed state: the null-side rows ARE the
    * alerts. State stays bounded exactly as in s05 (both buffers evict
    * at the watermark); the only new machinery is the
    * watermark-triggered null emission that inner joins never need
    * (see [[deliveryJoin]] for why the sentinels pass both sides). */
  def s08(s: SparkSession, d: String): DataFrame = deliveryJoin(s, d, "left_outer")

  /** The left filter (`event_type <> 'purchase'`) lives in WHERE, not
    * the ON clause — in a left join an ON-side left predicate would
    * keep the filtered rows and null their match instead of dropping
    * them. */
  val s08Sql: String =
    s"""SELECT CAST(e1.user_id AS VARCHAR) AS messageId,
       |  epoch_ms(e1.ts) AS sentMs,
       |  epoch_ms(e2.ts) AS deliveredMs,
       |  epoch_ms(e2.ts) - epoch_ms(e1.ts) AS lag_ms
       |FROM events e1 LEFT JOIN events e2 ON e1.user_id = e2.user_id
       |  AND e2.event_type = 'purchase'
       |  AND epoch_ms(e2.ts) >= epoch_ms(e1.ts)
       |  AND epoch_ms(e2.ts) - epoch_ms(e1.ts) <= $JoinBoundMs
       |WHERE e1.event_type <> 'purchase'""".stripMargin

  /** s06 — stream-STATIC enrichment join: the event stream joined to
    * the static customer dimension and aggregated per market segment.
    * The dimension side is broadcast — the stream itself never
    * shuffles for the join, and the join keeps NO stream state (unlike
    * s05's two buffers); the only state is the 5-row segment aggregate,
    * emitted as a complete-mode snapshot. This is the "enrich events
    * with a reference table" pattern every deployment runs; at scale
    * the static side refreshes per micro-batch from its source, and a
    * too-big dimension falls back to a shuffled stream-static join with
    * the same plan contract. */
  def s06(s: SparkSession, d: String): DataFrame = {
    val cust = broadcast(graft.Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment")))
    val agg = eventsStream(s, d).toDF()
      .filter(col("status") === "sent")
      .join(cust, col("phoneNumber") === col("c_custkey"))
      .groupBy("c_mktsegment").agg(count(lit(1)).as("sent_events"))
    runToSink(s, agg, "complete")
  }

  val s06Sql: String =
    """SELECT c_mktsegment, count(*) AS sent_events
      |FROM events e JOIN customer c ON e.user_id = c.c_custkey
      |WHERE e.event_type <> 'purchase'
      |GROUP BY c_mktsegment""".stripMargin

  /** s07 — streaming SESSION windows: per-key sessions that close when
    * `SessionGapMs` passes with no event, emitted in append mode once
    * the watermark passes each session's end and evicted — the
    * merging-window state class (s02 covers fixed tumbling windows;
    * q20 is the batch islands-and-gaps twin of this shape). Session
    * semantics pinned by the oracle: an event exactly `gap` after its
    * predecessor still MERGES (Spark extends a session whose end
    * touches the new event's start; only a strictly larger silence
    * breaks), and a session's end is its last event + gap. */
  private[operators] val SessionGapMs = 600000L

  def s07(s: SparkSession, d: String): DataFrame = {
    val stream = replayEvents(s, d)
      .toDF()
      .withColumn("eventTime", timestamp_millis(col("timestamp")))
      .withWatermark("eventTime", "2 minutes")
    val agg = stream
      .groupBy(col("messageId"),
        session_window(col("eventTime"), s"${SessionGapMs / 1000} seconds"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("messageId"),
        unix_millis(col("session_window.start")).as("sess_start"),
        unix_millis(col("session_window.end")).as("sess_end"),
        col("n_events"))
    runToSink(s, agg, "append")
      .filter(col("messageId") =!= "sentinel")
  }

  val s07Sql: String =
    s"""WITH e AS (SELECT CAST(user_id AS VARCHAR) AS messageId,
       |    epoch_ms(ts) AS ms FROM events),
       |x AS (SELECT messageId, ms,
       |    CASE WHEN lag(ms) OVER w IS NULL
       |         OR ms - lag(ms) OVER w > $SessionGapMs THEN 1 ELSE 0 END AS brk
       |  FROM e WINDOW w AS (PARTITION BY messageId ORDER BY ms)),
       |g AS (SELECT messageId, ms,
       |    sum(brk) OVER (PARTITION BY messageId ORDER BY ms
       |                   ROWS UNBOUNDED PRECEDING) AS sid
       |  FROM x)
       |SELECT messageId, min(ms) AS sess_start,
       |  max(ms) + $SessionGapMs AS sess_end,
       |  count(*) AS n_events
       |FROM g GROUP BY messageId, sid""".stripMargin

  /** s09 — CHAINED stateful aggregations in one streaming query (the
    * multiple-stateful-operator pipeline Spark supports since 3.4/4.x):
    * hourly counts per carrier, re-aggregated per hour into a total and
    * a carrier-coverage count — the two-level rollup every monitoring
    * view wants, previously impossible without a second query reading
    * the first's sink. The second groupBy windows on
    * `window_time(col("window"))` — window end minus 1ms, the event
    * time Spark assigns a finalized window. window_time (not the raw
    * struct) is what keeps the chain's late-record filter correct: the
    * inner emits window W in the first batch whose eviction watermark
    * passed W.end, and the outer's late filter compares W's event time
    * against the PREVIOUS batch's watermark — `end-1 >= prevWm` always
    * holds exactly when the event time is window_time, while comparing
    * against W.start drops the final window of the stream. The sentinel
    * rows advance the watermark twice (two files = two micro-batches),
    * which is exactly the depth this chain needs.
    *
    * SENTINELS MUST NOT BE FILTERED INSIDE THE STREAMING PLAN: a
    * deterministic pre-agg `filter(carrier =!= "none")` is pushed by
    * Catalyst below the EventTimeWatermark node all the way into the
    * parquet scan, so the sentinel rows vanish before the watermark
    * collector ever sees their timestamps — the watermark then never
    * passes the fixture's last window and the stream silently drops its
    * final result row (observed: sentinel source contributes 0 input
    * rows). Instead the sentinel rows flow through both aggregations as
    * their own year-2100 windows — which the watermark never finalizes,
    * so they stay in state and never reach the sink — and the post-sink
    * batch filter on win_start is belt-and-braces, same pattern as
    * s01/s02's post-sink messageId/carrier filters. */
  def s09(s: SparkSession, d: String): DataFrame = {
    val stream = replayEvents(s, d)
      .toDF()
      .withColumn("eventTime", timestamp_millis(col("timestamp")))
      .withWatermark("eventTime", "2 minutes")
    val perCarrier = stream
      .groupBy(window(col("eventTime"), "1 hour"), col("carrier"))
      .agg(count(lit(1)).as("cnt"))
    val perWindow = perCarrier
      .groupBy(window(window_time(col("window")), "1 hour"))
      .agg(sum(col("cnt")).as("total"), count(lit(1)).as("n_carriers"))
      .select(unix_millis(col("window.start")).as("win_start"),
        col("total"), col("n_carriers"))
    runToSink(s, perWindow, "append")
      .filter(col("win_start") < lit(Sentinel1Ms))
  }

  val s09Sql: String =
    s"""WITH pc AS (
       |  SELECT date_trunc('hour', ts) AS w,
       |    $carrierSql AS carrier, count(*) AS cnt
       |  FROM events GROUP BY 1, 2)
       |SELECT epoch_ms(w) AS win_start,
       |  CAST(sum(cnt) AS BIGINT) AS total,
       |  count(*) AS n_carriers
       |FROM pc GROUP BY w""".stripMargin

  /** The events fixture rewritten as several parquet files (one fixture
    * per app+dir+count), so a maxFilesPerTrigger=2 file source delivers
    * REAL multi-batch input with overlapping keys — the shape an
    * incremental sink must actually handle. */
  private def eventsSplitDir(s: SparkSession, d: String, nFiles: Int): File =
    TempDirs.derived(s, s"split::$d::$nFiles") { dir =>
      graft.Tables.read(s, graft.Tables.eventsPath(s, d)).repartition(nFiles)
        .write.mode("overwrite").parquet(dir.getAbsolutePath)
    }

  /** Run `stream` through a [[BucketedUpsert]] sink — each micro-batch
    * reduced by `reduce`, then MERGEd into the bucketed state by `merge`
    * on `key` — and return a scan of the final table, persisted past the
    * scratch cleanup. Empty corpus: zero data batches wrote zero
    * buckets — the correct table is the EMPTY relation typed like a
    * populated one (degenerate-corpus sweep), not an error. */
  private def upsertTable(s: SparkSession, stream: DataFrame, numBuckets: Int,
      key: String, reduce: DataFrame => DataFrame,
      merge: (DataFrame, DataFrame) => DataFrame, empty: => DataFrame): DataFrame =
    runReplay(s)(sc => stream.writeStream.outputMode("update")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        BucketedUpsert.applyBatch(s, sc.path("state"), numBuckets, batchId,
          reduce(batch), key, merge)
      }) { sc =>
      val resultPath = new File(keptDir(), "state").getAbsolutePath
      val state = BucketedUpsert.currentState(s, sc.path("state"), numBuckets)
        .getOrElse(empty)
      state.write.mode("overwrite").parquet(resultPath)
      s.read.schema(state.schema).parquet(resultPath)
    }

  /** s10 — streaming UPSERT sink via foreachBatch: maintain a
    * latest-status-per-key table in the parquet store from the event
    * stream — the production pattern for serving a current-state view
    * of a stream (the reference's SQLite `messages` table kept current
    * by the consumer; here it is a columnar store kept current by a
    * streaming query). Each micro-batch reduces to its per-key maximum
    * (timestamp, status) pair and MERGEs it into the state via
    * [[BucketedUpsert]]: the state is hash-bucketed on the key, and a
    * batch reads+rewrites ONLY the buckets its keys hash into — per-
    * batch I/O is O(|keys in touched buckets|), not O(|all keys|), the
    * property that keeps batch time flat as the key table grows 100×.
    * Exactly-once across replay is BucketedUpsert's contract (batch N
    * reads strictly-below-N versions, so a replay re-reads what the
    * first attempt read); UpsertRecoverySpec proves it across a hard
    * stop+restart, UpsertBucketSpec proves untouched buckets are
    * byte-identical across a batch.
    *
    * The ordering-sensitive reduction (latest-wins over a
    * lexicographic (ts, status) max) is associative and commutative,
    * so the final table is a pure function of the data no matter how
    * the file source splits batches — the oracle recomputes it in one
    * batch pass. */
  def s10(s: SparkSession, d: String): DataFrame = {
    // 2 files/trigger over the 5-way split = 3 micro-batches with
    // overlapping keys. The contract needs MULTI-batch incrementality
    // (>=2 batches, replay, GC across versions), not one batch per
    // file — per-file triggers bought nothing but two more sink write
    // jobs per replay (round-7 verdict #6).
    val stream = messageStatusOf(replayStream(s, eventsSplitDir(s, d, 5), 2)).toDF()
    // Bucket count is the horizontal-scale knob (a production table
    // uses thousands); the gate only needs >1 so a batch demonstrably
    // touches a SUBSET of buckets. 8 at replay scale halves the leaf
    // write/read tasks per merge batch vs 16 with the contract intact —
    // the oracle never observes the layout.
    upsertTable(s, stream, numBuckets = 8, "messageId",
      _.groupBy("messageId")
        .agg(max(struct(col("timestamp"), col("status"))).as("m"))
        .select(col("messageId"), col("m.timestamp").as("timestamp"),
          col("m.status").as("status")),
      latestWinsMerge,
      emptyRelation(s,
        ("messageId", org.apache.spark.sql.types.StringType),
        ("timestamp", org.apache.spark.sql.types.LongType),
        ("status", org.apache.spark.sql.types.StringType)))
      .select(col("messageId"), col("timestamp").as("ts_ms"), col("status"))
  }

  /** The per-batch reduction s10's sink applies: latest-wins on the
    * lexicographic (timestamp, status) pair. Idempotent (re-applying a
    * batch is a fixed point) and split-insensitive (folding batches in
    * any grouping yields the same table) — the two algebraic facts the
    * exactly-once story and the oracle comparison rest on; both are
    * spec-pinned. */
  private[graft] def latestWinsMerge(target: DataFrame,
      latest: DataFrame): DataFrame = {
    val newer = struct(col("s.timestamp"), col("s.status")) >
      struct(col("t.timestamp"), col("t.status"))
    Merge.merge(target, latest, "messageId", "messageId",
      whenMatched = Map(
        "timestamp" -> when(newer, col("s.timestamp"))
          .otherwise(col("t.timestamp")),
        "status" -> when(newer, col("s.status"))
          .otherwise(col("t.status"))),
      insertValues = Map(
        "messageId" -> col("s.messageId"),
        "timestamp" -> col("s.timestamp"),
        "status" -> col("s.status")))
  }

  val s10Sql: String =
    """WITH e AS (
      |  SELECT CAST(user_id AS VARCHAR) AS messageId,
      |    epoch_ms(ts) AS ts_ms,
      |    CASE WHEN event_type = 'purchase' THEN 'delivered' ELSE 'sent' END AS status
      |  FROM events),
      |mt AS (SELECT messageId, max(ts_ms) AS ts_ms FROM e GROUP BY 1)
      |SELECT e.messageId AS messageId, mt.ts_ms AS ts_ms,
      |  max(e.status) AS status
      |FROM e JOIN mt ON e.messageId = mt.messageId AND e.ts_ms = mt.ts_ms
      |GROUP BY 1, 2""".stripMargin

  /** s03 — the deterministic reference-parity generator (10k message
    * lifecycles => sent/heartbeat/delivered transcript). */
  def s03(s: SparkSession, d: String): DataFrame =
    Generator.batch(s, 10000L)

  val s03Sql: String = Generator.batchSql(10000L)

  /** s11 — the reference's WHOLE declared pipeline as one gated query
    * (undelivered-message-alert/README.md:150-156): producer frames the
    * event stream as Confluent-wire Avro (register-then-use against a
    * schema registry, phone_message_producer.py:327-340) and PRODUCES
    * it into a Kafka-shaped broker through the real DSv2 streaming sink
    * (per-task writers, driver epoch commit); the E1 detector CONSUMES
    * the topic through the DSv2 micro-batch source, is hard-stopped
    * mid-topic, and restarts from its checkpoint before the
    * watermark-advancing sentinels arrive — so the gated answer proves
    * offset recovery and detector-state recovery across the restart,
    * not just the happy path. The broker is [[graft.sources.memkafka]]
    * (the sandbox ships no Kafka connector jar); `format("kafka")` is
    * the one-line production swap on both ends. Oracle = the q15/s01
    * batch twin over the same fixture.
    */
  def s11(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val fmt = classOf[graft.sources.memkafka.MemKafkaProvider].getName
    val topic = "s11_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val registry = new graft.sources.InMemorySchemaRegistry
    val outPath = new File(keptDir(), "alerts").getAbsolutePath
    // Consumer factory: every start resumes from the SAME checkpoint —
    // the restart in the middle of the run is the point of the query.
    def consumer(sc: Scratch) = UndeliveredDetector.alerts(
        graft.sources.KafkaIO.unframeConfluent(
          s.readStream.format(fmt).option("topic", topic).load(), registry),
        Relational.TimeoutMs)
      .writeStream.format("parquet").option("path", outPath)
      .option("checkpointLocation", sc.file("cons").getAbsolutePath)
      .outputMode("append").start()
    // Sentinels go through the SAME Confluent framing as the produced
    // events but are appended to the broker log directly (one batch
    // collect of 1 row each — they are harness machinery, not the
    // produce contract: the gated produce path is the events run's
    // real DSv2 streaming sink with its epochs; a full streaming-query
    // start/stop per 1-row sentinel bought nothing but ~0.5 s each).
    def sentinel(ms: MessageStatus): Unit = {
      val framed = graft.sources.KafkaIO
        .frameConfluent(Seq(ms).toDS(), registry)
        .collect()
        .map(r => (r.getAs[Array[Byte]]("key"), r.getAs[Array[Byte]]("value")))
      graft.sources.memkafka.MemBroker.append(topic, framed.toSeq)
    }
    // The replay's own run is the produce epoch-run: frame the events
    // through the registry flow and drain them into the topic via the
    // real streaming sink; the consumer legs then run on its scratch.
    try runReplay(s)(_ => graft.sources.KafkaIO
        .frameConfluent(eventsStream(s, d), registry)
        .writeStream.format(fmt).option("topic", topic)) { sc =>
      val c1 = consumer(sc)
      c1.processAllAvailable()
      c1.stop() // hard stop mid-topic: offsets + detector state checkpointed
      val c2 = consumer(sc) // SAME checkpoint: must resume, not reconsume
      // sentinel 1 advances the watermark past every deadline; sentinel 2
      // is the data batch in which the timers fire (same two-batch
      // pattern as s01 — no-data micro-batches are not awaited by
      // processAllAvailable, so firing must ride a data batch)
      sentinel(MessageStatus("sentinel", "delivered", 0L, "none", Sentinel1Ms))
      c2.processAllAvailable()
      sentinel(MessageStatus("sentinel", "delivered", 0L, "none", Sentinel2Ms))
      c2.processAllAvailable()
      c2.stop()
      s.read.parquet(outPath)
        .filter(col("messageId") =!= "sentinel")
        .select(col("messageId"), col("phoneNumber"), col("carrier"),
          col("sentTime"), col("deadline"))
    } finally graft.sources.memkafka.MemBroker.clear(topic)
  }

  /** s12 — STREAMING approximate distinct: the x50 HLL sketch running
    * inside Structured Streaming. Per micro-batch, partial sketches are
    * merged into the 64-byte per-carrier state kept by the streaming
    * aggregation's state store (serialize/deserialize round-trips the
    * register array every batch); the replay's three data batches
    * (fixture + two sentinels) force real cross-batch merges, and the
    * sentinel rows land in carrier "none", so the gated carriers'
    * sketches must SURVIVE two further state-store round-trips
    * unchanged. This is the 100 TB shape for "distinct users so far"
    * over an unbounded stream: streaming `count(distinct)` is
    * unsupported (state = every key ever seen), the sketch's state is
    * 64 bytes per group forever. Oracle = the batch twin replaying the
    * identical register arithmetic over the whole fixture ([[Sketches]]
    * x50 documents the portability contract).
    *
    * Output mode: the replay uses `complete` because the memory-sink
    * harness needs the final table of an unwatermarked aggregation; at
    * production group cardinality the scale path is `update` mode (emit
    * only groups whose sketch changed this batch) — the aggregation
    * operator and its state are identical in both modes, only the sink
    * emission policy differs. */
  def s12(s: SparkSession, d: String): DataFrame = {
    import graft.functions.Hll
    val stream = replayEvents(s, d)
    val agg = stream.toDF()
      .groupBy(col("carrier"))
      .agg(Hll.sketch(col("messageId")).as("sk"))
      .select(
        col("carrier"),
        col("sk").getField("z_scaled").as("z_scaled"),
        col("sk").getField("v_empty").as("v_empty"),
        expr(Hll.estMicroSpark("sk.z_scaled", "sk.v_empty")).as("est_micro"))
    runToSink(s, agg, "complete")
      .filter(col("carrier") =!= "none")
  }

  val s12Sql: String =
    s"""WITH m AS (
       |  SELECT $carrierSql AS carrier, CAST(user_id AS VARCHAR) AS mid
       |  FROM events),
       |h AS (
       |  SELECT carrier,
       |    CAST(concat('0x', substr(md5(mid), 1, 15)) AS BIGINT) AS hv
       |  FROM m),
       |r AS (
       |  SELECT carrier, hv % 64 AS j,
       |    max(CASE WHEN hv // 64 = 0 THEN 55
       |             ELSE 55 - length(bin(hv // 64)) END) AS mj
       |  FROM h GROUP BY 1, 2),
       |a AS (
       |  SELECT carrier,
       |    CAST(sum(1::BIGINT << (55 - mj))
       |         + (64 - count(*)) * (1::BIGINT << 55) AS BIGINT) AS z_scaled,
       |    CAST(64 - count(*) AS INT) AS v_empty
       |  FROM r GROUP BY 1)
       |SELECT carrier, z_scaled, v_empty,
       |  ${graft.functions.Hll.estMicroDuck("z_scaled", "v_empty")} AS est_micro
       |FROM a""".stripMargin

  /** s13 — WINDOWED streaming approximate distinct: the s12 sketch
    * crossed with event-time windows + watermark + APPEND mode — the
    * production pattern for streaming cardinality ("distinct users per
    * hour, forever"). Unlike s12's all-time sketch (complete mode,
    * state per group forever), each (window, carrier) sketch lives only
    * until the watermark passes its window: the window emits ONCE with
    * its final registers and its 64-byte state is evicted — total state
    * is 64 B × |open windows × carriers| no matter how long the stream
    * runs. The sentinel batches advance the watermark past every
    * fixture window, so all real windows close and emit during the
    * replay (same mechanics as s02); the sentinels' own windows land in
    * carrier "none" or stay open, and are filtered/withheld. Oracle =
    * the batch twin grouping the identical register arithmetic by
    * (hour, carrier). */
  def s13(s: SparkSession, d: String): DataFrame = {
    import graft.functions.Hll
    val stream = replayEvents(s, d)
    val agg = stream.toDF()
      .withColumn("eventTime", timestamp_millis(col("timestamp")))
      .withWatermark("eventTime", "1 minute")
      .groupBy(window(col("eventTime"), "1 hour"), col("carrier"))
      .agg(Hll.sketch(col("messageId")).as("sk"))
      .select(
        col("window.start").as("win_start"),
        col("carrier"),
        col("sk").getField("z_scaled").as("z_scaled"),
        col("sk").getField("v_empty").as("v_empty"),
        expr(Hll.estMicroSpark("sk.z_scaled", "sk.v_empty")).as("est_micro"))
    runToSink(s, agg, "append")
      .filter(col("carrier") =!= "none")
  }

  val s13Sql: String =
    s"""WITH m AS (
       |  SELECT date_trunc('hour', ts) AS win_start,
       |    $carrierSql AS carrier, CAST(user_id AS VARCHAR) AS mid
       |  FROM events),
       |h AS (
       |  SELECT win_start, carrier,
       |    CAST(concat('0x', substr(md5(mid), 1, 15)) AS BIGINT) AS hv
       |  FROM m),
       |r AS (
       |  SELECT win_start, carrier, hv % 64 AS j,
       |    max(CASE WHEN hv // 64 = 0 THEN 55
       |             ELSE 55 - length(bin(hv // 64)) END) AS mj
       |  FROM h GROUP BY 1, 2, 3),
       |a AS (
       |  SELECT win_start, carrier,
       |    CAST(sum(1::BIGINT << (55 - mj))
       |         + (64 - count(*)) * (1::BIGINT << 55) AS BIGINT) AS z_scaled,
       |    CAST(64 - count(*) AS INT) AS v_empty
       |  FROM r GROUP BY 1, 2)
       |SELECT win_start, carrier, z_scaled, v_empty,
       |  ${graft.functions.Hll.estMicroDuck("z_scaled", "v_empty")} AS est_micro
       |FROM a""".stripMargin

  /** Run `agg` in UPDATE mode through a foreachBatch sink that APPENDS
    * each batch's update rows, tagged with `batch_id`, to a parquet log
    * that outlives the replay, and return the log — every emission the
    * mode ever produced (a memory sink only keeps the final table). */
  private def updateEmissions(s: SparkSession, agg: DataFrame): DataFrame = {
    val emitPath = new File(keptDir(), "emissions").getAbsolutePath
    runReplay(s)(_ => agg.writeStream.outputMode("update")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // RuntimeLongLit, not lit: an inlined batch-id literal makes every
        // batch's generated source novel -> a fresh Janino compile per
        // micro-batch (see the expression's scaladoc)
        batch.withColumn("batch_id", graft.functions.RuntimeLongLit.col(batchId))
          .write.mode("append").parquet(emitPath)
      })(_ => graft.Tables.read(s, emitPath))
  }

  /** s14 — the s12 sketch through UPDATE output mode, with the emission
    * stream itself gated (the round-6 "update-mode variant" candidate).
    * Complete mode re-emits every group every batch and a memory sink
    * only keeps the final table, so update semantics were previously
    * spec-observed but never oracle-gated; here a foreachBatch sink
    * APPENDS each batch's update rows (tagged with batchId) to a
    * parquet log — the harness then sees every emission the mode ever
    * produced. The replay makes the contract observable: the fixture
    * rides the first data batch, the two sentinel files (carrier
    * "none", maxFilesPerTrigger=1) force at least one later batch that
    * touches ONLY "none" — so update mode must emit each real carrier
    * EXACTLY ONCE (its sketch never changes again) and "none" once per
    * sentinel batch it was updated in. A complete-mode-like re-emission
    * of unchanged groups, or a mode that drops updated groups, breaks
    * n_emits and fails the row hash. Registers fold with max_by over
    * batchId (the newest emission IS the final sketch), so the final
    * estimate is gated too — same arithmetic as s12's oracle, plus the
    * sentinel rows synthesized as literals (both engines build the
    * identical 'sentinel' member).
    *
    * 100 TB posture: update mode IS the production emission policy for
    * unbounded-cardinality sketch aggregations (complete mode rewrites
    * the whole result table per batch); the state remains 64 B/group,
    * and the per-batch sink I/O is O(groups updated this batch). */
  def s14(s: SparkSession, d: String): DataFrame = {
    import graft.functions.Hll
    val stream = replayEvents(s, d)
    val agg = stream.toDF()
      .groupBy(col("carrier"))
      .agg(Hll.sketch(col("messageId")).as("sk"))
      .select(
        col("carrier"),
        col("sk").getField("z_scaled").as("z_scaled"),
        col("sk").getField("v_empty").as("v_empty"))
    updateEmissions(s, agg)
      .groupBy("carrier")
      .agg(count(lit(1)).as("n_emits"),
        expr("max_by(named_struct('z', z_scaled, 've', v_empty), batch_id)")
          .as("f"))
      .select(col("carrier"), col("n_emits"),
        col("f.z").as("z_scaled"), col("f.ve").as("v_empty"))
      .withColumn("est_micro",
        expr(Hll.estMicroSpark("z_scaled", "v_empty")))
  }

  val s14Sql: String =
    s"""WITH m AS (
       |  SELECT $carrierSql AS carrier, CAST(user_id AS VARCHAR) AS mid
       |  FROM events
       |  UNION ALL SELECT 'none', 'sentinel'
       |  UNION ALL SELECT 'none', 'sentinel'),
       |h AS (
       |  SELECT carrier,
       |    CAST(concat('0x', substr(md5(mid), 1, 15)) AS BIGINT) AS hv
       |  FROM m),
       |r AS (
       |  SELECT carrier, hv % 64 AS j,
       |    max(CASE WHEN hv // 64 = 0 THEN 55
       |             ELSE 55 - length(bin(hv // 64)) END) AS mj
       |  FROM h GROUP BY 1, 2),
       |a AS (
       |  SELECT carrier,
       |    CAST(sum(1::BIGINT << (55 - mj))
       |         + (64 - count(*)) * (1::BIGINT << 55) AS BIGINT) AS z_scaled,
       |    CAST(64 - count(*) AS INT) AS v_empty
       |  FROM r GROUP BY 1)
       |SELECT carrier,
       |  CAST(CASE WHEN carrier = 'none' THEN 2 ELSE 1 END AS BIGINT) AS n_emits,
       |  z_scaled, v_empty,
       |  ${graft.functions.Hll.estMicroDuck("z_scaled", "v_empty")} AS est_micro
       |FROM a""".stripMargin

  /** Replay source for [[s15]]: four one-file micro-batches — the full
    * fixture, two watermark-advancing sentinels, and a deliberately LATE
    * row whose event time sits inside an already-closed fixture window.
    * One fixture per (app, sf). */
  private def lateReplayDir(s: SparkSession, d: String): File =
    replayFixture(s, "late::" + d) {
      import s.implicits._
      val ms = messageStatusOf(
        graft.Tables.read(s, graft.Tables.eventsPath(s, d))).toDF()
      // empty-fixture guard (degenerate sweep): no events -> probe at
      // epoch 0, which every sentinel-advanced watermark closes
      val minTs = Option(ms.agg(min(col("timestamp"))).head().get(0))
        .map(_.asInstanceOf[Long]).getOrElse(0L)
      def one(m: MessageStatus): DataFrame = Seq(m).toDF()
      Seq(ms,
        one(MessageStatus("sentinel", "delivered", 0L, "none", Sentinel1Ms)),
        // Spark filters LATE EVENTS with the PREVIOUS batch's watermark
        // and evicts state with the current one (the SPARK-24634
        // two-watermark model for chained stateful operators) — so one
        // sentinel batch is not enough for the drop contract: the batch
        // after the sentinel still late-filters against the PRE-sentinel
        // watermark (observed leaking on a 1-row corpus whose fixture
        // span < the 1-minute delay; on the sf fixtures the span
        // hides the lag). A second sentinel batch lets the closing
        // watermark fully propagate before the probe arrives.
        one(MessageStatus("sentinel2", "delivered", 0L, "none", Sentinel2Ms)),
        // late probe: event time at the very START of the fixture range —
        // its window closed when the sentinels advanced the watermark
        one(MessageStatus("late_probe", "sent", 1L, "verizon", minTs)))
    }

  /** s15 — watermark LATE-DATA DROP gated end-to-end: the windowed
    * per-carrier count runs in UPDATE mode with the s14 emission-log
    * sink, and the replay's third batch delivers one row whose event
    * time lies inside a window the sentinel batch already closed. The
    * streaming contract under gate: (a) that late row must be DROPPED
    * (its window's count must NOT include it — state was evicted and
    * the watermark filter discards it), (b) the closed window must not
    * re-emit (n_emits stays 1 for every fixture group), and (c) update
    * mode must not re-emit untouched groups during the sentinel batch
    * (the s14 contract, re-proven under windows). A runtime that
    * resurrects evicted state, counts late data, or re-emits closed
    * windows breaks the row hash. Oracle = the batch twin over events
    * alone (the late probe must be invisible) with n_emits ≡ 1.
    * WindowedHllSpec observes eviction through the listener; this is
    * the ORACLE-GATED form of the same contract. */
  def s15(s: SparkSession, d: String): DataFrame = {
    val stream = replayStream(s, lateReplayDir(s, d), 1, Some(MessageStatusSchema))
    val agg = stream
      .withColumn("eventTime", timestamp_millis(col("timestamp")))
      .withWatermark("eventTime", "1 minute")
      .groupBy(window(col("eventTime"), "1 hour"), col("carrier"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("win_start"), col("carrier"),
        col("cnt"))
    updateEmissions(s, agg)
      .filter(col("carrier") =!= "none")
      .groupBy("win_start", "carrier")
      .agg(count(lit(1)).as("n_emits"),
        expr("max_by(cnt, batch_id)").as("cnt"))
  }

  val s15Sql: String =
    s"""SELECT date_trunc('hour', ts) AS win_start,
       |  $carrierSql AS carrier,
       |  CAST(1 AS BIGINT) AS n_emits,
       |  count(*) AS cnt
       |FROM events
       |GROUP BY 1, 2""".stripMargin

  /** The s16 sink's merge: per-carrier register arrays fold by
    * elementwise max (the HLL union), new carriers insert. Idempotent
    * and batch-split-insensitive — register max is a bounded join-
    * semilattice, the strongest algebra in the upsert family (even
    * re-applying a PARTIAL batch is absorbed), which is what makes the
    * exactly-once story trivial to reason about on top of
    * [[BucketedUpsert]]'s replay contract. */
  private[graft] def registersMaxMerge(target: DataFrame,
      updates: DataFrame): DataFrame =
    Merge.merge(target, updates, "carrier", "carrier",
      whenMatched = Map("regs" ->
        expr("zip_with(t.regs, s.regs, (a, b) -> greatest(a, b))")),
      insertValues = Map("carrier" -> col("s.carrier"),
        "regs" -> col("s.regs")))

  /** s16 — a streaming SKETCH TABLE maintained through the exactly-once
    * bucketed upsert sink: each micro-batch reduces to per-carrier HLL
    * REGISTER ARRAYS (`hll_registers`, 64 B/group) and merges them into
    * the bucketed parquet state by register max ([[registersMaxMerge]])
    * — the composition of three separately-gated pieces (streaming
    * reduction, sketch algebra, BucketedUpsert's replay contract) as
    * one gated query. The oracle is the direct batch sketch over the
    * whole fixture (s12's arithmetic): union associativity PLUS
    * exactly-once must both hold for the stored registers to come out
    * bit-identical after the incremental multi-batch replay. This is the 100 TB
    * production pattern x60 reads from: the raw stream is sketched
    * once, incrementally, into a point-queryable table that rollups
    * and dashboards consume without ever rescanning events. */
  def s16(s: SparkSession, d: String): DataFrame = {
    import graft.functions.Hll
    // 3 incremental batches (2+2+1 files) — see the s10 note: the
    // union-associativity + exactly-once composition this gates is
    // batch-count-invariant, and >=2 batches exercise it fully.
    val stream = messageStatusOf(replayStream(s, eventsSplitDir(s, d, 5), 2)).toDF()
    upsertTable(s, stream, numBuckets = 4, "carrier",
      _.groupBy("carrier").agg(Hll.registers(col("messageId")).as("regs")),
      registersMaxMerge,
      emptyRelation(s,
        ("carrier", org.apache.spark.sql.types.StringType),
        ("regs", org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.IntegerType, containsNull = false))))
      .select(col("carrier"),
        expr("aggregate(regs, CAST(0 AS BIGINT)," +
          " (acc, r) -> acc + shiftleft(CAST(1 AS BIGINT), 55 - r))")
          .as("z_scaled"),
        expr("CAST(size(filter(regs, r -> r = 0)) AS INT)").as("v_empty"))
      .withColumn("est_micro",
        expr(Hll.estMicroSpark("z_scaled", "v_empty")))
  }

  /** Replay source for [[s17]]: the documents fixture as three one-file
    * micro-batches with batch membership pinned to `doc_id % 3` (and
    * ascending mtimes, so file order IS batch order) — the oracle must
    * know which batch every doc rode, so the split is deterministic,
    * never repartition-arbitrary. One dir per (app, sf). */
  private def admissionReplayDir(s: SparkSession, d: String): File =
    replayFixture(s, "admit::" + d)(
      byDocMod3(graft.Tables.documents(s, d).select("doc_id", "text")))

  /** `df` as three replay batches, batch n holding `doc_id % 3 = n`. */
  private def byDocMod3(df: DataFrame): Seq[DataFrame] =
    (0 until 3).map(n => df.filter(pmod(col("doc_id"), lit(3)) === n))

  /** s17 — STREAMING NEAR-DUP ADMISSION: the production ingest gate a
    * training corpus actually runs — each arriving micro-batch of
    * documents is LSH-checked against every document seen in EARLIER
    * batches (plus smaller-id members of its own batch) and admitted
    * iff it has no near-duplicate predecessor. This is x27's
    * batch-versus-corpus incremental join promoted to a real
    * Structured Streaming pipeline with persistent signature state:
    * each batch (a) computes its x02-family MinHash signatures ONCE
    * (narrow ShingleSig pass), (b) band-joins them against the stored
    * signature table (batch×corpus candidates — never corpus²), (c)
    * exact-Jaccard-verifies (≥ 0.8) and counts predecessor partners,
    * and (d) appends its own signatures to the state and its verdicts
    * to the output log — both as per-batch OVERWRITE versions, so a
    * replayed batch (crash between sink write and checkpoint commit)
    * rewrites identical content: signatures are a pure function of the
    * batch, and the state it read (strictly earlier batch dirs) is
    * never mutated afterwards.
    *
    * The admission predicate is deliberately (batch, id)-lexicographic
    * — a doc is rejected iff SOME near-dup partner precedes it in
    * arrival order, whether or not that partner was itself admitted —
    * which makes the semantics batch-split-deterministic and
    * SQL-expressible: the oracle computes the full x02 pair relation,
    * assigns batches by the same `doc_id % 3` rule the replay split
    * pins, and counts lexicographic predecessors. Any drift in the
    * streaming path (signatures, banding, verification threshold,
    * state reads crossing into the current batch) breaks the row hash.
    *
    * 100 TB posture: per-batch cost is O(batch bands × matching corpus
    * bands) — candidates scale with the BATCH; the signature state is
    * an append-only parquet log readable by any later ingest epoch
    * (the x27 scale argument, plus exactly-once). */
  def s17(s: SparkSession, d: String): DataFrame = {
    val dir = admissionReplayDir(s, d)
    val stream = replayStream(s, dir, 1)
    val outBase = keptDir()
    // candidate-join volume scales (quadratically in the near-dup rate)
    // with the corpus: size the replay's shuffle-partition count from
    // the replay files' bytes (~1 MB parquet per partition), flooring at
    // the detector-replay default so gate-scale latency is unchanged
    val replayBytes = Option(dir.listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    val admitParts = math.min(512L,
      math.max(ReplayPartitions.toLong, replayBytes >> 20)).toInt
    runReplay(s, parts = admitParts)({ sc =>
      val stateBase = sc.file("state")
      stream.writeStream.outputMode("update")
        .foreachBatch { (batch0: DataFrame, batchId: Long) =>
          // each micro-batch arrives as ONE replay file = one scan
          // split, which would serialize the signature pass (the
          // expensive narrow stage) on a single core at rehearsal
          // scale — spread it first; at gate scale (admitParts == the
          // detector floor) this stays a no-op
          val batch = if (admitParts > ReplayPartitions) batch0.repartition(admitParts)
                      else batch0
          // signatures once per batch; they feed the band join, the
          // verify lookups, and the state write (narrowSigOf persists
          // the relation through its own LRU — no extra materialization
          // needed here)
          val sigB = Dedup.admissionSig(batch)
          val verified = admissionPairs(s, stateBase, sigB, batchId)
            .groupBy("doc_id").agg(count(lit(1)).as("n_prior"))
          batch.select("doc_id").distinct()
            .join(verified, Seq("doc_id"), "left")
            .select(col("doc_id"), graft.functions.RuntimeLongLit.col(batchId).as("batch_id"),
              (coalesce(col("n_prior"), lit(0L)) === 0).as("admitted"),
              coalesce(col("n_prior"), lit(0L)).as("n_prior"))
            .write.mode("overwrite")
            .parquet(new java.io.File(outBase, s"b$batchId").getAbsolutePath)
          writeSig(stateBase, sigB, batchId)
        }
    })(_ => graft.Tables.read(s, Option(outBase.listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter(_.getName.startsWith("b")).map(_.getAbsolutePath).toSeq: _*))
  }

  /** The verified near-dup pairs of one admission batch: `(doc_id,
    * partner)` for each batch doc and each partner — a same-batch doc
    * with a smaller id, or any doc of an earlier batch's `sig_b<id>` in
    * `sigDir` — whose banded candidate pair verifies at exact Jaccard
    * ≥ 0.8. `sigB` is the batch's [[Dedup.admissionSig]]. */
  private def admissionPairs(s: SparkSession, sigDir: File, sigB: DataFrame,
      batchId: Long): DataFrame = {
    import graft.functions.ArrayMath
    val priorDirs = Option(sigDir.listFiles()).getOrElse(Array.empty[File]).toSeq
      .filter(_.getName.startsWith("sig_b"))
      .filter(_.getName.drop(5).toLong < batchId)
      .map(_.getAbsolutePath)
    val prior =
      if (priorDirs.isEmpty) None
      else Some(s.read.schema(sigB.schema).parquet(priorDirs: _*))
    val bandsB = Dedup.admissionBands(sigB)
    // same-batch predecessors: partner with smaller id
    val sameCand = bandsB.alias("x")
      .join(bandsB.alias("y"), col("x.bk") === col("y.bk") &&
        col("y.doc_id") < col("x.doc_id"))
      .select(col("x.doc_id").as("doc_id"), col("y.doc_id").as("partner"))
    // earlier-batch predecessors: every banded corpus match
    val cand = prior.fold(sameCand) { p =>
      sameCand.unionByName(
        bandsB.alias("x")
          .join(Dedup.admissionBands(p).alias("y"), col("x.bk") === col("y.bk"))
          .select(col("x.doc_id").as("doc_id"), col("y.doc_id").as("partner")))
    }.distinct()
    val partnerHs = prior.fold(sigB)(p => sigB.unionByName(p))
      .select(col("doc_id").as("partner"), col("hs").as("hsb"))
    cand
      .join(sigB.select(col("doc_id"), col("hs").as("hsa")), "doc_id")
      .join(partnerHs, "partner")
      .withColumn("inter", ArrayMath.sortedIntersectSize(col("hsa"), col("hsb")))
      .filter(col("inter") /
        (size(col("hsa")) + size(col("hsb")) - col("inter")).cast("double") >= 0.8)
      .select(col("doc_id"), col("partner"))
  }

  /** Append batch `batchId`'s signatures to the signature log in
    * `sigDir` as `sig_b<id>` — an overwrite, so a replayed batch
    * rewrites identical content. */
  private def writeSig(sigDir: File, sigB: DataFrame, batchId: Long): Unit =
    sigB.write.mode("overwrite")
      .parquet(new File(sigDir, s"sig_b$batchId").getAbsolutePath)

  val s17Sql: String = {
    val pairCtes = Dedup.lshPairCtes(Dedup.admissionShinglesSql,
      seed = 0, r = 2, nBands = 8)
    s"""WITH $pairCtes,
       |pr AS (SELECT a, b FROM j WHERE jac >= 0.8),
       |e AS (SELECT a AS x, b AS y FROM pr UNION ALL SELECT b, a FROM pr),
       |dd AS (SELECT doc_id, doc_id % 3 AS bt FROM documents),
       |pre AS (
       |  SELECT d.doc_id, count(*) AS n_prior
       |  FROM dd d JOIN e ON e.x = d.doc_id JOIN dd p ON p.doc_id = e.y
       |  WHERE (p.bt < d.bt) OR (p.bt = d.bt AND p.doc_id < d.doc_id)
       |  GROUP BY d.doc_id)
       |SELECT d.doc_id, CAST(d.bt AS BIGINT) AS batch_id,
       |  coalesce(n_prior, 0) = 0 AS admitted,
       |  CAST(coalesce(n_prior, 0) AS BIGINT) AS n_prior
       |FROM dd d LEFT JOIN pre USING (doc_id)""".stripMargin
  }

  /** Finalize horizon of the streaming funnel: a user's funnel closes
    * 30 days (event time) after their last event — beyond the fixture's
    * max per-user gap (~6 days), so the replay emits exactly one row
    * per user and the batch twin is the oracle. */
  private val FunnelHorizonMs = 30L * 86400000L

  /** The events fixture as a streaming [[FunnelEvent]] relation (raw
    * event_type preserved — the funnel needs the view/click/purchase
    * steps, not the MessageStatus projection). */
  private def funnelEventsStream(s: SparkSession, d: String): Dataset[FunnelEvent] = {
    import s.implicits._
    graft.Tables.normalizeEventTs(rawEventsStream(s, d))
      .selectExpr("user_id AS userId", "event_type AS eventType",
        "unix_millis(ts) AS tms")
      .as[FunnelEvent]
  }

  /** s18 — the x67 ordered funnel as a STREAMING query: per-user
    * tri-state in `transformWithState` (watermark-pruned candidate
    * lists — see [[graft.streaming.FunnelDetector]] for why a naive
    * min-per-step is wrong on out-of-order input and why the state
    * stays bounded by the out-of-orderness window, not user history),
    * finalized by an event-time timer [[FunnelHorizonMs]] past each
    * user's last event, append output. The sentinel rows ride as user
    * −1 (an id the fixture cannot produce) so the watermark advances
    * without polluting any real user's state; the oracle is x67's
    * batch twin over the same fixture. */
  def s18(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val stream = funnelEventsStream(s, d)
      .unionByName(sentinelStream(s)
        .select(lit(-1L).as("userId"), lit("sentinel").as("eventType"),
          col("timestamp").as("tms"))
        .as[FunnelEvent])
    runToSink(s, FunnelDetector.funnel(stream, FunnelHorizonMs).toDF(),
        "append", RocksDbProvider)
      .filter(col("user_id") >= 0)
  }

  /** Replay source for [[s19]]: the simulated next-crawl relation
    * (Diff.nextCrawl — the same derivation x69 gates) as three one-file
    * micro-batches pinned to `doc_id % 3`. A doc_id arrives at most once
    * per crawl here (nextCrawl offsets re-ingested ids past
    * `max(doc_id)`), so the verdicts are batching-INDEPENDENT, but a
    * pinned split keeps replays byte-identical. One dir per (app, sf). */
  private def diffReplayDir(s: SparkSession, d: String): File =
    replayFixture(s, "diff::" + d)(byDocMod3(Diff.nextCrawl(
      graft.Tables.documents(s, d).select("doc_id", "text"))))

  /** s19 — STREAMING CORPUS DIFF, the CDC twin of x69: the previous
    * snapshot's content hashes live in a hash-bucketed upsert table
    * (16-byte rows, never text — x69's hash-first discipline carried
    * into state), and each arriving micro-batch of the new crawl is
    * classified against it — `added` (no stored key), `changed` (hash
    * differs), `unchanged` — touching ONLY the buckets its keys hash
    * into (O(batch) I/O per batch, not O(snapshot); the s10/s16 sink
    * contract). Removals are inherently not a stream event (absence
    * doesn't arrive), so the crawl-close reconciliation pass emits
    * `removed` for every snapshot key no batch ever marked seen — one
    * full state scan at END-OF-CRAWL, the shape a real re-crawl audit
    * runs.
    *
    * s19 is [[diffReplay]], s24's body, over its own fixture: with no
    * key arriving twice, the within-batch minimum and the seen filter
    * change nothing, and an added key enters the state already seen,
    * so it is never `removed`. The oracle is x69's batch twin. */
  def s19(s: SparkSession, d: String): DataFrame =
    diffReplay(s, d, diffReplayDir(s, d))

  // ---------------------------------------------------------------- s24
  /** Replay source for [[s24]]: the s19 crawl relation AUGMENTED with
    * deliberate re-arrivals — the input shape s19's pinned doc_id%3
    * split rules out. Three legs, still split into 3 ordered files:
    *
    *  - base: every next-crawl row in file doc_id % 3 (the s19 split);
    *  - cross-batch re-arrival: rows with doc_id % 4 = 1 (and room in
    *    a later file) re-fetched in file doc_id % 3 + 1 with perturbed
    *    content (`text || ' re'`) — the same page crawled twice in one
    *    crawl, second fetch differing;
    *  - within-batch duplicate: rows with doc_id % 9 = 2 duplicated in
    *    their OWN file with `text || ' dup'`.
    */
  private def diffRearrReplayDir(s: SparkSession, d: String): File =
    replayFixture(s, "rearr::" + d) {
      val next = Diff.nextCrawl(
        graft.Tables.documents(s, d).select("doc_id", "text"))
      val aug = next
        .select(col("doc_id"), col("text"),
          pmod(col("doc_id"), lit(3)).as("b"))
        .unionByName(next
          .filter(col("doc_id") % 4 === 1 && pmod(col("doc_id"), lit(3)) < 2)
          .select(col("doc_id"), concat(col("text"), lit(" re")).as("text"),
            (pmod(col("doc_id"), lit(3)) + 1).as("b")))
        .unionByName(next.filter(col("doc_id") % 9 === 2)
          .select(col("doc_id"), concat(col("text"), lit(" dup")).as("text"),
            pmod(col("doc_id"), lit(3)).as("b")))
      (0 until 3).map(n => aug.filter(col("b") === n).drop("b"))
    }

  /** s24 — s19 under INTRA-CRAWL RE-ARRIVALS: the same-key-arrives-
    * twice semantics the s19 gate's pinned split never exercises,
    * DEFINED and gated. The body is [[diffReplay]]. */
  def s24(s: SparkSession, d: String): DataFrame =
    diffReplay(s, d, diffRearrReplayDir(s, d))

  /** The one body of the diff replays (s19, s24) over the crawl replay
    * in `dir`:
    *
    *  - ONE verdict per key per crawl. Verdicts already emitted are
    *    immutable (they live in an append log), so the only coherent
    *    policy is FIRST-ARRIVAL-WINS: the batch that first carries a
    *    key classifies it against the stored snapshot hash, and every
    *    later re-arrival of that key is suppressed — the B11
    *    dedup-by-key guard applied to CDC.
    *  - WITHIN a batch, duplicate fetches collapse deterministically
    *    to the copy with the SMALLEST content hash (a pure function of
    *    the batch multiset — no dependence on row order, so replays
    *    and repartitionings agree; StreamDiffRearrSpec asserts it).
    *  - Suppression state rides the same bucketed upsert table as the
    *    snapshot hashes, extended with a `snap` bit: snapshot rows
    *    enter as (h, seen=false, snap=true); first arrivals of NEW
    *    keys are inserted as (hb, seen=true, snap=false) so their own
    *    re-arrivals are suppressed too. Removals at crawl close are
    *    snap=true AND never seen.
    *
    * Exactly-once across replays: verdicts are a pure function of the
    * batch and of strictly-pre-batch state — the classification read
    * uses [[BucketedUpsert.bucketState]] with the same
    * strictly-below-batchId version rule [[BucketedUpsert.applyBatch]]
    * applies to the seen-marking write, so a replayed batch reads what
    * the first attempt read and overwrites its verdict file with
    * identical content; seen-marking itself is idempotent. */
  private def diffReplay(s: SparkSession, d: String, dir: File): DataFrame = {
    import graft.functions.PortableHash
    val stream = replayStream(s, dir, 1)
    val nBuckets = 16
    val outBase = keptDir()
    val snap = graft.Tables.documents(s, d)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), PortableHash.h60(col("text")).as("h"),
        lit(false).as("seen"), lit(true).as("snap"))
    runReplay(s)({ sc =>
      val stateBase = sc.path("state")
      // version 0 of the state log = the previous snapshot's hash table
      BucketedUpsert.applyBatch(s, stateBase, nBuckets, 0L, snap, "doc_id",
        (_, u) => u)
      stream.writeStream.outputMode("update")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val vid = batchId + 1 // version 0 is the snapshot load
          // within-batch dedup: smallest content hash wins (order-free).
          // Persisted for the batch: the touched-bucket collect, the
          // verdict write and the state update below each read it, and
          // unpersisted they would each run its aggregation again
          val arrived = batch.filter(col("text").isNotNull)
            .select(col("doc_id"), PortableHash.h60(col("text")).as("hb"))
            .groupBy("doc_id").agg(min(col("hb")).as("hb"))
            .persist()
          // touched-bucket set: <= nBuckets small ints, the one driver
          // materialization (the applyBatch discipline)
          val touched = arrived
            .select(BucketedUpsert.bucketExpr(col("doc_id"), nBuckets).as("b"))
            .distinct().collect().map(_.getInt(0)).toSeq
          val target = BucketedUpsert
            .bucketState(s, stateBase, nBuckets, touched, vid)
            .map(_.select(col("doc_id"), col("h"), col("seen")))
            .getOrElse(arrived.select(col("doc_id"),
              col("hb").as("h"), lit(false).as("seen")).limit(0))
          // verdicts: only keys NOT already seen this crawl emit
          arrived.join(target, Seq("doc_id"), "left")
            .filter(!coalesce(col("seen"), lit(false)))
            .select(col("doc_id"),
              when(col("h").isNull, "added")
                .when(col("h") === col("hb"), "unchanged")
                .otherwise("changed").as("status"))
            .write.mode("overwrite")
            .parquet(new java.io.File(outBase, s"b$vid").getAbsolutePath)
          // mark arrivals seen; INSERT first-seen new keys (snap=false).
          // knownTouched: same key set as the classification read above
          // — skips applyBatch's duplicate distinct-collect job.
          BucketedUpsert.applyBatch(s, stateBase, nBuckets, vid,
            arrived, "doc_id",
            (t, u) => t.join(
                u.select(col("doc_id"), lit(true).as("sn")),
                Seq("doc_id"), "left")
              .select(col("doc_id"), col("h"),
                (col("seen") || coalesce(col("sn"), lit(false))).as("seen"),
                col("snap"))
              .unionByName(u
                .join(t.select("doc_id"), Seq("doc_id"), "left_anti")
                .select(col("doc_id"), col("hb").as("h"),
                  lit(true).as("seen"), lit(false).as("snap"))),
            knownTouched = Some(touched))
          arrived.unpersist()
          ()
        }
    }) { sc =>
      // crawl close: snapshot keys never seen are `removed`, written
      // next to the per-batch verdicts so the returned relation —
      // verdicts plus removals — outlives the scratch state dir
      BucketedUpsert.currentState(s, sc.path("state"), nBuckets)
        .getOrElse(snap.limit(0)) // empty corpus: nothing to reconcile
        .filter(col("snap") && !col("seen"))
        .select(col("doc_id"), lit("removed").as("status"))
        .write.mode("overwrite")
        .parquet(new File(outBase, "removed").getAbsolutePath)
      graft.Tables.read(s, Option(outBase.listFiles())
        .getOrElse(Array.empty[File])
        .filter(f => f.getName.startsWith("b") || f.getName == "removed")
        .map(_.getAbsolutePath).toSeq: _*)
    }
  }

  /** Oracle: first-file-wins, min-hash-within-file resolution, then
    * the x69 diff against the snapshot. */
  val s24Sql: String = {
    import graft.functions.PortableHash.duckH60
    s"""WITH bn AS (
       |  ${Diff.nextCrawlSqlBody}),
       |aug AS (
       |  SELECT doc_id, text, doc_id % 3 AS b FROM bn
       |  UNION ALL
       |  SELECT doc_id, text || ' re', doc_id % 3 + 1 FROM bn
       |  WHERE doc_id % 4 = 1 AND doc_id % 3 < 2
       |  UNION ALL
       |  SELECT doc_id, text || ' dup', doc_id % 3 FROM bn
       |  WHERE doc_id % 9 = 2),
       |av AS (SELECT doc_id, text, b FROM aug WHERE text IS NOT NULL),
       |fb AS (SELECT doc_id, min(b) AS b0 FROM av GROUP BY doc_id),
       |res AS (
       |  SELECT a.doc_id, min(${duckH60("a.text")}) AS hb
       |  FROM av a JOIN fb ON a.doc_id = fb.doc_id AND a.b = fb.b0
       |  GROUP BY a.doc_id),
       |snap AS (
       |  SELECT doc_id, ${duckH60("text")} AS h
       |  FROM documents WHERE text IS NOT NULL)
       |SELECT COALESCE(snap.doc_id, res.doc_id) AS doc_id,
       |  CASE WHEN snap.h IS NULL THEN 'added'
       |       WHEN res.hb IS NULL THEN 'removed'
       |       WHEN snap.h = res.hb THEN 'unchanged'
       |       ELSE 'changed' END AS status
       |FROM snap FULL OUTER JOIN res ON snap.doc_id = res.doc_id""".stripMargin
  }

  /** s20 — STREAMING LEAKAGE-FREE SPLIT: x55's cluster-level
    * train/test assignment maintained AT INGEST. Each arriving
    * micro-batch of documents is LSH-checked against the signature log
    * of earlier batches (the s17 admission machinery, same x02 family:
    * word shingles, seed 0, r 2, 8 bands, verified Jaccard ≥ 0.8); the
    * verified edges merge duplicate clusters INCREMENTALLY in two
    * hash-bucketed upsert stores — doc→label keyed by doc_id, and
    * label→members keyed by label — so a batch touches only the
    * components its edges reach, never the corpus:
    *
    *  - the batch's edges are projected to LABEL granularity (each
    *    prior endpoint contributes its stored cluster label, each
    *    batch doc its own id) and the tiny label graph — touched
    *    components only, by design — is contracted by a driver
    *    union-find under the same min-label convention the batch
    *    twin's star contraction yields (a distributed CC on a
    *    driver-sized graph was pure per-batch job overhead);
    *  - merged groups relabel to the min old label (= min member id,
    *    by induction — exactly the batch x17/x55 label convention),
    *    and only the merged groups' MEMBERS (from the members store,
    *    singleton default for labels never merged) get doc→label
    *    rewrites;
    *  - per-batch state I/O is O(batch + touched clusters): the
    *    members store is what makes relabeling possible without the
    *    full-table inverted scan a doc→label-only layout would force.
    *    Members are stored as (label, member) ROWS, not one array row
    *    per label, so a mega-cluster spreads across tasks and parquet
    *    files like any relation (an array layout concentrates the
    *    whole cluster into a single row — a driver/row-size wall at
    *    100 TB boilerplate scale);
    *  - the per-batch edge relation is output-quadratic on dup-heavy
    *    input, so its driver materialization is CAPPED (limit-probe
    *    collect); a dup-storm batch overflows to a distributed
    *    star-contraction CC that collects only the O(batch + touched)
    *    vertex mapping.
    *
    * Split verdicts are per-UNIT coins ([[Clusters.splitCoin]], the
    * exact x55 expression), so a doc's side is decided the moment its
    * unit is — at ingest — and is REVISED only when a later bridge doc
    * merges two existing units. That revision is not an implementation
    * concession: under immutable verdicts a leakage-free split is
    * impossible (two docs with no prior near-dup can coin opposite
    * sides, then a later bridge connects them), so the maintained
    * TABLE, not the emission log, is the product. The gate reads the
    * final table, which equals the batch x55 exactly: the per-batch
    * verified edge sets union to the full x02 pair relation (each
    * cross-batch pair is tested when its later endpoint arrives,
    * each same-batch pair once), and incremental min-merging is
    * confluent — final components don't depend on arrival order.
    *
    * Exactly-once across replays: every read inside the batch — the
    * signature log (strictly earlier batch dirs), both stores
    * ([[BucketedUpsert.bucketState]] with `before = batchId`) — is
    * strictly-pre-batch, so a replayed batch recomputes the SAME state
    * relations (row order within a version's files may vary between
    * attempts, but every consumer — bucketState joins, groupBy, the
    * final table read — is set-semantic, so no ordering can leak into
    * state content or the gated answer). The oracle is x55's batch
    * twin.
    *
    * `edgeCap` is the edge-row count a batch may collect before it takes
    * the overflow branch; tests pass 0 to force that branch per call. */
  def s20(s: SparkSession, d: String, edgeCap: Int = EdgeCap): DataFrame = {
    val stream = replayStream(s, admissionReplayDir(s, d), 1)
    val nBuckets = 16
    val outBase = keptDir()
    runReplay(s)({ sc =>
      val sigBase = sc.file("sig")
      val labBase = sc.path("lab")
      val memBase = sc.path("mem")
      stream.writeStream.outputMode("update")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val sigB = Dedup.admissionSig(batch)
          // verified near-dup edges of THIS batch (batch doc `did`
          // against same-batch smaller id or any earlier doc), each
          // carrying its endpoints' store buckets (the SAME bucketExpr
          // the stores use).
          val edgeDf = admissionPairs(s, sigBase, sigB, batchId)
            .select(col("doc_id").as("did"), col("partner"),
              BucketedUpsert.bucketExpr(col("doc_id"), nBuckets).as("db"),
              BucketedUpsert.bucketExpr(col("partner"), nBuckets).as("pb"))
          // GUARDED driver materialization of the edge rows: the edge
          // relation is output-quadratic on dup-heavy input (a batch of
          // N mutual near-dups is N²/2 edges), so the collect is capped
          // — limit(cap+1) returns the complete set iff it fits, and an
          // overflow falls back to the distributed star-contraction CC
          // below, which never puts edges on the driver. Under the cap
          // the driver union-find replaces a multi-job distributed CC
          // per batch; driver footprint is ≤ cap rows (~tens of MB), on
          // top of the O(batch) bound the s17 admission path already
          // grants the candidate relation. The edge relation is
          // checkpointed FIRST (one job) because limit+collect compiles
          // to executeTake, whose partition-escalation rounds (1 → 4 →
          // all) would otherwise re-run the candidate join up to 3×
          // per batch (measured 15.7 → 40.6 s on the 10× rehearsal);
          // the take then reads materialized blocks, and the overflow
          // branch reuses the same materialization for the CC passes.
          val edges0 = edgeDf.localCheckpoint()
          val eRows = edges0.limit(edgeCap + 1).collect()
          val bidRows = batch.select(col("doc_id")).distinct().collect()
            .map(_.getLong(0))
          val batchIdSet = bidRows.toSet
          import s.implicits._
          val bidDf = bidRows.toSeq.toDF("doc_id")
          // Both branches produce the contracted merge mapping:
          // ccPairs = (vertex → component-min label) over the LABEL-
          // granularity merge graph (vertices: batch dids, same-batch
          // partners, prior labels), plus each vertex's store bucket.
          // Min-label = min member id by induction — the batch x17/x55
          // label convention — and is order-independent (confluent), so
          // the two branches agree exactly wherever both apply.
          val (ccPairs, memBuckets): (Seq[(Long, Long)], Seq[Int]) =
          if (eRows.length <= edgeCap) {
            // labels of PRIOR endpoints, read from strictly-pre-batch
            // doc→label state (same-batch partners keep their own id)
            val priorEp = eRows.iterator
              .filterNot(r => batchIdSet(r.getLong(1)))
              .map(r => r.getLong(1) -> r.getInt(3)).toMap
            val epBuckets = priorEp.values.toSeq.distinct
            val epLabRows = (if (epBuckets.isEmpty) None
              else BucketedUpsert.bucketState(s, labBase, nBuckets,
                epBuckets, batchId)) match {
              case None => Array.empty[org.apache.spark.sql.Row]
              case Some(st) => priorEp.keys.toSeq.sorted.toDF("doc_id")
                .join(st, Seq("doc_id"), "left")
                .select(col("doc_id"),
                  coalesce(col("lbl"), col("doc_id")).as("plbl"),
                  BucketedUpsert.bucketExpr(
                    coalesce(col("lbl"), col("doc_id")), nBuckets).as("plb"))
                .collect()
            }
            val plbl = epLabRows.map(r => r.getLong(0) -> r.getLong(1)).toMap
            // bucket of every possible merge-graph vertex, keyed by the
            // vertex id (did / same-batch partner / prior label)
            val vBucket = collection.mutable.Map[Long, Int]()
            eRows.foreach { r =>
              vBucket(r.getLong(0)) = r.getInt(2)
              vBucket(r.getLong(1)) = r.getInt(3)
            }
            epLabRows.foreach(r => vBucket(r.getLong(1)) = r.getInt(2))
            // LABEL-granularity merge graph, contracted by a driver
            // union-find with the min-label convention — the same answer
            // the distributed star contraction gives (min of each
            // component) on a graph that is tiny by design
            val lgEdges = eRows.iterator.map { r =>
              val did = r.getLong(0); val partner = r.getLong(1)
              (did, plbl.getOrElse(partner, partner))
            }.filter { case (la, lb) => la != lb }.toArray
            val parent = collection.mutable.Map[Long, Long]()
            def find(x: Long): Long = {
              var r = x
              while (parent.getOrElse(r, r) != r) r = parent(r)
              var c = x
              while (parent.getOrElse(c, c) != c) {
                val n = parent(c); parent(c) = r; c = n
              }
              r
            }
            lgEdges.foreach { case (a, b) =>
              val (ra, rb) = (find(a), find(b))
              if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
            }
            val verts = lgEdges.iterator
              .flatMap { case (a, b) => Iterator(a, b) }.toSet
            val pairs = verts.toSeq.sorted.map(v => (v, find(v)))
            (pairs, pairs.map(p => vBucket(p._1)).distinct)
          } else {
            // OVERFLOW: contract on the cluster. Resolve prior
            // endpoints to labels with a join against the touched
            // buckets' pre-batch state (≤ nBuckets bucket ids to the
            // driver, never edges), run the O(log n) star-contraction
            // CC, and collect only the VERTEX mapping — O(batch +
            // touched labels) rows, linear in batch size no matter how
            // quadratic the edge relation is. Costs the CC's passes —
            // paid only on dup-storm batches the capped branch cannot
            // hold.
            val edges2 = edges0
            val epB = edges2
              .join(bidDf.withColumnRenamed("doc_id", "partner"),
                Seq("partner"), "left_anti")
              .select(col("pb")).distinct().collect().map(_.getInt(0)).toSeq
            val resolved = (if (epB.isEmpty) None
              else BucketedUpsert.bucketState(s, labBase, nBuckets,
                epB, batchId)) match {
              case None => edges2.select(col("did"), col("partner").as("plbl"))
              case Some(st) => edges2
                .join(st.select(col("doc_id").as("partner"),
                  col("lbl").as("plbl0")), Seq("partner"), "left")
                .select(col("did"),
                  coalesce(col("plbl0"), col("partner")).as("plbl"))
            }
            val lg = resolved.where(col("did") =!= col("plbl"))
            val ccRows = Clusters.connectedComponents(lg, "did", "plbl")
              .select(col("id"), col("lbl"),
                BucketedUpsert.bucketExpr(col("id"), nBuckets).as("vb"))
              .collect()
            (ccRows.toSeq.map(r => (r.getLong(0), r.getLong(1))),
              ccRows.map(_.getInt(2)).distinct.toSeq)
          }
          val ccDf = ccPairs.toDF("id", "lbl")
          // old-label members as (label, member) ROWS — one row per
          // member, so a mega-cluster (common boilerplate at 100 TB)
          // spreads across tasks/files like any other relation instead
          // of concentrating into one giant array row. Labels never
          // merged have no members rows (singleton default).
          val oldMem = (if (memBuckets.isEmpty) None
            else BucketedUpsert.bucketState(s, memBase, nBuckets,
              memBuckets, batchId)) match {
            case None => ccDf.select(col("id"), col("lbl"),
              col("id").as("member"))
            case Some(st) => ccDf.join(st.withColumnRenamed("lbl", "id"),
                Seq("id"), "left")
              .select(col("id"), col("lbl"),
                coalesce(col("member"), col("id")).as("member"))
          }
          // merged groups' member rows re-keyed to the new label (old
          // labels' member sets are disjoint, so no dedup needed);
          // merged-away labels emit a delete marker
          val memUpserts = oldMem
            .select(col("lbl"), col("member"), lit(false).as("del"))
            .unionByName(ccDf.filter(col("id") =!= col("lbl"))
              .select(col("id").as("lbl"),
                lit(null).cast("long").as("member"),
                lit(true).as("del")))
          // doc→label rewrites: merged groups' members to the new
          // label, plus every batch doc (own id unless merged — the
          // min() collapses the duplicate batch-doc row to the merged
          // label, which is ≤ its own id by the min-label convention)
          val labUpserts = oldMem
            .select(col("member").as("doc_id"), col("lbl"))
            .unionByName(bidDf.select(col("doc_id"),
              col("doc_id").as("lbl")))
            .groupBy("doc_id").agg(min(col("lbl")).as("lbl"))
          BucketedUpsert.applyBatch(s, labBase, nBuckets, batchId,
            labUpserts, "doc_id",
            (t, u) => t.join(u.select("doc_id"), Seq("doc_id"), "left_anti")
              .unionByName(u))
          BucketedUpsert.applyBatch(s, memBase, nBuckets, batchId,
            memUpserts, "lbl",
            // drop("del") on the target too: the first batch's empty
            // target inherits the REDUCED schema, del included
            (t, u) => t.drop("del")
              .join(u.select("lbl"), Seq("lbl"), "left_anti")
              .unionByName(u.filter(!col("del")).drop("del")))
          writeSig(sigBase, sigB, batchId)
        }
    }) { sc =>
      // the maintained table IS the product; written beside the
      // verdicts so the returned relation outlives the scratch cleanup
      val split = BucketedUpsert.currentState(s, sc.path("lab"), nBuckets)
        .getOrElse(emptyRelation(s, // empty corpus: no labels assigned
          ("doc_id", org.apache.spark.sql.types.LongType),
          ("lbl", org.apache.spark.sql.types.LongType)))
        .select(col("doc_id"), col("lbl").as("unit"))
        .withColumn("split", Clusters.splitCoin(col("unit"), 80))
      val splitPath = new java.io.File(outBase, "split").getAbsolutePath
      split.write.mode("overwrite").parquet(splitPath)
      s.read.schema(split.schema).parquet(splitPath)
    }
  }

  /** s20's default edge-collect cap. */
  private final val EdgeCap = 1 << 17

  // ---------------------------------------------------------------- s21
  /** documents (doc_id, lang, n_chars) split into 3 replay files by
    * doc_id % 3 — the quantile stream's micro-batch source (one fixture
    * per (session, sfDir) like [[admissionReplayDir]]). */
  private def quantReplayDir(s: SparkSession, d: String): File =
    replayFixture(s, "quant::" + d)(byDocMod3(graft.Tables.documents(s, d)
      .select("doc_id", "lang", "source", "n_chars")))

  /** s21 — STREAMING quantiles: the x59 bottom-k sample sketch
    * maintained by a streaming aggregation, completing the streaming
    * sketch-table family (s12/s13/s14 cardinality, s16 stored HLL —
    * this is the QUANTILE column: "p50/p95 doc length per language so
    * far" over an unbounded ingest stream, in ≤16·k bytes of state per
    * group).
    *
    * Bottom-k is the ONLY quantile sketch here that can face a batch
    * oracle at all: GK/KLL compact lazily and are arrival-order
    * sensitive, while a bottom-k set under the (hash, value) total
    * order is a pure function of the input MULTISET — so two
    * micro-batches through real state-store serialize/merge round
    * trips must reproduce the batch x59 sketch BIT-FOR-BIT, and the
    * oracle is x59's own SQL. What the gate proves beyond x59: the
    * [[graft.functions.BottomK]] aggregate's merge path (partial heap
    * ⊕ deserialized state heap) is order-independent under arbitrary
    * batch splits — the property the rollup family (x62) asserts via
    * union associativity, here exercised by the streaming engine's own
    * state machinery instead of a hand-built fold.
    *
    * Output mode: complete (unwatermarked all-time aggregation), same
    * rationale as s12 — at production cardinality the sink policy is
    * update mode; the aggregation operator and its state are identical. */
  def s21(s: SparkSession, d: String): DataFrame = {
    // 2 files/trigger over the 3-way split = 2 micro-batches: the
    // second batch still forces the cross-batch state merge the gate
    // exists for; a third batch re-proves nothing (s19's finding)
    val stream = replayStream(s, quantReplayDir(s, d), 2)
    runToSink(s,
      Sketches.sampleQuantiles(stream, groupCol = "lang",
        idCol = "doc_id", valueCol = "n_chars"), "complete")
  }

  /** s22 — STREAMING weighted sampling: the x75 priority sample
    * maintained at ingest. The per-source (k+1)-row priority heap
    * ([[graft.functions.TopK]] rows under the (−q, id) total order) is
    * a mergeable sketch exactly like s21's bottom-k — a pure function
    * of the input multiset — so the streaming aggregation's state
    * round trips must reproduce the batch sample AND its threshold
    * estimator bit-for-bit (τ rides the same heap: it is the
    * (k+1)-th element). This closes the "sample the stream as it
    * arrives, answer subset-sums later" loop: a 100 TB ingest keeps
    * |sources|·(k+1) rows of state forever, and any later batch query
    * (x75) over the stored table gets the identical answer. Oracle =
    * x75's own SQL; complete mode, s12's rationale. */
  def s22(s: SparkSession, d: String): DataFrame = {
    val stream = replayStream(s, quantReplayDir(s, d), 2)
    runToSink(s,
      Sampling.prioritySample(stream, "source", "doc_id", "n_chars"),
      "complete")
  }

  /** s23 — HOPPING-window streaming counts: s02's aggregation with
    * duration 1 h > slide 30 min, the one event-time window semantics
    * the set lacked (s02 tumbling, s07 session, s13 windowed sketch).
    * Each event feeds exactly duration/slide = 2 overlapping windows
    * and every window must emit ONCE with its complete count when the
    * watermark passes its end (append mode) — double-assignment,
    * per-window eviction, and the overlap-bounded state multiplier all
    * gated at once. Oracle: the batch twin assigns each event its two
    * aligned window starts explicitly (k ∈ {0,1}). */
  def s23(s: SparkSession, d: String): DataFrame = {
    val stream = replayEvents(s, d)
    runToSink(s,
      WindowedCounts.byCarrierHopping(stream, "1 hour", "30 minutes",
        "2 minutes"), "append")
      .filter(col("carrier") =!= "none")
  }

  val s23Sql: String =
    s"""SELECT make_timestamp((epoch_ms(ts) // 1000 // 1800 - k) * 1800 * 1000000)
       |    AS win_start,
       |  $carrierSql AS carrier,
       |  CASE WHEN event_type = 'purchase' THEN 'delivered' ELSE 'sent' END AS status,
       |  count(*) AS cnt
       |FROM events, (SELECT unnest(range(0, 2)) AS k) t
       |GROUP BY 1, 2, 3""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s23_hopping_window" -> (s23 _),
    "s22_stream_sample" -> (s22 _),
    "s21_stream_quantiles" -> (s21 _),
    "s20_leakage_split" -> ((s: SparkSession, d: String) => s20(s, d)),
    "s19_stream_diff" -> (s19 _),
    "s24_diff_rearrive" -> (s24 _),
    "s18_stream_funnel" -> (s18 _),
    "s17_stream_admission" -> (s17 _),
    "s16_sketch_table" -> (s16 _),
    "s15_late_drop" -> (s15 _),
    "s14_update_hll" -> (s14 _),
    "s01_undelivered_stream" -> (s01 _),
    "s01_tws_stream" -> (s01Tws _),
    "s02_windowed_stream" -> (s02 _),
    "s03_generator" -> (s03 _),
    "s04_stream_dedup" -> (s04 _),
    "s05_interval_join" -> (s05 _),
    "s06_stream_enrich" -> (s06 _),
    "s07_session_stream" -> (s07 _),
    "s08_outer_join" -> (s08 _),
    "s09_chained_agg" -> (s09 _),
    "s10_stream_upsert" -> (s10 _),
    "s11_kafka_pipeline" -> (s11 _),
    "s12_stream_hll" -> (s12 _),
    "s13_windowed_hll" -> (s13 _),
  )

  val oracleSql: Map[String, String] = Map(
    "s23_hopping_window" -> s23Sql,
    "s22_stream_sample" -> Sampling.x75Sql,
    "s21_stream_quantiles" -> Sketches.x59Sql,
    "s20_leakage_split" -> Clusters.x55Sql,
    "s19_stream_diff" -> Diff.x69Sql,
    "s24_diff_rearrive" -> s24Sql,
    "s18_stream_funnel" -> Funnel.x67Sql,
    "s17_stream_admission" -> s17Sql,
    "s16_sketch_table" -> s12Sql,
    "s15_late_drop" -> s15Sql,
    "s14_update_hll" -> s14Sql,
    "s01_undelivered_stream" -> s01Sql,
    "s01_tws_stream" -> s01Sql,
    "s02_windowed_stream" -> s02Sql,
    "s03_generator" -> s03Sql,
    "s04_stream_dedup" -> s04Sql,
    "s05_interval_join" -> s05Sql,
    "s06_stream_enrich" -> s06Sql,
    "s07_session_stream" -> s07Sql,
    "s08_outer_join" -> s08Sql,
    "s09_chained_agg" -> s09Sql,
    "s10_stream_upsert" -> s10Sql,
    "s11_kafka_pipeline" -> s01Sql,
    "s12_stream_hll" -> s12Sql,
    "s13_windowed_hll" -> s13Sql,
  )
}
