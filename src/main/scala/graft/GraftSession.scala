package graft

import org.apache.spark.sql.SparkSession

/** The one engine session. Every main and the test suite start through
  * [[start]], so what is measured, verified and tested is one set of
  * confs. The only settings left to the deployment are the core count
  * (`SPARK_GRAFT_CPUS`, else the JVM's processor count), the heap
  * (the JVM's `-Xmx`, see `build.sbt`) and the scratch directory
  * (`SPARK_GRAFT_LOCAL_DIR`, see [[TempDirs.sparkLocalDir]]).
  *
  * Nothing a query builder runs may touch this object: its first use
  * costs session start-up, which belongs to the caller, not to a query.
  */
object GraftSession {

  private val CoresVar = "SPARK_GRAFT_CPUS"

  /** Cores for `local[n]` and the static shuffle-partition count. */
  def hostCores: Int = parseCores(sys.env.get(CoresVar))

  /** `SPARK_GRAFT_CPUS` when set, which must be a positive integer;
    * unset, the JVM's processor count. */
  private[graft] def parseCores(value: Option[String]): Int = value match {
    case None => Runtime.getRuntime.availableProcessors
    case Some(v) => v.trim.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"$CoresVar must be a positive integer, got '$v'"))
  }

  def confs(cores: Int, localDir: String): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.adaptive.enabled" -> "true",
    // size reducers by bytes, not cluster parallelism: tiny shuffles
    // coalesce to a few tasks locally; at scale AQE keeps thousands
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
    // Let AQE size CACHED-plan output partitioning by bytes too: the
    // persisted signature relations (Dedup.persistShared — x02/x74/
    // x76/x77 and SimJoin.rankedOf) otherwise materialize at the
    // session's static shuffle-partition count and every downstream
    // consumer stage inherits that task count — measured 1.4-1.6x
    // per-task overhead at sf0.1 (32 vs 8 partitions) with identical
    // results; at scale the same byte-based rule keeps the cache
    // wide. (r15, guide §2 right-sizing.)
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    // naive fixture timestamps read as UTC instants, as DuckDB reads them
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false",
    // Every execution start (and every AQE replan) stringifies the
    // physical plan on the MAIN thread for the listener event; with
    // wide expression trees (language-ID CaseWhen, 16-permutation
    // minhash projections) formatted-mode explain showed up as
    // multi-second single-threaded stalls in jstack samples. Cap the
    // string and use simple mode — nothing reads plan descriptions.
    "spark.sql.maxPlanStringLength" -> "65536",
    "spark.sql.ui.explainMode" -> "simple",
    "spark.sql.ui.retainedExecutions" -> "4",
    // ObjectHashAggregateExec (every TypedImperativeAggregate —
    // BoundedSet, HLL, CMS, bottom-k — and every collect_set /
    // collect_list) falls back to SORT-BASED aggregation once a
    // partition sees more than this many distinct keys; the default
    // is 128, so x18's per-shingle-hash aggregation (millions of
    // groups) always sorted its full input, and that sort's external
    // sorter spills to disk exactly when the session heap is crowded
    // — the mechanism behind the 17× same-code swing on x18 between
    // a fresh JVM and a late-session run. The threshold is KEY-COUNT
    // based, not memory-based: 1M keys × ~100 B of state ≈ 100 MB per
    // concurrently aggregating task (3.2 GB at 32 tasks against a
    // 16 GB heap). 1M still keeps x18's per-partition shingle-hash
    // group counts (~150 K/partition at sf0.1) hash-based; past the
    // threshold the sort fallback protects (the 100× rehearsal path).
    // Execution strategy only — results are identical either way.
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "1048576",
    // Janino-compiled class cache (STATIC conf, default 100 entries).
    // A 143-query session cycles 100 entries constantly, so even
    // byte-identical generated sources recompile on every run — and
    // streaming replays generate per-batch sources (watermark values
    // are literal-embedded in stateful operators' predicates), which
    // a warm cache turns into once-per-session compiles because the
    // fixture's watermark sequence is deterministic. Probe measured
    // 12–20 compiles per WARM replay with the default cache; tasks
    // of a stage serialize behind the compile (run≈900ms/task,
    // cpu≈30ms/task on one-row sentinel batches).
    "spark.sql.codegen.cache.maxEntries" -> "8192",
    // Stable executor classloader across streaming query runs: with
    // artifact isolation ON (the Spark 4 default) every streaming
    // query RUN gets its own ExecutorClassLoader, and the codegen
    // cache keys on (classloader, source) — so every replay recompiled
    // every generated class (probe: 12-35 Janino compiles, 0.4-1.9 s,
    // per WARM replay; identical sources, different loader). The
    // engine loads no session artifacts, so isolation buys nothing.
    "spark.sql.artifact.isolation.enabled" -> "false",
    // Raw (un-checksummed) local fs for the Hadoop FileContext API —
    // what Spark's CheckpointFileManager uses for streaming WAL /
    // offset / state-delta writes: the default LocalFs is checksum-
    // wrapped and writes a .crc sidecar per file per micro-batch,
    // which nothing here ever reads back (scratch checkpoints are
    // deleted at stop). Probe A/B (min-of-5): s15 1.96→1.60 s,
    // s11 3.57→3.22 s, others ≤ noise. GraftRawLocalFs is also
    // fork-free on the checkpoint path: every checkpoint file is a
    // temp file renamed into place, and stock Hadoop asks the link
    // status of both rename sides with a shell `readlink` (about 20
    // forks of this JVM per detector micro-batch; see
    // graft.sources.NioLocalFs).
    "spark.hadoop.fs.AbstractFileSystem.file.impl" ->
      "graft.sources.GraftRawLocalFs",
    // Fork-free local FS for the FileSystem API too (r15): with no
    // libhadoop in the image, stock local FS shell-execs a chmod —
    // a fork+exec of this multi-GB JVM — for EVERY file/dir create
    // (jstack: 10-22 of 32 executor threads inside forkAndExec
    // during replay writes). The type must stay a LocalFileSystem:
    // RocksDBFileManager hard-casts FileSystem.getLocal to it
    // (zip/copyFromLocalFile). graft.sources.NioLocalFs documents
    // the finding.
    "spark.hadoop.fs.file.impl" -> "graft.sources.GraftLocalFileSystem",
    // Shuffle/spill scratch (see TempDirs.sparkLocalDir): jstack'd
    // replay benches spent most RUNNABLE executor samples in
    // BypassMergeSortShuffleWriter file writes+concat against the
    // default /tmp disk.
    "spark.local.dir" -> localDir,
    // Replays stop their queries and unload state stores explicitly;
    // a short maintenance interval is a second line of defense so a
    // terminated replay's providers never sit loaded for the default
    // 60 s while later queries run.
    "spark.sql.streaming.stateStore.maintenanceInterval" -> "15s")

  /** The session of [[confs]] for this host, at log level ERROR. In a
    * JVM that already has a session, Spark returns that one with the
    * runtime confs applied. */
  def start(): SparkSession = {
    val b = SparkSession.builder()
    confs(hostCores, TempDirs.sparkLocalDir())
      .foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
