package graft

import java.io.File
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.SparkSession

/** Every temp directory the engine makes, and the one owner of DERIVED
  * fixtures: the layouts a query writes once per application and then
  * reads (the replay batches and event splits, q24's partitioned
  * orders, q33's status dim, q34's evolved orders, q36's split fact and
  * dim, the normalized events copy) all come from [[derived]]. Their
  * root is `java.io.tmpdir`: a bench run points it into its own work
  * dir, so a run writes only inside its checkout. The scratch that
  * replays churn through (checkpoints, state, kept outputs) goes to
  * [[scratchDir]] instead. */
private[graft] object TempDirs {

  def deleteRecursively(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  /** Register `dir` for recursive deletion at JVM exit and return it. */
  def deleteOnExit(dir: File): File = {
    Runtime.getRuntime.addShutdownHook(
      new Thread(() => deleteRecursively(dir)))
    dir
  }

  /** Below this much usable space on `/dev/shm`, Spark's scratch
    * goes to the JVM temp dir instead: tmpfs is RAM, and spills happen
    * exactly when memory is short. */
  val MinShmUsableBytes: Long = 2L << 30

  /** Where the per-process scratch dir goes: `shm` when it is a
    * writable directory with at least [[MinShmUsableBytes]] free, else
    * `java.io.tmpdir`. */
  private[graft] def scratchRoot(shm: File): File =
    if (shm.isDirectory && shm.canWrite && shm.getUsableSpace >= MinShmUsableBytes) shm
    else jvmTmp

  private def jvmTmp: File = new File(System.getProperty("java.io.tmpdir"))

  /** Every derived-fixture dir, one per (application, key). */
  private val derivedDirs = new ConcurrentHashMap[String, File]()

  /** The derived fixture for `key` in `s`'s application: a new dir
    * under `java.io.tmpdir`, filled by `build` on first use, removed at
    * JVM exit. Built OUTSIDE the map (no computeIfAbsent): a build is a
    * Spark write job and must not stall other callers behind a bin
    * lock. Each racing builder writes its own fresh dir, so a losing
    * duplicate never interleaves files with the winner; `putIfAbsent`
    * keeps one, and the loser's is reaped at exit. A build that throws
    * caches nothing. */
  def derived(s: SparkSession, key: String)(build: File => Unit): File = {
    val k = s.sparkContext.applicationId + "::" + key
    Option(derivedDirs.get(k)).getOrElse {
      val dir = deleteOnExit(java.nio.file.Files
        .createTempDirectory(jvmTmp.toPath, "graft_fixture_").toFile)
      build(dir)
      Option(derivedDirs.putIfAbsent(k, dir)).getOrElse(dir)
    }
  }

  /** A new directory under `root`, named for this process and removed
    * at JVM exit. */
  private[graft] def processDir(root: File): File =
    deleteOnExit(java.nio.file.Files.createTempDirectory(root.toPath,
      s"graft-local-${ProcessHandle.current.pid}-").toFile)

  private val Shm = new File("/dev/shm")

  private lazy val processLocalDir: String =
    processDir(scratchRoot(Shm)).getAbsolutePath

  /** A new scratch directory under [[scratchRoot]]: tmpfs when the host
    * has room, else the JVM temp dir. The streaming replays run to
    * completion and discard everything they write, so durability buys
    * nothing and tmpfs takes the I/O off disk (measured ~40% off the
    * outer-join replay for the checkpoint alone; the upsert/sketch-table
    * replays also read+rewrite their bucketed state through it every
    * micro-batch). Production deployments choose durable
    * checkpointLocation / state URIs — this shortcut is the HARNESS's,
    * shared by the checkpoint, replay-state and replay-output paths. */
  def scratchDir(prefix: String): File =
    java.nio.file.Files.createTempDirectory(scratchRoot(Shm).toPath, prefix).toFile

  /** Scratch root for `spark.local.dir` (shuffle files, spills, block
    * manager): a per-process directory on tmpfs when the host has one
    * with room to spare, else under the JVM temp dir — the same
    * host-shortcut rationale as the replays' scratch checkpoints. The
    * r15 jstack profile of the replay bench showed RUNNABLE executor
    * threads concentrated in BypassMergeSortShuffleWriter's
    * per-partition file writes + concatenation on the default /tmp (a
    * virtualized, co-tenant-contended disk); shuffle data here is
    * transient by definition and never needs to survive the app, and
    * the directory is deleted at exit so it never pins RAM past the
    * run (a killed JVM still leaves it). Production clusters point
    * spark.local.dir at their fast local devices — this picks this
    * box's. Spark's own `SPARK_LOCAL_DIRS` wins over `spark.local.dir`,
    * so when it is set it is returned and no directory is made. */
  def sparkLocalDir(): String =
    localDirFor(sys.env.get("SPARK_LOCAL_DIRS"), processLocalDir)

  /** `SPARK_LOCAL_DIRS` when set, else `fallback` — evaluated only then. */
  private[graft] def localDirFor(sparkLocalDirs: Option[String],
      fallback: => String): String =
    sparkLocalDirs.getOrElse(fallback)
}
