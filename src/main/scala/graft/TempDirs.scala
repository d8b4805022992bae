package graft

/** Shared temp-directory lifecycle for the fixture-shaped caches
  * (sentinels, event splits, dims, evolved layouts): one recursive
  * delete implementation and one register-at-exit path instead of a
  * copy per call site. */
private[graft] object TempDirs {

  def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  /** Register `dir` for recursive deletion at JVM exit and return it. */
  def deleteOnExit(dir: java.io.File): java.io.File = {
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
  private[graft] def scratchRoot(shm: java.io.File): java.io.File =
    if (shm.isDirectory && shm.canWrite && shm.getUsableSpace >= MinShmUsableBytes) shm
    else new java.io.File(System.getProperty("java.io.tmpdir"))

  /** A new directory under `root`, named for this process and removed
    * at JVM exit. */
  private[graft] def processDir(root: java.io.File): java.io.File =
    deleteOnExit(java.nio.file.Files.createTempDirectory(root.toPath,
      s"graft-local-${ProcessHandle.current.pid}-").toFile)

  private val Shm = new java.io.File("/dev/shm")

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
    * shared by the checkpoint, replay-state, replay-fixture and
    * replay-output paths. */
  def scratchDir(prefix: String): java.io.File =
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
    * box's. SPARK_GRAFT_LOCAL_DIR overrides (e.g. back to /tmp for
    * A/B). */
  def sparkLocalDir(): String =
    sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR", processLocalDir)
}
