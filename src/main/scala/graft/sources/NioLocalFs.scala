package graft.sources

import java.net.URI
import java.nio.file.attribute.PosixFilePermission
import java.nio.file.attribute.PosixFilePermission._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FileStatus, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Local filesystems whose permission operations run in-process.
  *
  * The sandbox ships no libhadoop, so `NativeIO.isAvailable` is false
  * and stock [[RawLocalFileSystem]] falls back to
  * `Shell.execCommand("chmod", ...)` — a FORK+EXEC of the multi-GB
  * driver JVM for EVERY file create and EVERY directory create that
  * carries a permission (both `LocalFSFileOutputStream` and
  * `mkOneDirWithMode` route through `setPermission`). A foreachBatch
  * replay writing a few hundred scratch parquet leaves, task-attempt
  * temp dirs and checkpoint deltas per micro-batch was measured (jstack
  * sampling during the r15 baseline bench) with 10-22 of 32 executor
  * threads parked INSIDE `ProcessImpl.forkAndExec` — the dominant cost
  * of the whole streaming-replay family. `setOwner` keeps the (rare)
  * shell path; everything else is unchanged Hadoop behavior.
  *
  * [[NioRawLocalFileSystem]] replaces the shell chmod with one
  * `java.nio.file.Files.setPosixFilePermissions` call — same on-disk
  * result, no process. On a filesystem without POSIX views it falls
  * back to the parent's behavior, and so does a mode carrying a
  * setuid, setgid or sticky bit, which java.nio cannot set.
  *
  * The second fork is `readlink`, once per rename side. Every
  * checkpoint file Spark writes (offsets, commits, each state
  * `.delta`, and since Spark 4.1 the `.crc` of each) is a temp file
  * renamed into place through `FileContext`, and
  * `AbstractFileSystem.renameInternal` asks `getFileLinkStatus` of
  * the source and the destination. Without libhadoop the parent
  * answers with `FileUtil.readLink`, a shell `readlink` — about 20
  * forks per detector micro-batch, each handed the qualified
  * `file:/...` string, which `readlink` never resolves, so the target
  * always comes back empty. `getFileLinkStatus` here asks java.nio
  * first: a path that is not a symlink gets `getFileStatus`, which is
  * what the parent returns for it; a symlink still takes the parent's
  * path.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def getFileLinkStatus(f: Path): FileStatus =
    if (java.nio.file.Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if ((permission.toShort & NioLocalFs.SpecialBits) != 0)
      super.setPermission(p, permission) // setuid/setgid/sticky: no nio form
    else try {
      java.nio.file.Files.setPosixFilePermissions(
        pathToFile(p).toPath, NioLocalFs.posixOf(permission.toShort))
    } catch {
      case _: UnsupportedOperationException => super.setPermission(p, permission)
    }
}

object NioLocalFs {
  /** setuid (0x800), setgid (0x400) and sticky (0x200): bits that
    * `PosixFilePermission` cannot express. */
  val SpecialBits = 0xE00

  private val Bits: Seq[(Int, PosixFilePermission)] = Seq(
    0x100 -> OWNER_READ, 0x80 -> OWNER_WRITE, 0x40 -> OWNER_EXECUTE,
    0x20 -> GROUP_READ, 0x10 -> GROUP_WRITE, 0x8 -> GROUP_EXECUTE,
    0x4 -> OTHERS_READ, 0x2 -> OTHERS_WRITE, 0x1 -> OTHERS_EXECUTE)

  def posixOf(mode: Short): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    Bits.foreach { case (bit, perm) => if ((mode & bit) != 0) s.add(perm) }
    s
  }
}

/** `file://` FileSystem-API implementation for the graft harness:
  * [[LocalFileSystem]] (the class `RocksDBFileManager` hard-casts
  * `FileSystem.getLocal` to — zip/copyFromLocalFile — so the TYPE must
  * be preserved) over the fork-free raw FS, with `.crc` sidecar
  * WRITING off by default: every scratch parquet leaf the replays and
  * iterative operators write otherwise creates a second file (its own
  * create + chmod) that nothing reads back before the dir is deleted —
  * the FileContext half of this finding shipped in round 12
  * (RawLocalFs for checkpoint WALs); this closes the FileSystem-API
  * half without losing the LocalFileSystem type. Reads still verify
  * against any `.crc` that exists (verifyChecksum stays on), so
  * pre-existing checksummed data keeps its integrity check. */
class GraftLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem) {
  override def initialize(uri: URI, conf: Configuration): Unit = {
    super.initialize(uri, conf)
    setWriteChecksum(false)
  }
}

/** `file://` AbstractFileSystem (FileContext API — what Spark's
  * streaming CheckpointFileManager resolves) over the fork-free raw
  * FS: the stock RawLocalFs harness default from round 12 removed the
  * `.crc` sidecars but still shell-chmods every WAL/offset/state-delta
  * create. Constructor shape is the reflection contract
  * `(URI, Configuration)`, same as Hadoop's own RawLocalFs. */
class GraftRawLocalFs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(
    uri, new NioRawLocalFileSystem, conf, "file", false)
