package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** Where Spark's scratch directory goes: a per-process directory on
  * tmpfs when tmpfs has room, else under the JVM temp dir. */
class TempDirsSpec extends AnyFunSuite {

  private val tmpdir = new File(System.getProperty("java.io.tmpdir"))

  /** A real directory that reports `usable` bytes free. */
  private def dirWithSpace(dir: File, usable: Long): File =
    new File(dir.getPath) { override def getUsableSpace: Long = usable }

  test("tmpfs is used only with at least MinShmUsableBytes free") {
    val dir = java.nio.file.Files.createTempDirectory("tempdirs_root_").toFile
    try {
      val min = TempDirs.MinShmUsableBytes
      assert(TempDirs.scratchRoot(dirWithSpace(dir, min)).getPath == dir.getPath)
      assert(TempDirs.scratchRoot(dirWithSpace(dir, min - 1)) == tmpdir)
      assert(TempDirs.scratchRoot(new File(dir, "absent")) == tmpdir)
    } finally TempDirs.deleteRecursively(dir)
  }

  test("the scratch dir is a per-process subdirectory, stable within the process") {
    val root = java.nio.file.Files.createTempDirectory("tempdirs_proc_").toFile
    try {
      val d = TempDirs.processDir(root)
      assert(d.isDirectory && d.getParentFile == root)
      assert(d.getName.startsWith(s"graft-local-${ProcessHandle.current.pid}-"))
      assert(TempDirs.processDir(root) != d, "two calls share one directory")
    } finally TempDirs.deleteRecursively(root)
    if (!sys.env.contains("SPARK_GRAFT_LOCAL_DIR")) {
      val local = new File(TempDirs.sparkLocalDir())
      assert(local.isDirectory)
      assert(Set(new File("/dev/shm"), tmpdir).contains(local.getParentFile))
      assert(TempDirs.sparkLocalDir() == local.getAbsolutePath)
    }
  }
}
