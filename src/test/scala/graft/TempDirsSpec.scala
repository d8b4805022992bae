package graft

import java.io.File

/** Where Spark's scratch directory goes: Spark's own `SPARK_LOCAL_DIRS`
  * when set, else a per-process directory on tmpfs when tmpfs has room,
  * else under the JVM temp dir. And the derived-fixture builder: one
  * dir per (application, key) under the JVM temp dir, built once. */
class TempDirsSpec extends SparkSpec {

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
    if (!sys.env.contains("SPARK_LOCAL_DIRS")) {
      val local = new File(TempDirs.sparkLocalDir())
      assert(local.isDirectory)
      assert(Set(new File("/dev/shm"), tmpdir).contains(local.getParentFile))
      assert(TempDirs.sparkLocalDir() == local.getAbsolutePath)
    }
  }

  test("SPARK_LOCAL_DIRS, when set, is the local dir and nothing is made") {
    assert(TempDirs.localDirFor(Some("/a,/b"),
      fail("the per-process dir was made although SPARK_LOCAL_DIRS is set")) == "/a,/b")
    assert(TempDirs.localDirFor(None, "/fallback") == "/fallback")
  }

  private def uniqueKey(tag: String): String =
    s"spec-$tag-" + java.util.UUID.randomUUID()

  test("derived: the same (app, key) returns the same dir without rebuilding; another key another dir") {
    val key = uniqueKey("same")
    var builds = 0
    def build(dir: File): Unit = { builds += 1; new File(dir, "built").createNewFile() }
    val a = TempDirs.derived(spark, key)(build)
    val b = TempDirs.derived(spark, key)(build)
    assert(a == b)
    assert(builds == 1, "a cache hit rebuilt the fixture")
    assert(new File(a, "built").isFile)
    val c = TempDirs.derived(spark, uniqueKey("other"))(build)
    assert(c != a)
    assert(builds == 2)
  }

  test("derived dirs lie under java.io.tmpdir") {
    val dir = TempDirs.derived(spark, uniqueKey("root"))(_ => ())
    assert(dir.isDirectory)
    assert(dir.getCanonicalFile.getParentFile == tmpdir.getCanonicalFile)
  }

  test("a derived build that throws caches nothing, so the next call builds") {
    val key = uniqueKey("throw")
    intercept[IllegalStateException] {
      TempDirs.derived(spark, key)(_ => throw new IllegalStateException("build failed"))
    }
    var built = false
    TempDirs.derived(spark, key)(_ => built = true)
    assert(built, "the failed build was cached")
  }

  test("q24 reads its partitioned orders from the dir the builder holds for its key") {
    val files = operators.Bucketed.prunedScan(spark, sf).inputFiles.toSeq
    val dir = TempDirs.derived(spark, s"q24::$sf")(_ =>
      fail("q24's layout was not built through TempDirs.derived")).getCanonicalPath
    assert(files.nonEmpty)
    files.foreach { f =>
      val path = new File(new java.net.URI(f).getPath).getCanonicalPath
      assert(path.startsWith(dir + File.separator), s"$path lies outside $dir")
    }
  }
}
