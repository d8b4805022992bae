package graft.sources

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** The fork-free local FS must be byte- and permission-compatible with
  * stock Hadoop local FS — it only changes HOW a chmod happens (one
  * java.nio call instead of a shell fork), never the outcome. */
class NioLocalFsSpec extends AnyFunSuite {

  private def newConf(): Configuration = {
    val c = new Configuration(false)
    c.set("fs.file.impl", classOf[GraftLocalFileSystem].getName)
    c.set("fs.AbstractFileSystem.file.impl", classOf[GraftRawLocalFs].getName)
    c.setBoolean("fs.file.impl.disable.cache", true)
    c
  }

  test("posixOf maps every permission bit like FsPermission") {
    for (mode <- Seq(0x1ff, 0x1ed, 0x180, 0x124, 0x0)) {
      val set = NioLocalFs.posixOf(mode.toShort)
      val viaString = java.nio.file.attribute.PosixFilePermissions
        .fromString(new FsPermission(mode.toShort).toString)
      assert(set.equals(viaString),
        s"mode ${Integer.toOctalString(mode)}: $set != $viaString")
    }
  }

  test("setPermission applies the mode without a shell fork") {
    val fs = FileSystem.get(java.net.URI.create("file:///"), newConf())
    assert(fs.isInstanceOf[GraftLocalFileSystem])
    assert(fs.isInstanceOf[LocalFileSystem]) // the RocksDBFileManager cast
    val dir = Files.createTempDirectory("nio_fs_spec_").toFile
    try {
      val p = new Path(new java.io.File(dir, "f").getAbsolutePath)
      val out = fs.create(p, new FsPermission("640"), false, 4096,
        1.toShort, 4096L, null)
      out.write(Array[Byte](1, 2, 3)); out.close()
      val perms = Files.getPosixFilePermissions(new java.io.File(dir, "f").toPath)
      assert(perms == NioLocalFs.posixOf(Integer.parseInt("640", 8).toShort))
      // mkdirs with explicit permission (the mkOneDirWithMode path);
      // stock Hadoop applies the umask to directory permissions — the
      // NIO path must land on the identical final mode
      val dp = new Path(new java.io.File(dir, "sub/leaf").getAbsolutePath)
      fs.mkdirs(dp, new FsPermission("750"))
      val got = Files.getPosixFilePermissions(
        new java.io.File(dir, "sub/leaf").toPath)
      val expected = NioLocalFs.posixOf(new FsPermission("750")
        .applyUMask(FsPermission.getUMask(fs.getConf)).toShort)
      assert(got == expected)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(dir)
    }
  }

  test("a sticky-bit mode reaches the directory like stock Hadoop's chmod") {
    val fs = FileSystem.get(java.net.URI.create("file:///"), newConf())
    val dir = Files.createTempDirectory("nio_fs_special_").toFile
    def mode(f: java.io.File): Int =
      Files.getAttribute(f.toPath, "unix:mode").asInstanceOf[Integer] & 0xfff
    try {
      val d = new java.io.File(dir, "shared")
      assert(d.mkdir())
      // FsPermission carries the sticky bit (0x200) in toShort; the nio
      // permission set cannot, so such a mode takes the parent's path
      for (m <- Seq("1777", "1750", "0750")) {
        val want = Integer.parseInt(m, 8)
        fs.setPermission(new Path(d.getAbsolutePath), new FsPermission(want.toShort))
        assert(mode(d) == want, s"mode ${Integer.toOctalString(mode(d))}, expected $m")
      }
    } finally {
      Option(dir.listFiles()).foreach(_.foreach(_.delete())); dir.delete()
    }
  }

  test("write skips .crc sidecars by default; read-back is intact") {
    val fs = FileSystem.get(java.net.URI.create("file:///"), newConf())
    val dir = Files.createTempDirectory("nio_fs_crc_").toFile
    try {
      val p = new Path(new java.io.File(dir, "data").getAbsolutePath)
      val out = fs.create(p)
      out.write("payload".getBytes); out.close()
      assert(!new java.io.File(dir, ".data.crc").exists(),
        "checksum sidecar written despite SPARK_GRAFT_LOCAL_CRC unset")
      val in = fs.open(p)
      val buf = new Array[Byte](7); in.readFully(buf); in.close()
      assert(new String(buf) == "payload")
    } finally {
      Option(dir.listFiles()).foreach(_.foreach(_.delete())); dir.delete()
    }
  }

  test("FileContext API resolves the fork-free AbstractFileSystem") {
    val fc = FileContext.getFileContext(
      java.net.URI.create("file:///"), newConf())
    val dir = Files.createTempDirectory("nio_afs_spec_").toFile
    try {
      val p = new Path(new java.io.File(dir, "wal").getAbsolutePath)
      import org.apache.hadoop.fs.CreateFlag
      val out = fc.create(p,
        java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
      out.write("offsets".getBytes); out.close()
      val in = fc.open(p)
      val buf = new Array[Byte](7); in.readFully(buf); in.close()
      assert(new String(buf) == "offsets")
      assert(!new java.io.File(dir, ".wal.crc").exists(),
        "AbstractFileSystem path must stay raw (no checksum sidecars)")
    } finally {
      Option(dir.listFiles()).foreach(_.foreach(_.delete())); dir.delete()
    }
  }
}
