package graft.sources

import java.io.FileNotFoundException
import java.nio.file.Files
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._
import scala.util.Try

import graft.SparkSpec
import graft.sources.memkafka.{MemBroker, MemKafkaProvider}
import graft.streaming.{Generator, MessageStatus, UndeliveredAlert, UndeliveredDetector}
import jdk.jfr.consumer.RecordingStream
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileAlreadyExistsException, FileContext, FileStatus, FileSystem, LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The fork-free local FS must be byte- and permission-compatible with
  * stock Hadoop local FS — it only changes HOW a chmod or a link-status
  * lookup happens (one java.nio call instead of a shell fork), never
  * the outcome. */
class NioLocalFsSpec extends SparkSpec {

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
        "GraftLocalFileSystem wrote a checksum sidecar")
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

  private def tempDir(prefix: String): java.io.File =
    Files.createTempDirectory(prefix).toFile

  private def rmTree(f: java.io.File): Unit = graft.TempDirs.deleteRecursively(f)

  /** Commands of the processes this JVM starts while `body` runs, as
    * JFR's `jdk.ProcessStart` records them. A marker process started
    * after `body` proves the stream has delivered everything before it. */
  private def forksDuring(body: => Unit): Seq[String] = {
    val marker = "graft-fork-marker-" + java.util.UUID.randomUUID()
    val seen = new ConcurrentLinkedQueue[String]()
    val drained = new CountDownLatch(1)
    val rs = new RecordingStream()
    try {
      rs.enable("jdk.ProcessStart")
      rs.onEvent("jdk.ProcessStart", e => {
        val cmd = e.getString("command")
        if (cmd.contains(marker)) drained.countDown() else seen.add(cmd)
      })
      rs.startAsync()
      body
      new ProcessBuilder("true", marker).start().waitFor()
      assert(drained.await(60, TimeUnit.SECONDS), "JFR never delivered the marker fork")
    } finally rs.close()
    seen.asScala.toSeq
  }

  private def readlinks(cmds: Seq[String], under: java.io.File): Seq[String] =
    cmds.filter(c => c.contains("readlink") && c.contains(under.getAbsolutePath))

  /** What a caller can observe of a link status, or the exception class. */
  private def linkView(fs: FileSystem, p: Path): Either[String, Seq[Any]] =
    Try(fs.getFileLinkStatus(p)).toEither.left.map(_.getClass.getName).map {
      (st: FileStatus) =>
        Seq(st.getPath, st.getLen, st.isDirectory, st.isSymlink,
          if (st.isSymlink) st.getSymlink else null,
          st.getModificationTime, st.getPermission)
    }

  test("getFileLinkStatus answers like stock RawLocalFileSystem for files, dirs and symlinks") {
    val conf = new Configuration(false)
    val uri = java.net.URI.create("file:///")
    val nio = new NioRawLocalFileSystem; nio.initialize(uri, conf)
    val stock = new RawLocalFileSystem; stock.initialize(uri, conf)
    val dir = tempDir("nio_link_spec_")
    try {
      val file = new java.io.File(dir, "file")
      Files.write(file.toPath, "abc".getBytes)
      val sub = new java.io.File(dir, "sub"); assert(sub.mkdir())
      val link = new java.io.File(dir, "link")
      Files.createSymbolicLink(link.toPath, file.toPath)
      val dangling = new java.io.File(dir, "dangling")
      Files.createSymbolicLink(dangling.toPath, new java.io.File(dir, "gone").toPath)
      val missing = new java.io.File(dir, "missing")
      for (f <- Seq(file, sub, link, dangling, missing)) {
        // both the bare path and the qualified `file:` form Spark passes
        for (p <- Seq(new Path(f.getAbsolutePath), nio.makeQualified(new Path(f.getAbsolutePath)))) {
          assert(linkView(nio, p) == linkView(stock, p), s"link status of $p")
        }
      }
      val viaBare = nio.getFileLinkStatus(new Path(link.getAbsolutePath))
      assert(viaBare.isSymlink)
      assert(viaBare.getSymlink == nio.makeQualified(new Path(file.getAbsolutePath)))
      assert(nio.getFileLinkStatus(new Path(dangling.getAbsolutePath)).isSymlink)
      intercept[FileNotFoundException](nio.getFileLinkStatus(new Path(missing.getAbsolutePath)))
      intercept[FileNotFoundException](
        nio.getFileLinkStatus(nio.makeQualified(new Path(missing.getAbsolutePath))))
    } finally rmTree(dir)
  }

  test("FileContext rename overwrites or refuses like stock, and forks no readlink") {
    val dir = tempDir("nio_rename_spec_")
    val stockConf = new Configuration(false)
    stockConf.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.RawLocalFs")
    def write(fc: FileContext, p: Path, body: String): Unit = {
      val out = fc.create(p, java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
      out.write(body.getBytes); out.close()
    }
    def read(p: Path): String =
      new String(Files.readAllBytes(new java.io.File(p.toUri.getPath).toPath))
    try {
      val uri = java.net.URI.create("file:///")
      val fc = FileContext.getFileContext(uri, newConf())
      val stockFc = FileContext.getFileContext(uri, stockConf)
      for ((name, c) <- Seq("graft" -> fc, "stock" -> stockFc)) {
        val src = new Path(new java.io.File(dir, s"$name.src").getAbsolutePath)
        val dst = new Path(new java.io.File(dir, s"$name.dst").getAbsolutePath)
        write(c, dst, "old")
        write(c, src, "new")
        intercept[FileAlreadyExistsException](c.rename(src, dst, Options.Rename.NONE))
        assert(read(dst) == "old", s"$name: a refused rename changed the destination")
        c.rename(src, dst, Options.Rename.OVERWRITE)
        assert(read(dst) == "new", s"$name")
        assert(!c.util.exists(src), s"$name")
      }
      // the checkpoint-file shape: temp file, then rename into place
      val forks = forksDuring {
        for (i <- 0 until 20) {
          val tmp = new Path(new java.io.File(dir, s".$i.tmp").getAbsolutePath)
          write(fc, tmp, s"batch $i")
          fc.rename(tmp, new Path(new java.io.File(dir, s"$i").getAbsolutePath),
            Options.Rename.OVERWRITE)
        }
      }
      assert(readlinks(forks, dir).isEmpty, s"readlink forks: ${readlinks(forks, dir).take(3)}")
      assert((0 until 20).forall(i => read(new Path(new java.io.File(dir, s"$i").getAbsolutePath)) == s"batch $i"))
    } finally rmTree(dir)
  }

  test("e2e: the detector on the fork-free filesystems, restarted mid-topic, alerts like alertsBatch") {
    // The rest of the suite runs on the session's stock filesystem; this
    // session selects the graft ones, so the checkpoint (offsets,
    // commits, state deltas and their checksum files) is written and
    // renamed through GraftRawLocalFs.
    val s = spark.newSession()
    s.conf.set("fs.AbstractFileSystem.file.impl", classOf[GraftRawLocalFs].getName)
    s.conf.set("fs.file.impl", classOf[GraftLocalFileSystem].getName)
    s.conf.set("fs.file.impl.disable.cache", "true")
    assert(FileContext.getFileContext(java.net.URI.create("file:///"),
      s.sessionState.newHadoopConf()).getDefaultFileSystem.isInstanceOf[GraftRawLocalFs])
    import s.implicits._
    val fmt = classOf[MemKafkaProvider].getName
    val topic = "nio_fs_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val tmp = tempDir("nio_fs_e2e_")
    val timeout = 120000L
    val ds = Generator.batch(s, 600L, timeoutMs = timeout).as[MessageStatus].cache()
    // event-time order, so no chunk is behind the watermark of the last
    val framed = KafkaIO.frameConfluent(ds.orderBy("timestamp", "messageId", "status"))
      .collect().map(r => (r.getAs[Array[Byte]](0), r.getAs[Array[Byte]](1)))
    val chunks = framed.grouped(framed.length / 4 + 1).toSeq
    assert(chunks.length == 4)
    val maxTs = ds.agg(org.apache.spark.sql.functions.max("timestamp")).as[Long].head()
    def sentinel(ts: Long) = KafkaIO.frameConfluent(
      Seq(MessageStatus("sentinel", "delivered", 0L, "none", ts)).toDS())
      .collect().map(r => (r.getAs[Array[Byte]](0), r.getAs[Array[Byte]](1))).toSeq

    val out = new java.io.File(tmp, "out").getAbsolutePath
    def consumer() = UndeliveredDetector.alerts(
      KafkaIO.unframeConfluent(
        s.readStream.format(fmt).option("topic", topic).load()), timeout)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", new java.io.File(tmp, "cons").getAbsolutePath)
      .outputMode("append").start()
    def feed(q: org.apache.spark.sql.streaming.StreamingQuery, recs: Seq[(Array[Byte], Array[Byte])]): Unit = {
      MemBroker.append(topic, recs); q.processAllAvailable()
    }
    val forks = try forksDuring {
      val c1 = consumer()
      chunks.take(2).foreach(feed(c1, _))
      c1.stop()
      val c2 = consumer()
      chunks.drop(2).foreach(feed(c2, _))
      feed(c2, sentinel(maxTs + 10 * timeout))
      feed(c2, sentinel(maxTs + 20 * timeout))
      c2.stop()
    } finally MemBroker.clear(topic)
    try {
      assert(readlinks(forks, tmp).isEmpty, s"readlink forks: ${readlinks(forks, tmp).take(3)}")
      val got = s.read.parquet(out).as[UndeliveredAlert]
        .collect().filterNot(_.messageId == "sentinel")
      val want = UndeliveredDetector.alertsBatch(ds, timeout).collect()
      assert(want.nonEmpty)
      assert(got.length == got.toSet.size, "an alert was emitted twice across the restart")
      assert(got.toSet == want.toSet,
        s"${got.toSet.diff(want.toSet).size} extra, ${want.toSet.diff(got.toSet).size} missing")
    } finally { ds.unpersist(); rmTree(tmp) }
  }
}
