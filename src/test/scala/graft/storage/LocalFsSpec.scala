package graft.storage

import graft.SparkTestBase
import graft.sinks.Sinks
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileAlreadyExistsException,
  FileContext, FileStatus, FileSystem, LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import java.io.RandomAccessFile
import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import java.util.EnumSet
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import scala.jdk.CollectionConverters._

/** The fork-free `file:` filesystem answers as the stock one does —
  * permission bits, `.crc` sidecars and their verification, rename
  * semantics, link status — and the session's file work starts no
  * child process through Hadoop's `Shell`. */
class LocalFsSpec extends SparkTestBase {
  import spark.implicits._

  private val root = URI.create("file:///")
  private def tmp(): String = Files.createTempDirectory("graft_localfs_").toString

  private def fileSystem(fs: LocalFileSystem): LocalFileSystem = {
    fs.initialize(root, new Configuration()); fs
  }
  private def stockFs() = fileSystem(new LocalFileSystem())
  private def freeFs() = fileSystem(new ForkFreeLocalFileSystem)
  private def stockFc() = FileContext.getLocalFSFileContext(new Configuration())
  private def freeFc() = {
    val c = new Configuration()
    c.set("fs.AbstractFileSystem.file.impl", classOf[ForkFreeLocalFs].getName)
    FileContext.getLocalFSFileContext(c)
  }

  /** Every path under `dir` (relative) with its mode, `.crc` files too. */
  private def modes(dir: String): Map[String, String] = {
    val base = Paths.get(dir)
    Files.walk(base).iterator().asScala.filter(_ != base).map { p =>
      base.relativize(p).toString ->
        PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    }.toMap
  }

  private def write(out: java.io.OutputStream, bytes: Array[Byte]): Unit =
    try out.write(bytes) finally out.close()

  private def flipFirstByte(file: String): Unit = {
    val f = new RandomAccessFile(file, "rw")
    try { val b = f.read(); f.seek(0); f.write(b ^ 0xff) } finally f.close()
  }

  private val payload = Array.tabulate[Byte](1500)(i => (i * 31).toByte)

  test("parity: permission bits after create and multi-level mkdirs") {
    val (a, b) = (tmp(), tmp())
    val (sFs, fFs) = (stockFs(), freeFs())
    val (sFc, fFc) = (stockFc(), freeFc())
    for ((dir, fs, fc) <- Seq((a, sFs, sFc), (b, fFs, fFc))) {
      write(fs.create(new Path(s"$dir/fs/f")), payload)
      write(fs.create(new Path(s"$dir/fs/private"), new FsPermission("600"),
        false, 4096, 1.toShort, 1L << 20, null), payload)
      fs.mkdirs(new Path(s"$dir/fs/a/b/c"))
      fs.mkdirs(new Path(s"$dir/fs/d/e"), new FsPermission("700"))
      fc.mkdir(new Path(s"$dir/fc/a/b/c"), FsPermission.getDirDefault, true)
      write(fc.create(new Path(s"$dir/fc/a/f"),
        EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE)), payload)
    }
    assert(modes(b) == modes(a))
    // the default umask (022) applied, not the JVM's defaults
    val m = modes(b)
    assert(m("fs/f") == "rw-r--r--" && m("fs/.f.crc") == "rw-r--r--")
    assert(m("fs/private") == "rw-------")
    assert(Seq("fs/a", "fs/a/b", "fs/a/b/c", "fc/a", "fc/a/b", "fc/a/b/c")
      .forall(m(_) == "rwxr-xr-x"), m)
    assert(m("fs/d/e") == "rwx------")
    assert(m("fc/a/f") == "rw-r--r--")
    Seq(sFs, fFs).foreach(_.close())
  }

  test("parity: .crc sidecars written, a flipped byte fails verification") {
    val (a, b) = (tmp(), tmp())
    val (sFs, fFs) = (stockFs(), freeFs())
    val (sFc, fFc) = (stockFc(), freeFc())
    for ((dir, fs, fc) <- Seq((a, sFs, sFc), (b, fFs, fFc))) {
      write(fs.create(new Path(s"$dir/viaFs")), payload)
      write(fc.create(new Path(s"$dir/viaFc"),
        EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE)), payload)
      // clean bytes read back through both APIs
      val back = new Array[Byte](payload.length)
      val in = fs.open(new Path(s"$dir/viaFc"))
      try in.readFully(back) finally in.close()
      assert(back.sameElements(payload))
    }
    for (name <- Seq(".viaFs.crc", ".viaFc.crc"))
      assert(Files.readAllBytes(Paths.get(s"$b/$name")) sameElements
        Files.readAllBytes(Paths.get(s"$a/$name")), name)
    for ((dir, fs, fc) <- Seq((a, sFs, sFc), (b, fFs, fFc))) {
      Seq("viaFs", "viaFc").foreach(n => flipFirstByte(s"$dir/$n"))
      val buf = new Array[Byte](payload.length)
      intercept[ChecksumException] {
        val in = fs.open(new Path(s"$dir/viaFs")); try in.readFully(buf) finally in.close()
      }
      intercept[ChecksumException] {
        val in = fc.open(new Path(s"$dir/viaFc"), 4096); try in.readFully(buf) finally in.close()
      }
    }
    // Spark's checkpoint manager reads its logs through the one-arg
    // `FileContext.open`; stock `ChecksumFs` inherits `FilterFs`'s, which
    // reads the raw file, so only the fork-free side is held to it
    intercept[ChecksumException] {
      val buf = new Array[Byte](payload.length)
      val in = fFc.open(new Path(s"$b/viaFc")); try in.readFully(buf) finally in.close()
    }
    Seq(sFs, fFs).foreach(_.close())
  }

  test("parity: rename over an existing file (FileContext, FileSystem)") {
    val (a, b) = (tmp(), tmp())
    val (sFs, fFs) = (stockFs(), freeFs())
    for ((dir, fc, fs) <- Seq((a, stockFc(), sFs), (b, freeFc(), fFs))) {
      val create = EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE)
      write(fc.create(new Path(s"$dir/src"), create), payload)
      write(fc.create(new Path(s"$dir/dst"), create), "old".getBytes)
      write(fc.create(new Path(s"$dir/other"), create), "other".getBytes)
      intercept[FileAlreadyExistsException] {
        fc.rename(new Path(s"$dir/other"), new Path(s"$dir/dst"))
      }
      fc.rename(new Path(s"$dir/src"), new Path(s"$dir/dst"), Options.Rename.OVERWRITE)
      val back = new Array[Byte](payload.length)
      val in = fc.open(new Path(s"$dir/dst"))
      try in.readFully(back) finally in.close()
      assert(back.sameElements(payload))
      // FileSystem.rename onto an existing file: LocalFileSystem's answer
      write(fs.create(new Path(s"$dir/fsSrc")), "fs".getBytes)
      assert(fs.rename(new Path(s"$dir/fsSrc"), new Path(s"$dir/other")))
    }
    assert(modes(b) == modes(a))
    assert(modes(b).keySet == Set("dst", ".dst.crc", "other", ".other.crc"))
    assert(Files.readString(Paths.get(s"$b/other")) == "fs")
    Seq(sFs, fFs).foreach(_.close())
  }

  test("parity: link status/target: file, qualified path, symlink, dangling") {
    def raw(fs: RawLocalFileSystem) = { fs.initialize(root, new Configuration()); fs }
    val dir = tmp()
    Files.write(Paths.get(s"$dir/file"), payload)
    Files.createSymbolicLink(Paths.get(s"$dir/link"), Paths.get("file"))
    Files.createSymbolicLink(Paths.get(s"$dir/dangling"), Paths.get("missing"))

    type Shape = (Path, Boolean, Option[Path], Long, Boolean, FsPermission)
    type Outcome[A] = Either[(Class[_], String), A]
    type Api = Path => (Outcome[Shape], Outcome[Path])
    def shape(st: FileStatus): Shape = (st.getPath, st.isSymlink,
      if (st.isSymlink) Some(st.getSymlink) else None, st.getLen, st.isDirectory,
      st.getPermission)
    def outcome[A](f: => A): Outcome[A] =
      try Right(f) catch { case e: java.io.IOException => Left((e.getClass, e.getMessage)) }
    def ofFs(fs: FileSystem): Api = p =>
      (outcome(shape(fs.getFileLinkStatus(p))), outcome(fs.getLinkTarget(p)))
    def ofFc(fc: FileContext): Api = p =>
      (outcome(shape(fc.getFileLinkStatus(p))), outcome(fc.getLinkTarget(p)))
    val (sFs, fFs) = (stockFs(), freeFs())
    val apis: Seq[(String, Api, Api)] = Seq(
      ("raw", ofFs(raw(new RawLocalFileSystem)), ofFs(raw(new ForkFreeRawLocalFileSystem))),
      ("checksummed", ofFs(sFs), ofFs(fFs)),
      ("FileContext", ofFc(stockFc()), ofFc(freeFc())))
    for (name <- Seq("file", "link", "dangling");
         p <- Seq(new Path(s"$dir/$name"), new Path(s"file:$dir/$name"));
         (api, stock, free) <- apis)
      assert(free(p) == stock(p), s"$api $p")

    // what the stock answers are (so the parity above is not vacuous)
    val fs = ofFs(fFs)
    assert(fs(new Path(s"$dir/file"))._1.exists(_._2 == false))
    val (linkStatus, linkTarget) = fs(new Path(s"$dir/link"))
    assert(linkStatus.exists(s => s._2 && s._3.contains(new Path(s"file:$dir/file")) &&
      s._4 == payload.length))
    assert(linkTarget == Right(new Path("file")))
    // a qualified `file:` string never names a link for the stock readlink
    assert(fs(new Path(s"file:$dir/link"))._1.exists(_._2 == false))
    assert(fs(new Path(s"$dir/dangling"))._1.exists(s => s._2 && s._4 == 0L))
    assert(fs(new Path(s"file:$dir/dangling"))._1.left.exists(
      _._1 == classOf[java.io.FileNotFoundException]))
    Seq(sFs, fFs).foreach(_.close())
  }

  test("no fork: session file work + checkpointed micro-batch, no Shell process") {
    val hc = spark.sessionState.newHadoopConf()
    // the JVM-wide FileSystem cache must hold the fork-free class for
    // the session's confs, whichever spec touched `file:` first
    for (conf <- Seq(hc, spark.sparkContext.hadoopConfiguration))
      assert(FileSystem.get(root, conf).isInstanceOf[ForkFreeLocalFileSystem],
        FileSystem.get(root, conf).getClass.getName)
    val fs = FileSystem.get(root, hc)
    val fc = FileContext.getFileContext(root, hc)
    assert(fc.getDefaultFileSystem.isInstanceOf[ForkFreeLocalFs],
      fc.getDefaultFileSystem.getClass.getName)
    // Shell's class initializer probes for `setsid` once per JVM; run it
    // before recording so that only per-operation processes are counted
    Class.forName("org.apache.hadoop.util.Shell")

    val dir = tmp()
    val jfr = Files.createTempFile("graft_localfs_", ".jfr")
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try {
      for (i <- 0 until 50) {
        val d = new Path(s"$dir/fs/$i/a/b")
        fs.mkdirs(d)
        write(fs.create(new Path(d, "f")), payload)
        assert(fs.rename(new Path(d, "f"), new Path(d, "g")))
        val c = new Path(s"$dir/fc/$i/a/b")
        fc.mkdir(c, FsPermission.getDirDefault, true)
        val create = EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE)
        write(fc.create(new Path(c, "f"), create), payload)
        write(fc.create(new Path(c, "g"), create), payload)
        fc.rename(new Path(c, "f"), new Path(c, "g"), Options.Rename.OVERWRITE)
      }
      // one checkpointed micro-batch: file source → dual sink
      Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v").write.json(s"$dir/in")
      val q = Sinks.dualSink(
        spark.readStream.schema("id INT, v STRING").json(s"$dir/in"), s"$dir/cp",
        b => b.write.mode("append").parquet(s"$dir/lake"),
        b => b.write.mode("append").json(s"$dir/topic"),
        triggerMs = 100L)
      try q.processAllAvailable() finally q.stop()
      // a process this JVM starts itself: the recording does see them
      new ProcessBuilder("true").start().waitFor()
      rec.stop()
      rec.dump(jfr)
    } finally rec.close()

    val starts = RecordingFile.readAllEvents(jfr).asScala
      .filter(_.getEventType.getName == "jdk.ProcessStart").toSeq
    Files.delete(jfr)
    assert(starts.exists(_.getString("command") == "true"))
    val viaShell = starts.filter(e => Option(e.getStackTrace).exists(
      _.getFrames.asScala.exists(_.getMethod.getType.getName.startsWith("org.apache.hadoop.util.Shell"))))
    assert(viaShell.isEmpty, s"${viaShell.size} processes through Shell, first: " +
      viaShell.take(5).map(_.getString("command")).mkString("; "))
    assert(spark.read.parquet(s"$dir/lake").count() == 3)
    assert(spark.read.json(s"$dir/topic").count() == 3)
    assert((0 until 50).forall(i => fs.exists(new Path(s"$dir/fs/$i/a/b/g")) &&
      fs.exists(new Path(s"$dir/fc/$i/a/b/g"))))
  }
}
