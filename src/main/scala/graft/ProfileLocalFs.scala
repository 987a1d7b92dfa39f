package graft

import graft.storage.{ForkFreeLocalFileSystem, ForkFreeLocalFs}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, LocalFileSystem, Options, Path}
import java.net.URI
import java.nio.file.Files
import java.util.EnumSet

/** Per-operation cost of the `file:` filesystem: Hadoop's stock classes
  * against the fork-free ones ([[graft.storage.LocalFs]]). Each round
  * runs `ops` fresh directories through both sides in turn (so host
  * drift hits both); round 0 is JIT warm-up and is dropped. Prints, per
  * operation and side, the median and p90 milliseconds per call.
  *
  *   sbt "runMain graft.ProfileLocalFs [rounds=6] [ops=20]"
  */
object ProfileLocalFs {
  type Op = (FileSystem, FileContext, Path) => Unit

  def main(args: Array[String]): Unit = {
    val rounds = args.headOption.map(_.toInt).getOrElse(6)
    val perRound = if (args.length > 1) args(1).toInt else 20
    val root = Files.createTempDirectory("graft_profile_localfs_")
    def fs(f: LocalFileSystem): FileSystem = {
      f.initialize(URI.create("file:///"), new Configuration()); f
    }
    def fc(impl: Option[String]): FileContext = {
      val c = new Configuration()
      impl.foreach(c.set("fs.AbstractFileSystem.file.impl", _))
      FileContext.getLocalFSFileContext(c)
    }
    val sides = Seq(
      "stock" -> (fs(new LocalFileSystem), fc(None)),
      "fork-free" -> (fs(new ForkFreeLocalFileSystem),
        fc(Some(classOf[ForkFreeLocalFs].getName))))
    val create = EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE)
    val ops: Seq[(String, Op)] = Seq(
      "fs.create+close" -> ((f, _, d) => f.create(new Path(d, "f")).close()),
      "fs.mkdirs (3 levels)" -> ((f, _, d) => f.mkdirs(new Path(d, "a/b/c"))),
      "fs.rename" -> ((f, _, d) => f.rename(new Path(d, "f"), new Path(d, "g"))),
      "fc.create+close" -> ((_, c, d) => c.create(new Path(d, "h"), create).close()),
      "fc.rename OVERWRITE" -> ((_, c, d) =>
        c.rename(new Path(d, "h"), new Path(d, "g"), Options.Rename.OVERWRITE)))
    val ms = scala.collection.mutable.Map.empty[(String, String), Vector[Double]]
      .withDefaultValue(Vector.empty)
    for (r <- 0 until rounds; (side, (f, c)) <- sides; i <- 0 until perRound) {
      val d = Files.createDirectories(root.resolve(s"$side/$r/$i"))
      ops.foreach { case (name, op) =>
        val t0 = System.nanoTime()
        op(f, c, new Path(d.toUri))
        if (r > 0) ms((name, side)) :+= (System.nanoTime() - t0) / 1e6
      }
    }
    def pct(xs: Vector[Double], q: Double) = xs.sorted.apply(((xs.size - 1) * q).toInt)
    for ((name, _) <- ops; (side, _) <- sides) {
      val xs = ms((name, side))
      println(f"[localfs] $name%-22s $side%-9s p50 ${pct(xs, 0.5)}%8.3f ms" +
        f"  p90 ${pct(xs, 0.9)}%8.3f ms  n=${xs.size}")
    }
    org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
  }
}
