package graft.storage

import java.io.{File, FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, InvalidPathException, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSDataInputStream,
  FSLinkResolver, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` filesystem, minus the child processes.
  *
  * Without `libhadoop`, Hadoop's `RawLocalFileSystem` runs `chmod` on
  * every `create` and every directory `mkdirs` makes, and `readlink` on
  * every `getFileLinkStatus` — which every `FileContext` rename calls
  * twice. Each costs a fork+exec (8–45 ms on a loaded 4-core host), and
  * a streaming micro-batch writes an offset, commit and source log file
  * plus parquet parts per layer. These classes do the same two
  * operations through `java.nio`, in process; everything else —
  * `.crc` sidecars, checksum verification, rename and permission
  * semantics — is Hadoop's own code, unchanged, except that the
  * one-arg `FileContext.open` verifies checksums too.
  *
  * [[GraftSession.staticConf]] registers them for both filesystem APIs
  * (`FileSystem` and the `FileContext` Spark's checkpoint manager uses);
  * only the `file:` scheme is affected. */
object LocalFs {

  /** Session confs routing `file:` through the fork-free classes. */
  val sessionConf: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" ->
      classOf[ForkFreeLocalFs].getName)
}

/** `RawLocalFileSystem` with in-process `setPermission` and link reads. */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  /** Same (already umasked) bits as the stock `chmod %04o`. A mode
    * beyond `rwxrwxrwx` (the sticky bit), which no POSIX attribute view
    * can set, keeps the stock path. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if ((permission.toShort & ~0x1ff) != 0) super.setPermission(p, permission)
    else try Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.toString))
    catch { case _: NoSuchFileException => throw new FileNotFoundException(p.toString) }

  /** `FileUtil.readLink` without forking `readlink`: the target of the
    * path string of `f` if it names a symlink, else "". The string is
    * taken as is, like the fork's argument, so a qualified `file:/…`
    * string is a relative path that never resolves and reads "". */
  private def readLink(f: Path): String =
    try Files.readSymbolicLink(new File(f.toString).toPath).toString.trim
    catch {
      case _: IOException | _: InvalidPathException |
           _: UnsupportedOperationException => ""
    }

  /** The stock (non-native) link status, answer for answer: a regular
    * status when `f` is no link, a status carrying the target when it
    * is, and for a dangling link a zero-length status with the target. */
  private def linkStatus(f: Path): FileStatus = {
    val target = readLink(f)
    try {
      val st = getFileStatus(f)
      if (target.isEmpty) st
      else new FileStatus(st.getLen, false, st.getReplication, st.getBlockSize,
        st.getModificationTime, st.getAccessTime, st.getPermission, st.getOwner,
        st.getGroup, new Path(target), f)
    } catch {
      case e: FileNotFoundException =>
        if (target.isEmpty) throw e
        new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "",
          new Path(target), f)
    }
  }

  override def getFileLinkStatus(f: Path): FileStatus = {
    val st = linkStatus(f)
    if (st.isSymlink)
      st.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, st.getPath, st.getSymlink))
    st
  }

  override def getLinkTarget(f: Path): Path = linkStatus(f).getSymlink
}

/** `FileSystem` side (`fs.file.impl`): Hadoop's checksummed
  * `LocalFileSystem` over the fork-free raw filesystem. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `FileContext` side (`fs.AbstractFileSystem.file.impl`): Hadoop's
  * `ChecksumFs` over the fork-free raw filesystem, as `local.LocalFs`
  * wraps `local.RawLocalFs` (which, like it, ignores the given URI). */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(conf)) {

  /** `ChecksumFs` verifies only in `open(path, bufferSize)`; the one-arg
    * form it inherits from `FilterFs` reads the raw file, and that is the
    * form Spark's checkpoint manager reads its offset and commit logs
    * with. */
  override def open(f: Path): FSDataInputStream =
    open(f, getServerDefaults(f).getFileBufferSize)
}

/** `local.RawLocalFs` with the fork-free filesystem as its delegate. */
private[storage] class ForkFreeRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
      new ForkFreeRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
