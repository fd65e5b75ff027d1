package graft.sources

import java.io.IOException
import java.net.URI
import java.nio.file.{FileSystems, Files, InvalidPathException, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem with permissions set, and links
  * read, by a syscall.
  *
  * Without the native libhadoop, `RawLocalFileSystem.setPermission`
  * runs `chmod` as a child process (`Shell.execCommand`). Every file
  * create (and its `.crc` sidecar) and every `mkdir` goes through it,
  * so a partitioned parquet write forks once per part file, sidecar
  * and partition, `_temporary` and attempt directory, one after
  * another inside each write task. This class sets the same mode
  * with `chmod(2)` through the JDK's `unix:mode` attribute instead.
  *
  * Same outcome as `chmod NNNN path`: the mode bits are replaced, and
  * a directory keeps its setuid/setgid bits (coreutils keeps them for
  * an octal mode of four digits; a new directory inherits setgid from
  * a setgid parent). Modes with bits outside 0777 (sticky) and JDKs
  * without the `unix` attribute view take the stock path.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    import NioRawLocalFileSystem._
    val bits = permission.toShort.toInt
    if (!unixView || (bits & ~perm) != 0) super.setPermission(p, permission)
    else {
      val file = pathToFile(p).toPath
      val mode = Files.getAttribute(file, "unix:mode").asInstanceOf[Int]
      val keep = if ((mode & ifmt) == ifdir) mode & setId else 0
      Files.setAttribute(file, "unix:mode", Int.box(keep | bits))
    }
  }

  /** The stock (non-native) `getFileLinkStatus` runs `readlink` as a
    * process, and `FileContext.rename` asks it for the source, the
    * destination and both `.crc` sidecars. Here the link is read with
    * `readlink(2)`, at the same `f.toString` path (which, as in the
    * stock code, is not a link for a qualified `file:` path); a path
    * that is a link takes the stock path. */
  override def getFileLinkStatus(f: Path): FileStatus = {
    val isLink =
      try { Files.readSymbolicLink(Paths.get(f.toString)); true }
      catch {
        case _: IOException | _: InvalidPathException |
             _: UnsupportedOperationException => false
      }
    if (isLink) super.getFileLinkStatus(f) else getFileStatus(f)
  }
}

object NioRawLocalFileSystem {
  private val unixView =
    FileSystems.getDefault.supportedFileAttributeViews.contains("unix")
  // st_mode masks: rwx bits, file type, directory, setuid|setgid
  private val Seq(perm, ifmt, ifdir, setId) =
    Seq("777", "170000", "40000", "6000").map(Integer.parseInt(_, 8))
}

/** `fs.file.impl` of the session recipe: the stock checksummed local
  * filesystem over [[NioRawLocalFileSystem]], so `.crc` sidecars are
  * still written and verified on read.
  *
  * Without the recipe, `file:` resolves through the classpath's
  * FileSystem service registrations, and Spark's Hive jar registers
  * `ProxyLocalFileSystem` last: a `LocalFileSystem` whose one change
  * is that a rename onto an existing file returns false, as on HDFS.
  * That rule is kept here. */
class GraftLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem) {
  override def rename(src: Path, dst: Path): Boolean =
    !isFile(dst) && super.rename(src, dst)
}

/** `fs.AbstractFileSystem.file.impl` of the session recipe, the
  * `FileContext` twin of [[GraftLocalFileSystem]] that streaming
  * checkpoints and state stores write through. Stock
  * `org.apache.hadoop.fs.local.LocalFs` wraps a `RawLocalFs` that
  * builds its own stock `RawLocalFileSystem`; this is the same
  * `ChecksumFs` over a [[GraftLocalFs.Raw]] of the syscall one. The
  * `(URI, Configuration)` constructor is the one `AbstractFileSystem`
  * instantiates; like `LocalFs` it always serves `file:///`. */
class GraftLocalFs(uri: URI, conf: Configuration)
  extends ChecksumFs(new GraftLocalFs.Raw(conf))

object GraftLocalFs {
  /** `RawLocalFs` with its three overrides, over
    * [[NioRawLocalFileSystem]]. */
  class Raw(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
    FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults: FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    // local filesystems differ in their name rules; the OS decides
    override def isValidName(src: String): Boolean = true
  }
}
