package graft.sources

import java.net.URI
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** The session recipe's local filesystem changes how permissions are
  * set and links are read, and nothing else: every file, sidecar and
  * directory ends with the mode that the filesystem `file:` resolves
  * to without the recipe gives it, renames and link statuses follow
  * its rules, and checksums are still written and verified. */
class LocalFsSpec extends AnyFunSuite {

  private def oct(s: String): Int = Integer.parseInt(s, 8)

  private val modes = Seq("0000", "0600", "0644", "0700", "0755", "0777")

  /** What `file:` resolves to without the recipe. */
  private val stockClass =
    FileSystem.getFileSystemClass("file", new Configuration())

  private def newFs(cls: Class[_ <: FileSystem], umask: String): FileSystem = {
    val conf = new Configuration()
    conf.setClass("fs.file.impl", cls, classOf[FileSystem])
    conf.set("fs.permissions.umask-mode", umask)
    FileSystem.newInstance(URI.create("file:///"), conf)
  }

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & oct("7777")

  /** Every path under `root` (files, `.crc` sidecars, directories),
    * relative, with its mode bits including setuid/setgid/sticky. */
  private def modesUnder(root: JPath): Map[String, String] = {
    val all = Files.walk(root)
    try all.iterator().asScala.filter(_ != root).map { p =>
      root.relativize(p).toString -> Integer.toOctalString(mode(p))
    }.toMap
    finally all.close()
  }

  /** A file and a directory per mode, created through `fs` under a
    * fresh root that is setgid or not. */
  private def created(fs: FileSystem, setgid: Boolean): Map[String, String] = {
    val root = Files.createTempDirectory("localfs")
    if (setgid) Files.setAttribute(root, "unix:mode", Int.box(oct("2775")))
    for (m <- modes) {
      val perm = new FsPermission(oct(m).toShort)
      fs.create(new Path(root.resolve(s"f$m").toUri), perm, true, 4096,
        1.toShort, 1L << 20, null).close()
      assert(fs.mkdirs(new Path(root.resolve(s"d$m").toUri), perm))
    }
    modesUnder(root)
  }

  test("files, sidecars and directories get the stock modes, " +
    "under umask 022 and 077, in plain and setgid directories") {
    for (umask <- Seq("022", "077"); setgid <- Seq(false, true)) {
      val nio = newFs(classOf[GraftLocalFileSystem], umask)
      val stock = newFs(stockClass, umask)
      try {
        val (ours, theirs) = (created(nio, setgid), created(stock, setgid))
        assert(ours == theirs, s"umask $umask, setgid $setgid")
        // 6 files + 6 sidecars + 6 directories, and the modes differ
        assert(ours.size == 18 && ours.values.toSet.size > 2, ours)
      } finally { nio.close(); stock.close() }
    }
  }

  test("a sticky mode takes the stock chmod path; plain modes fork none") {
    val nio = newFs(classOf[GraftLocalFileSystem], "022")
    val stock = newFs(stockClass, "022")
    try {
      val root = Files.createTempDirectory("sticky")
      val (Seq(n, s), plain) = graft.ProcessCount {
        Seq("n", "s").map { d =>
          val p = new Path(root.resolve(d).toUri)
          assert(nio.mkdirs(p))
          p
        }
      }
      assert(plain.isEmpty, plain)
      val sticky = new FsPermission(oct("1777").toShort)
      val (_, forked) = graft.ProcessCount(nio.setPermission(n, sticky))
      assert(forked.size == 1 && forked.head.command.contains("chmod"),
        forked)
      stock.setPermission(s, sticky)
      assert(mode(root.resolve("n")) == oct("1777"))
      assert(mode(root.resolve("s")) == oct("1777"))
    } finally { nio.close(); stock.close() }
  }

  test("a rename onto an existing file keeps the stock rule") {
    def renameOntoFile(cls: Class[_ <: FileSystem]): (Boolean, Seq[String]) = {
      val fs = newFs(cls, "022")
      try {
        val root = Files.createTempDirectory("rename")
        Files.writeString(root.resolve("a"), "a")
        Files.writeString(root.resolve("b"), "b")
        val ok = fs.rename(new Path(root.resolve("a").toUri),
          new Path(root.resolve("b").toUri))
        (ok, modesUnder(root).keys.toSeq.sorted
          .map(f => f + "=" + Files.readString(root.resolve(f))))
      } finally fs.close()
    }
    assert(renameOntoFile(classOf[GraftLocalFileSystem]) ==
      renameOntoFile(stockClass))
  }

  test("link status matches the stock one and reads links without a fork") {
    val root = Files.createTempDirectory("links")
    Files.writeString(root.resolve("file"), "data")
    Files.createSymbolicLink(root.resolve("link"), root.resolve("file"))
    // qualified and bare spellings: the stock code reads the link at
    // the path's string, so only the bare one is seen as a link
    val paths = for (n <- Seq("file", "link");
                     p <- Seq(root.resolve(n).toUri.toString,
                       root.resolve(n).toString)) yield new Path(p)
    def statuses(cls: Class[_ <: FileSystem]) = {
      val fs = newFs(cls, "022")
      try paths.map { p =>
        val st = fs.getFileLinkStatus(p)
        (st.isSymlink, if (st.isSymlink) st.getSymlink.toString else "",
          st.isFile, st.getLen)
      } finally fs.close()
    }
    val stock = statuses(stockClass)
    assert(stock.count(_._1) == 1, stock)
    assert(statuses(classOf[GraftLocalFileSystem]) == stock)
    val nio = newFs(classOf[GraftLocalFileSystem], "022")
    try { // all but the bare link, which takes the stock path
      val (_, forked) =
        graft.ProcessCount(paths.take(3).foreach(nio.getFileLinkStatus))
      assert(forked.isEmpty, forked)
    } finally nio.close()
  }

  test("checksums are kept: a flipped byte in a part file fails the read") {
    val spark = graft.TestSession.spark
    val dir = Files.createTempDirectory("crc").resolve("t")
    spark.range(1000).coalesce(1).write.parquet(dir.toString)
    val part = Files.list(dir).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    assert(Files.exists(dir.resolve(s".${part.getFileName}.crc")))
    val bytes = Files.readAllBytes(part)
    bytes(4) = (bytes(4) ^ 0xff).toByte
    Files.write(part, bytes)
    val e = intercept[Exception](spark.read.parquet(dir.toString).collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[ChecksumException]), e)
  }
}
