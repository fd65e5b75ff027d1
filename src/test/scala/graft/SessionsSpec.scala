package graft

import java.net.URI
import java.security.PrivilegedExceptionAction

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileSystem
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.security.UserGroupInformation
import org.scalatest.funsuite.AnyFunSuite

/** The session recipe is enforced, not advisory: a caller whose
  * recipe disagrees with the live session on a setting `getOrCreate`
  * will not re-apply gets an exception, not someone else's session. */
class SessionsSpec extends AnyFunSuite {

  test("checked names spark.master when the live session has other cores") {
    val live = TestSession.spark
    val ex = intercept[IllegalStateException](Sessions.checked("2"))
    assert(ex.getMessage.contains("spark.master=local[4]"), ex.getMessage)
    // only the differing keys are named ...
    assert(!ex.getMessage.contains("spark.sql.extensions"), ex.getMessage)
    // ... and the refused recipe's runtime confs never reached the session
    assert(live.conf.get("spark.sql.shuffle.partitions") == "4")
  }

  test("the shared test session carries the whole recipe") {
    assert(Sessions.checked("4") eq TestSession.spark)
    val conf = TestSession.spark.sparkContext.getConf
    assert(conf.get("spark.sql.codegen.cache.maxEntries") == "10000")
    assert(conf.get("spark.sql.extensions") ==
      classOf[functions.GraftExtensions].getName)
    // registered by conf, the extensions are live: native functions bind
    assert(TestSession.spark.sql("SELECT strip_accents_native('café')")
      .head().getString(0) == "cafe")
  }

  /** Runs `body` as another Hadoop user, whose cached FileSystems are
    * apart from the shared session's and are closed afterwards. */
  private def asUser[T](name: String)(body: => T): T = {
    val ugi = UserGroupInformation.createRemoteUser(name)
    try ugi.doAs(new PrivilegedExceptionAction[T] { def run(): T = body })
    finally FileSystem.closeAllForUGI(ugi)
  }

  private val local = URI.create("file:///")

  test("checked names a stock file: FileSystem cached before the session") {
    val live = TestSession.spark
    asUser("stock-fs") {
      // made from a conf without the recipe, it lands in Hadoop's cache
      val stock = FileSystem.get(local, new Configuration()).getClass
      assert(stock != classOf[sources.GraftLocalFileSystem])
      val ex = intercept[IllegalStateException](Sessions.checked("4"))
      assert(ex.getMessage.contains(s"fs.file.impl=${stock.getName}"),
        ex.getMessage)
      assert(!ex.getMessage.contains("AbstractFileSystem"), ex.getMessage)
      // the FileContext side is resolved from the conf on every call
      assert(Sessions.localFsDiffs(new Configuration()).last.startsWith(
        s"fs.AbstractFileSystem.file.impl=${classOf[LocalFs].getName}"))
    }
    assert(Sessions.checked("4") eq live)
  }

  test("the session's file: filesystems are the recipe's, for any user") {
    asUser("fresh-fs") {
      assert(Sessions.checked("4") eq TestSession.spark)
      assert(FileSystem.get(local, TestSession.spark.sparkContext
        .hadoopConfiguration).isInstanceOf[sources.GraftLocalFileSystem])
    }
  }
}
