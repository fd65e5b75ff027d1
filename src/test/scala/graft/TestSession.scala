package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession

/** The one SparkSession every spec shares. `sbt test` runs all suites
  * in one forked JVM, where `getOrCreate` would hand every suite
  * whichever session was built first — so there is exactly one
  * recipe: [[Sessions.checked]] at local[4], with a temp warehouse dir
  * so table-writing specs never see a previous run's tables.
  *
  * A spec that needs a different runtime conf scopes it with
  * [[withConf]] instead of changing the shared baseline. */
object TestSession {
  lazy val spark: SparkSession = Sessions.checked("4",
    "spark.sql.warehouse.dir" ->
      Files.createTempDirectory("graft-warehouse").toString)

  /** Runs `body` with each `key -> value` set on the shared session,
    * then restores the previous value, or unsets a key that had none. */
  def withConf[T](kvs: (String, String)*)(body: => T): T =
    withConfOn(spark, kvs: _*)(body)

  /** [[withConf]] on a given session. */
  def withConfOn[T](s: SparkSession, kvs: (String, String)*)(body: => T): T = {
    val saved = kvs.map { case (k, _) => k -> s.conf.getOption(k) }
    kvs.foreach { case (k, v) => s.conf.set(k, v) }
    try body finally saved.reverse.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }
}
