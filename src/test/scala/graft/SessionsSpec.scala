package graft

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
}
