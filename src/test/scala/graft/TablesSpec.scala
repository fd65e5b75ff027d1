package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

class TablesSpec extends AnyFunSuite {

  test("scanPartitions: an unreadable path lands on the " +
    "defaultParallelism cap") {
    val spark = TestSession.spark
    val missing = Files.createTempDirectory("graft-tables")
      .resolve("absent.parquet").toString
    assert(Tables.scanPartitions(spark, missing) ==
      spark.sparkContext.defaultParallelism)
  }

  test("reading events leaves the caller's session conf unchanged") {
    val s = TestSession.spark.newSession()
    val before = s.conf.getAll
    val ts = Tables.events(s, "/root/testdata/sf0.001").schema("ts")
    assert(ts.dataType == org.apache.spark.sql.types.TimestampType)
    assert(s.conf.getAll == before)
  }
}
