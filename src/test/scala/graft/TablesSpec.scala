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
}
