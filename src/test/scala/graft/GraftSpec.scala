package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session (one per JVM — every suite reads [[GraftSpec.session]]). */
trait GraftSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSpec.session

  val sfDir = "/root/testdata/sf0.001"
}

object GraftSpec {

  /** Built once per test JVM, with one warehouse temp dir that a
    * shutdown hook deletes (tests run in a forked JVM, so the hook runs
    * when the suites are done).
    */
  lazy val session: SparkSession = {
    val warehouse = java.nio.file.Files.createTempDirectory("graft_warehouse").toFile
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      org.apache.hadoop.fs.FileUtil.fullyDelete(warehouse)
      ()
    }))
    SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", warehouse.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }
}
