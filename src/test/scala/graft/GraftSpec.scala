package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session (one per JVM — every suite reads [[GraftSpec.session]]). */
trait GraftSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSpec.session

  val sfDir = "/root/testdata/sf0.001"
}

object GraftSpec {

  private val tempDirs = new ConcurrentLinkedQueue[java.io.File]()

  // Tests run in a forked JVM, so the hook runs when the suites are done.
  // It releases the shared builds first (each planner slot deletes its
  // temp dir), at a priority above the SparkContext's own shutdown hook
  // (40), so the releases run while the session is still up.
  org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(() => {
    SparkEntry.clearCaches()
    tempDirs.forEach(d => org.apache.hadoop.fs.FileUtil.fullyDelete(d))
  }, 50)

  /** A fresh temp dir, deleted with everything in it when the test JVM
    * exits.
    */
  def tempDir(prefix: String): java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    tempDirs.add(dir.toFile)
    dir
  }

  /** Built once per test JVM, over a [[tempDir]] warehouse. */
  lazy val session: SparkSession =
    SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", tempDir("graft_warehouse").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
