package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.concurrent.TrieMap

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** What Spark ran for one block of driver code: its jobs, their tasks, and
  * the bytes those tasks read from input files and moved through shuffles.
  */
final case class SparkWork(jobs: Int, tasks: Int, inputBytes: Long,
    shuffleReadBytes: Long, shuffleWriteBytes: Long)

object SparkWork {

  /** Runs `body` under a job group of its own and returns what Spark ran
    * for it, counted by a listener that is read after the listener bus has
    * drained.
    */
  def of(spark: SparkSession)(body: => Unit): SparkWork = {
    val sc = spark.sparkContext
    val group = s"spark-work-${java.util.UUID.randomUUID}"
    def mine(props: java.util.Properties): Boolean =
      Option(props).exists(_.getProperty("spark.jobGroup.id") == group)
    val jobs = new AtomicInteger
    val stages = TrieMap.empty[Int, Unit]
    val tasks = new AtomicInteger
    val input, shuffleRead, shuffleWrite = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (mine(js.properties)) jobs.incrementAndGet()
      override def onStageSubmitted(ss: SparkListenerStageSubmitted): Unit =
        if (mine(ss.properties)) stages.put(ss.stageInfo.stageId, ())
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (stages.contains(te.stageId)) {
          tasks.incrementAndGet()
          Option(te.taskMetrics).foreach { m =>
            input.addAndGet(m.inputMetrics.bytesRead)
            shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
            shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          }
        }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "SparkWork")
    try body
    finally {
      sc.clearJobGroup()
      ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    SparkWork(jobs.get, tasks.get, input.get, shuffleRead.get, shuffleWrite.get)
  }
}
