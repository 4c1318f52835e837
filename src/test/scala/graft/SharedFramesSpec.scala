package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.SparkSession

import graft.operators.SharedFrames

/** The per-session memo registry every shared build goes through:
  * one build per key under concurrency, failures handed to the waiters
  * and retried, nested builds, exactly-once release, session isolation.
  */
class SharedFramesSpec extends GraftSpec {

  /** Start `n` threads running `body`; the thunk joins them and returns
    * their outcomes in start order.
    */
  private def race[T](n: Int)(body: => T): (Seq[Thread], () => Seq[Try[T]]) = {
    val out = new ConcurrentHashMap[Int, Try[T]]()
    val threads = (0 until n).map(i => new Thread(() => { out.put(i, Try(body)); () }))
    threads.foreach(_.start())
    (threads, () => { threads.foreach(_.join(60000)); (0 until n).map(out.get) })
  }

  /** Wait until every thread is parked: the builder on its gate, the
    * others on the build's future.
    */
  private def awaitParked(threads: Seq[Thread]): Unit = {
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (!threads.forall(_.getState == Thread.State.WAITING)) {
      assert(System.nanoTime() < deadline, "the threads never parked")
      Thread.sleep(5)
    }
  }

  test("eight threads asking for one key build it once") {
    val slot = SharedFrames.slot[Int]("once")
    val builds = new AtomicInteger
    val gate = new CountDownLatch(1)
    val (threads, results) = race(8)(slot(spark, "k") { builds.incrementAndGet(); gate.await(); 42 })
    awaitParked(threads)
    gate.countDown()
    assert(results().map(_.get) === Seq.fill(8)(42))
    assert(builds.get === 1)
    assert(slot(spark, "k")(fail("a built key must not build again")) === 42)
    SharedFrames.clear()
  }

  test("a failed build is rethrown to every waiter and retried on the next call") {
    val slot = SharedFrames.slot[Int]("flaky")
    val builds = new AtomicInteger
    val gate = new CountDownLatch(1)
    val boom = new IllegalStateException("boom")
    val (threads, results) = race(8)(slot(spark, "k") {
      builds.incrementAndGet(); gate.await(); throw boom
    })
    awaitParked(threads)
    gate.countDown()
    assert(results().map(_.failed.toOption) === Seq.fill(8)(Some(boom)))
    assert(builds.get === 1)
    assert(slot(spark, "k") { builds.incrementAndGet(); 7 } === 7)
    assert(builds.get === 2, "the failure must leave no entry behind")
    SharedFrames.clear()
  }

  test("a build may call other slots and other keys of its own slot") {
    val outer = SharedFrames.slot[Long]("outer")
    val inner = SharedFrames.slot[Long]("inner")
    // a Spark job inside a nested build: no registry lock is held
    val got = outer(spark, "a") {
      inner(spark, "a")(spark.range(10).count()) + outer(spark, "b")(2L)
    }
    assert(got === 12L)
    assert(inner(spark, "a")(fail("inner must be built already")) === 10L)
    // a build asking for its own key fails instead of waiting forever,
    // and leaves the key buildable
    intercept[IllegalStateException](outer(spark, "self")(outer(spark, "self")(0L)))
    assert(outer(spark, "self")(5L) === 5L)
    SharedFrames.clear()
  }

  test("clear releases each entry exactly once, an in-flight one when it finishes") {
    val released = new ConcurrentLinkedQueue[String]()
    val slot = SharedFrames.slot[String]("released", released.add(_))
    val broken = SharedFrames.slot[Int]("brokenRelease", _ => throw new RuntimeException("no"))
    slot(spark, "a")("a")
    broken(spark, "a")(1) // its failed release is logged and skipped
    slot(spark, "b")("b")
    val gate = new CountDownLatch(1)
    val (threads, results) = race(1)(slot(spark, "c") { gate.await(); "c" })
    awaitParked(threads)
    SharedFrames.clear()
    assert(released.asScala.toSeq.sorted === Seq("a", "b"))
    gate.countDown()
    assert(results().map(_.get) === Seq("c"), "an in-flight build still serves its caller")
    assert(released.asScala.toSeq.sorted === Seq("a", "b", "c"))
    SharedFrames.clear()
    assert(released.size === 3, "a cleared entry is never released twice")
    assert(slot(spark, "a")("a2") === "a2", "a cleared key builds afresh")
    SharedFrames.clear()
    assert(released.asScala.toSeq.sorted === Seq("a", "a2", "b", "c"))
  }

  test("two sessions with the same dir get separate entries") {
    val other = spark.newSession()
    val slot = SharedFrames.slot[SparkSession]("perSession")
    assert(slot(spark, sfDir)(spark) eq spark)
    assert(slot(other, sfDir)(other) eq other)
    assert(slot(spark, sfDir)(fail("built again")) eq spark)
    assert(slot(other, sfDir)(fail("built again")) eq other)
    SharedFrames.clear()
  }
}
