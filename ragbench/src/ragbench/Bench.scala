package ragbench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, work: File)

/** Outcome of every operation of a run: latencies of the ones that passed,
  * and for the ones that failed the exception class and message (or the
  * failed check), so a failure is never reported as a bare number.
  */
final class Ops {
  private val lat = new ConcurrentLinkedQueue[(String, Double)]()
  private val failures = new ConcurrentLinkedQueue[String]()
  val attempted = new AtomicLong()
  val failed = new AtomicLong()

  def ok(kind: String, ms: Double): Unit = { attempted.incrementAndGet(); lat.add(kind -> ms) }

  def fail(kind: String, what: String): Unit = {
    attempted.incrementAndGet()
    failed.incrementAndGet()
    if (failures.size < 50) failures.add(s"$kind: $what")
  }

  def fail(kind: String, e: Throwable): Unit =
    fail(kind, s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")

  /** A check that fails after its operation was timed: the op moves from
    * passed to failed.
    */
  def failCheck(kind: String, what: String): Unit = {
    failed.incrementAndGet()
    if (failures.size < 50) failures.add(s"$kind check: $what")
  }

  def latencies(kind: String = null): Seq[Double] =
    lat.asScala.toSeq.collect { case (k, ms) if kind == null || k == kind => ms }

  def failureLog: Seq[String] = failures.asScala.toSeq

  /** Adds another window's outcomes to this one's counts and failure log. */
  def absorb(o: Ops): Unit = {
    attempted.addAndGet(o.attempted.get())
    failed.addAndGet(o.failed.get())
    o.failureLog.foreach(f => if (failures.size < 50) failures.add(f))
  }
}

/** What one workload measured: operations completed in the timed window,
  * items they processed, and the window's length.
  */
final case class Window(ops: Int, items: Long, seconds: Double)

/** A workload: inputs made once from the seed, a set-up the benchmark times
  * on its own, a timed closed loop, and checks of every output.
  */
trait Workload {
  /** Generates the inputs (not timed); returns the input digest. */
  def prepare(): Gen.Digest
  /** Set-ups per run; the median of their times is `setup_s`. */
  def setupRounds: Int = 3
  /** One set-up; the last one is what the timed window runs against. */
  def setup(round: Int, tracer: Tracer): Unit
  /** Untimed work between set-up and the timed window. */
  def warmUp(): Unit = ()
  /** Runs operations for about `seconds`, recording each in `ops`. */
  def measure(seconds: Double, tracer: Tracer, ops: Ops): Window
  /** Off-the-clock checks and the quality figure (a fraction, higher is better). */
  def finish(ops: Ops, tracer: Tracer): Double
  /** The typical operation latency: the median over all operations. */
  def opP50(ops: Ops): Double = Stats.median(ops.latencies())
  /** Detail lines for the log. */
  def detail(ops: Ops): Seq[String] = Nil
}

object Bench {

  /** The closed loop of the batch workloads: passes one after another
    * while one more brings the pass time nearer to `seconds` (at least one
    * pass; judged by the mean pass so far). Each pass gets fresh inputs, made off the clock by
    * `input(i)`, so no pass can reuse a previous pass's work; `pass`
    * returns the items it processed. Time the pass spends in
    * [[Tracer.offClock]] is not pass time.
    */
  def passLoop[A](seconds: Double, ops: Ops, tracer: Tracer, next: () => Int)(input: Int => A)(
      pass: (Int, A) => Long): Window = {
    var attempts, done = 0
    var items = 0L
    var busy = 0.0
    while (attempts == 0 || busy + busy / attempts / 2 < seconds) {
      val i = next()
      val in = input(i)
      val s = System.nanoTime()
      val p = tracer.pausedNanos
      def nanos = System.nanoTime() - s - (tracer.pausedNanos - p)
      try {
        val n = tracer.inRequest(i.toLong)(pass(i, in))
        ops.ok("pass", nanos / 1e6)
        items += n
        done += 1
      } catch { case e: Exception => ops.fail("pass", e) }
      busy += nanos / 1e9
      attempts += 1
    }
    Window(done, items, busy)
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Heap in use right after a full collection: the live data the process
    * holds, which unlike the resident set does not depend on when the
    * collector last ran. The second collection follows Spark's cleaner,
    * which frees blocks of objects the first one found unreachable.
    */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Peak resident set of this process (the JVM runs the whole engine). */
  def peakRssMb(): Double = {
    val status = scala.io.Source.fromFile("/proc/self/status")
    try status.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(throw new IllegalStateException("VmHWM missing from /proc/self/status"))
    finally status.close()
  }

  def session(opts: Opts): SparkSession = {
    val local = new File(opts.work, "spark-local")
    local.mkdirs()
    graft.GraftSession.builder("ragbench", 4)
      .config("spark.local.dir", local.getPath)
      .config("spark.sql.warehouse.dir", new File(opts.work, "warehouse").getPath)
      .getOrCreate()
  }
}
