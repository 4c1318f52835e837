package ragbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and counts recorded around the benchmark's calls into each layer
  * of the program. With tracing off every method but [[Tracer.offClock]],
  * which keeps its clock, is a pass-through, so the timed runs pay one
  * branch per call.
  *
  * A span carries its layer, name, start, end, parent span and request id.
  * Spans are kept in memory and summarized once at the end; a span's self
  * time is its duration minus its children's (children never overlap,
  * because each client thread runs one call at a time).
  */
final class Tracer(spark: SparkSession, val on: Boolean) {
  import Tracer._

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val nextId = new AtomicLong(1)
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val request = ThreadLocal.withInitial[java.lang.Long](() => 0L)
  private val counts = new ConcurrentHashMap[String, DoubleAdder]()
  private val peaks = new ConcurrentHashMap[String, java.lang.Double]()
  private val listener = new Listener
  private val qeListener = new PhaseListener
  private var atStart, atStop: Map[String, Double] = Map.empty
  private val excluded = new ConcurrentHashMap[String, DoubleAdder]()
  private val paused = new AtomicLong()

  def start(): Unit = if (on) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    atStart = engineTotals()
  }

  /** Ends the traced window: freezes the engine totals once every event of
    * the window has been delivered, and unregisters both listeners, so the
    * checks and windows that follow are not counted. Spans recorded after
    * this (the off-the-clock eval calls that check the window's answers)
    * still are.
    */
  def stop(): Unit = if (on) {
    atStop = engineTotals()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Nanoseconds spent in [[offClock]] so far. */
  def pausedNanos: Long = paused.get()

  /** Runs the benchmark's own work inside an operation (checks, choosing
    * ids) off the operation's clock: its time goes to [[pausedNanos]],
    * which the pass loop subtracts, and the jobs, task metrics, Catalyst
    * phases and rule time it causes are left out of the engine totals. For
    * single-threaded workloads only: with two clients the other one's work
    * in the same stretch would be left out too.
    */
  def offClock[A](body: => A): A = {
    val t0 = System.nanoTime()
    val before = if (on) engineTotals() else Map.empty[String, Double]
    try body
    finally {
      if (on) engineTotals().foreach { case (k, v) =>
        excluded.computeIfAbsent(k, _ => new DoubleAdder).add(v - before.getOrElse(k, 0.0))
      }
      paused.addAndGet(System.nanoTime() - t0)
    }
  }

  /** Cumulative engine figures: listener totals, Catalyst phase times and
    * the rule meter, read after the listener bus has delivered every event
    * posted so far.
    */
  private def engineTotals(): Map[String, Double] = {
    org.apache.spark.RagbenchBus.drain(spark.sparkContext)
    val l = listener
    val m = Map.newBuilder[String, Double]
    m ++= Seq(
      "jobs" -> l.jobs.get(), "stages" -> l.stages.get(), "tasks" -> l.tasks.get(),
      "plan_jobs" -> l.planJobs.get(), "task_run_ms" -> l.taskRunMs.get(),
      "queue_wait_ms" -> l.queueWaitMs.get(), "gc_ms" -> l.gcMs.get(), "input_rows" -> l.inputRows.get(),
      "shuffle_read" -> l.shuffleRead.get(), "shuffle_write" -> l.shuffleWrite.get(), "spill" -> l.spill.get(),
      "search_rows" -> l.inputRowsByLayer.getOrDefault("search", 0L).toLong
    ).map { case (k, v) => k -> v.toDouble }
    Seq("analysis", "optimization", "planning").foreach(p => m += s"phase.$p" -> qeListener.phaseMs(p))
    val rules = ruleTimes()
    TracedRules.foreach { r =>
      val t = rules.getOrElse(r, RuleTime(0, 0, 0))
      m ++= Seq(s"rule_ns.$r" -> t.nanos.toDouble, s"rule_eff.$r" -> t.effective.toDouble,
        s"rule_runs.$r" -> t.runs.toDouble)
    }
    m.result()
  }

  /** Runs `body` as request `id` of the current thread. Jobs it starts are
    * tagged with the id, so the listener can attribute them.
    */
  def inRequest[A](id: Long)(body: => A): A =
    if (!on) body
    else {
      request.set(id)
      spark.sparkContext.setLocalProperty(RequestProp, id.toString)
      try body
      finally {
        spark.sparkContext.setLocalProperty(RequestProp, null)
        request.set(0L)
      }
    }

  /** Times `body` as a call into `layer`. */
  def span[A](layer: String, name: String)(body: => A): A =
    if (!on) body
    else {
      val id = nextId.getAndIncrement()
      val parent = stack.get().headOption.getOrElse(0L)
      val sc = spark.sparkContext
      val prevLayer = sc.getLocalProperty(LayerProp)
      stack.set(id :: stack.get())
      sc.setLocalProperty(LayerProp, layer)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        sc.setLocalProperty(LayerProp, prevLayer)
        stack.set(stack.get().tail)
        spans.add(Span(id, parent, layer, name, request.get(), t0, t1))
        samplePeaks()
      }
    }

  /** Marks the jobs `body` starts as plan-time jobs (run by the optimizer). */
  def planning[A](body: => A): A =
    if (!on) body
    else {
      spark.sparkContext.setLocalProperty(PhaseProp, "plan")
      try body finally spark.sparkContext.setLocalProperty(PhaseProp, null)
    }

  def count(key: String, v: Double): Unit =
    if (on) counts.computeIfAbsent(key, _ => new DoubleAdder).add(v)

  private def peak(key: String, v: Double): Unit =
    peaks.merge(key, v, (a, b) => math.max(a, b))

  private def samplePeaks(): Unit = {
    val sc = spark.sparkContext
    val info = sc.getRDDStorageInfo
    peak("operators.cached_bytes_peak", info.map(i => i.memSize + i.diskSize).sum.toDouble)
    peak("operators.persisted_rdds_peak", sc.getPersistentRDDs.size.toDouble)
  }

  def counted(key: String): Double = Option(counts.get(key)).map(_.sum).getOrElse(0.0)

  /** Self time in ms of all spans of (layer, name). */
  def selfMs: Map[(String, String), Double] = {
    val all = spans.asScala.toSeq
    val childTime = all.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.nanos).sum }
    all.groupBy(s => (s.layer, s.name)).map { case (key, ss) =>
      key -> ss.map(s => s.nanos - childTime.getOrElse(s.id, 0L)).sum / 1e6
    }
  }

  def spanCount(layer: String): Int = spans.asScala.count(_.layer == layer)

  /** Per-layer metrics for `ops` operations of the workload. Times and
    * counts are per operation; ratios and peaks are as measured. Engine
    * figures cover the traced window from [[start]] to [[stop]], less the
    * work run [[offClock]].
    */
  def summary(ops: Double): Map[String, Double] = {
    require(atStop.nonEmpty, "summary before stop")
    def engine(key: String): Double =
      atStop(key) - atStart(key) - Option(excluded.get(key)).map(_.sum).getOrElse(0.0)
    val self = selfMs
    def ms(layer: String, names: String*): Double =
      self.collect {
        case ((l, n), v) if l == layer && (names.isEmpty || names.exists(x => n == x || n.startsWith(x + "."))) => v
      }.sum / ops
    def per(key: String): Double = counted(key) / ops
    def ratio(num: Double, den: Double): Double = if (den == 0) 0.0 else num / den
    val m = Map.newBuilder[String, Double]
    m ++= Seq(
      "ingest.busy_ms" -> ms("ingest"),
      "ingest.calls" -> spanCount("ingest") / ops,
      "ingest.pages_extracted" -> per("ingest.pages_extracted"),
      "ingest.pages_kept" -> per("ingest.pages_kept"),
      "embed.busy_ms" -> ms("embed"),
      "embed.calls" -> spanCount("embed") / ops,
      "embed.rows" -> per("embed.rows"),
      "index.add_ms" -> ms("index", "add"),
      "index.upsert_ms" -> ms("index", "upsert"),
      "index.delete_ms" -> ms("index", "delete"),
      "index.read_ms" -> ms("index", "read"),
      "index.calls" -> spanCount("index") / ops,
      "index.part_files" -> per("index.part_files"),
      "index.bytes_per_user_byte" -> ratio(counted("index.stored_bytes"), counted("index.user_bytes")),
      "search.ann_ms" -> ms("search", "ann"),
      "search.sql_ms" -> ms("search", "sql"),
      "search.exact_ms" -> ms("search", "exact"),
      "search.build_ms" -> ms("search", "build"),
      "search.calls" -> spanCount("search") / ops,
      "search.rows_read_per_result" -> ratio(engine("search_rows"), counted("search.results")),
      "plans.analysis_ms" -> engine("phase.analysis") / ops,
      "plans.optimization_ms" -> engine("phase.optimization") / ops,
      "plans.planning_ms" -> engine("phase.planning") / ops,
      "plans.ann_rewrite_fired_frac" -> ratio(counted("plans.ann_fired"), counted("plans.sql_queries")),
      "plans.jobs_at_plan_time" -> engine("plan_jobs") / ops,
      "dedup.exact_ms" -> ms("dedup", "exact"),
      "dedup.minhash_ms" -> ms("dedup", "minhash"),
      "dedup.ngram_ms" -> ms("dedup", "ngram"),
      "dedup.clusters_ms" -> ms("dedup", "clusters"),
      "dedup.candidate_pairs" -> per("dedup.candidate_pairs"),
      "dedup.confirmed_pairs" -> per("dedup.confirmed_pairs"),
      "textual.quality_ms" -> ms("textual"),
      "textual.rows" -> per("textual.rows"),
      "eval.recall_ms" -> ms("eval"),
      "operators.cached_bytes_peak" -> peaks.getOrDefault("operators.cached_bytes_peak", 0.0),
      "operators.persisted_rdds_peak" -> peaks.getOrDefault("operators.persisted_rdds_peak", 0.0),
      "spark.jobs" -> engine("jobs") / ops,
      "spark.stages" -> engine("stages") / ops,
      "spark.tasks" -> engine("tasks") / ops,
      "spark.task_run_ms" -> engine("task_run_ms") / ops,
      "spark.queue_wait_ms" -> engine("queue_wait_ms") / ops,
      "spark.gc_ms" -> engine("gc_ms") / ops,
      "spark.input_rows" -> engine("input_rows") / ops,
      "spark.shuffle_read_bytes" -> engine("shuffle_read") / ops,
      "spark.shuffle_write_bytes" -> engine("shuffle_write") / ops,
      "spark.spill_bytes" -> engine("spill") / ops)
    TracedRules.foreach { r =>
      m += s"plans.rule_ms.$r" -> engine(s"rule_ns.$r") / 1e6 / ops
      m += s"plans.rule_effective_frac.$r" -> ratio(engine(s"rule_eff.$r"), engine(s"rule_runs.$r"))
    }
    m.result()
  }

  /** One line per (layer, name) with call count and self time, for the log. */
  def spanTable: Seq[String] = {
    val self = selfMs
    val byKey = spans.asScala.toSeq.groupBy(s => (s.layer, s.name))
    byKey.keys.toSeq.sorted.map { k =>
      f"${k._1}%-8s ${k._2}%-14s calls=${byKey(k).size}%6d self_ms=${self(k)}%10.1f"
    }
  }
}

object Tracer {
  def off(spark: SparkSession): Tracer = new Tracer(spark, false)

  val RequestProp = "ragbench.request"
  val LayerProp = "ragbench.layer"
  val PhaseProp = "ragbench.phase"

  /** Rules whose time the traced run reports, by the name Catalyst's rule
    * meter prints without its package.
    */
  val TracedRules = Seq("AnnIndexRewriteRule", "AggRewriteRule", "ConstraintRewriteRule",
    "VectorDistanceRules", "ResolveDataSource")

  final case class Span(id: Long, parent: Long, layer: String, name: String, req: Long,
                        start: Long, end: Long) {
    def nanos: Long = end - start
  }

  final case class RuleTime(nanos: Long, effective: Long, runs: Long)

  private val RuleLine = """^(\S+)\s+(\d+) / (\d+)\s+(\d+) / (\d+)\s*$""".r

  /** Catalyst's cumulative per-rule meter, keyed by the rule's simple name. */
  def ruleTimes(): Map[String, RuleTime] =
    RuleExecutor.dumpTimeSpent().split("\n").toSeq.collect {
      case RuleLine(name, _, total, eff, runs) =>
        name.split("[.$]").filter(_.nonEmpty).last -> RuleTime(total.toLong, eff.toLong, runs.toLong)
    }.groupMapReduce(_._1)(_._2)((a, b) => RuleTime(a.nanos + b.nanos, a.effective + b.effective, a.runs + b.runs))

  /** Engine-side totals over the traced window: jobs, stages and task
    * metrics, plus input rows per layer and jobs started by the optimizer.
    */
  final class Listener extends SparkListener {
    val jobs, stages, tasks, planJobs = new AtomicLong()
    val taskRunMs, queueWaitMs, gcMs, inputRows, shuffleRead, shuffleWrite, spill = new AtomicLong()
    val inputRowsByLayer = new ConcurrentHashMap[String, java.lang.Long]()
    private val stageLayer = new ConcurrentHashMap[Int, String]()
    private val stageSubmitted = new ConcurrentHashMap[Int, java.lang.Long]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      val props = Option(e.properties)
      if (props.exists(p => p.getProperty(PhaseProp) == "plan")) planJobs.incrementAndGet()
      props.flatMap(p => Option(p.getProperty(LayerProp))).foreach { layer =>
        e.stageIds.foreach(s => stageLayer.put(s, layer))
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      e.stageInfo.submissionTime.foreach(t => stageSubmitted.put(e.stageInfo.stageId, t))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      stageSubmitted.remove(e.stageInfo.stageId)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      Option(stageSubmitted.get(e.stageId)).foreach { t =>
        queueWaitMs.addAndGet(math.max(0L, e.taskInfo.launchTime - t))
      }
      Option(e.taskMetrics).foreach { m =>
        taskRunMs.addAndGet(m.executorRunTime)
        gcMs.addAndGet(m.jvmGCTime)
        inputRows.addAndGet(m.inputMetrics.recordsRead)
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        Option(stageLayer.get(e.stageId)).foreach { layer =>
          inputRowsByLayer.merge(layer, m.inputMetrics.recordsRead, (a, b) => a + b)
        }
      }
    }
  }

  /** Catalyst phase times of every query that reached execution. */
  final class PhaseListener extends QueryExecutionListener {
    private val ms = new ConcurrentHashMap[String, java.lang.Long]()
    def phaseMs(phase: String): Double = ms.getOrDefault(phase, 0L).toDouble
    private def record(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (phase, s) => ms.merge(phase, s.durationMs, (a, b) => a + b) }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }
}
