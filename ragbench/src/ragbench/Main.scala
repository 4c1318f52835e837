package ragbench

import java.io.File

/** Entry point: runs one workload from a seed and prints, as the last line
  * of standard output, one JSON object with `correct`, `attempted`,
  * `failed` and `metrics` — the end-to-end metrics, or with `--trace 1`
  * the per-layer metrics of a separate traced window.
  *
  * {{{
  * Main --workload rag_serve --seed 1 --seconds 10 --trace 0 --work <dir>
  * }}}
  */
object Main {

  val Workloads = Seq("rag_serve", "collection_build")

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload '$w'; one of ${Workloads.mkString(", ")}")
    val trace = need("trace")
    require(trace == "0" || trace == "1", "--trace takes 0 or 1")
    val seconds = need("seconds").toInt
    require(seconds >= 1, "--seconds must be at least 1")
    Opts(w, need("seed").toLong, seconds, trace == "1", new File(need("work")))
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    opts.work.mkdirs()
    val spark = Bench.session(opts)
    try {
      val w: Workload = opts.workload match {
        case "rag_serve" => new Serve(spark, opts)
        case "collection_build" => new Build(spark, opts)
      }
      val out = Runner.run(w, spark, opts)
      out.log.foreach(l => println(s"ragbench: $l"))
      println(out.json)
    } finally spark.stop()
  }
}

final case class Metric(name: String, value: Double, unit: String)

final case class Outcome(correct: Boolean, attempted: Long, failed: Long, metrics: Seq[Metric],
                         log: Seq[String]) {
  def json: String = {
    def num(v: Double): String = {
      require(!v.isNaN && !v.isInfinite, s"metric value $v is not a number")
      java.math.BigDecimal.valueOf(v).toPlainString
    }
    val ms = metrics.map(m => s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}

/** The measurement protocol shared by all workloads. */
object Runner {

  /** The end-to-end metrics every workload prints, with their units. An
    * operation is one request of rag_serve or one pass of collection_build;
    * items are requests or PDF pages read; quality is recall@10 of the ANN
    * answers against brute force, and for collection_build the lower of
    * that and the share of planted near-duplicate pairs clustered together;
    * live_heap_mb is the heap in use after a full collection, taken after
    * set-up and after the timed window, whichever is larger. op_p50_ms is
    * the workload's [[Workload.opP50]].
    */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "op_p50_ms" -> "ms",
    "items_per_s" -> "1/s",
    "quality" -> "fraction",
    "ok_frac" -> "fraction",
    "live_heap_mb" -> "MB")

  def run(w: Workload, spark: org.apache.spark.sql.SparkSession, opts: Opts): Outcome = {
    val off = Tracer.off(spark)
    val (digest, genS) = Bench.timed(w.prepare())
    // set-up repeated; its median is the set-up time
    val setups = (1 to w.setupRounds).map(r => Bench.timed(w.setup(r, off))._2)
    w.warmUp()
    val liveAfterSetup = Bench.liveHeapMb()
    val ops = new Ops
    val plain = w.measure(opts.seconds, off, ops)
    val quality = w.finish(ops, off)
    val log = Seq.newBuilder[String]
    log += s"workload=${opts.workload} seed=${opts.seed}"
    log += s"setup_s rounds: ${setups.map(s => f"$s%.3f").mkString(" ")}"
    log += f"window: ${plain.ops} ops, ${plain.items} items in ${plain.seconds}%.2fs; quality=$quality%.4f"
    val attempted = ops.attempted.get()
    val values = Map(
      "setup_s" -> Stats.median(setups),
      "op_p50_ms" -> w.opP50(ops),
      "items_per_s" -> plain.items / plain.seconds,
      "quality" -> quality,
      "ok_frac" -> (attempted - ops.failed.get()).toDouble / attempted,
      "live_heap_mb" -> math.max(liveAfterSetup, Bench.liveHeapMb()))
    val endToEnd = EndToEnd.map { case (name, unit) => Metric(name, values(name), unit) }
    log ++= endToEnd.map(m => f"${m.name} = ${m.value}%.4f ${m.unit}")
    log += f"peak resident set ${Bench.peakRssMb()}%.0f MB"
    log ++= w.detail(ops)
    val metrics =
      if (!opts.trace) endToEnd
      else {
        // a separate traced window, bracketed by the untraced window before
        // it and another after it: the process is still warming up, so the
        // tracing overhead is the traced time per operation minus the mean
        // of the two untraced ones. The engine totals stop at the end of the
        // traced window; only the eval spans of its checks are added after.
        val tracer = new Tracer(spark, true)
        tracer.start()
        val tops = new Ops
        val traced = w.measure(opts.seconds, tracer, tops)
        tracer.stop()
        w.finish(tops, tracer)
        val layers = tracer.summary(math.max(1, traced.ops).toDouble)
        log ++= tracer.spanTable
        val after = new Ops
        val plain2 = w.measure(opts.seconds, off, after)
        w.finish(after, off)
        ops.absorb(after)
        def perOp(x: Window) = x.seconds * 1e3 / math.max(1, x.ops)
        val plainMean = (perOp(plain) + perOp(plain2)) / 2
        val tracedMean = perOp(traced)
        log += f"tracing overhead: ${tracedMean - plainMean}%+.1f ms/op (traced ${tracedMean}%.1f ms/op over " +
          f"${traced.ops} ops; untraced ${perOp(plain)}%.1f ms/op over ${plain.ops} ops before and " +
          f"${perOp(plain2)}%.1f ms/op over ${plain2.ops} ops after)"
        val summary = layers + ("trace.overhead_ms_per_op" -> (tracedMean - plainMean))
        ops.absorb(tops)
        PerLayer.all.map { case (name, unit) =>
          Metric(name, summary.getOrElse(name, throw new IllegalStateException(s"no value for $name")), unit)
        }
      }
    log += f"inputs: items=${digest.items} bytes=${digest.bytes} sha256=${digest.hex} (prepared in ${genS}%.2fs)"
    log ++= ops.failureLog.map("FAILED " + _)
    Outcome(ops.failed.get() == 0, ops.attempted.get(), ops.failed.get(), metrics, log.result())
  }
}
