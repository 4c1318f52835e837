package ragbench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.embed.{TfIdfEmbedder, TfIdfEmbedderModel}
import graft.ingest.DocumentIngest
import graft.plans.{AnnIndexRewrite, PlannerPin}
import graft.search.{Hnsw, IvfIndex, KnnExact}

/** rag_serve: steady-state retrieval over a fixed, topic-structured page
  * collection. Two closed-loop clients send distinct query texts in a
  * fixed round robin of three request types — `ann` (stored HNSW index),
  * `sql` (the declarative distance-orderBy-limit query, half of them with a
  * topic filter, left to the planner's ANN rewrite) and `exact` (brute-force
  * KnnExact). Every request embeds its text first. Per-request fixed costs
  * (planning, rewrite rules, plan-time probe jobs, graph rehydration, job
  * scheduling) dominate here; ingest, embedder fitting and dedup barely run.
  */
final class Serve(spark: SparkSession, opts: Opts) extends Workload {
  import Serve._

  private var pool: Array[Gen.Query] = _
  private val collPath = new File(opts.work, "serve-collection").getPath

  private var model: TfIdfEmbedderModel = _
  private var coll: DataFrame = _
  private var index: DataFrame = _
  private var vectors: Array[(Long, Array[Float])] = _
  private var vectorOf: Map[Long, Array[Float]] = _
  private var topicOf: Map[Long, Int] = _

  private val results = new ConcurrentLinkedQueue[Answer]()
  private var sqlCount = 0
  private var firedCount = 0
  private val next = new AtomicInteger()

  /** Generates the pages and queries and builds the fixed collection they
    * are served from: clean, fit the embedder, embed, write. Building a
    * collection is what collection_build measures, so it is not timed here.
    */
  def prepare(): Gen.Digest = {
    val d = new Gen.Digest
    val pages = Gen.pages(opts.seed, CollectionPages, d)
    pool = Gen.queries(opts.seed, QueryPool, d)
    import spark.implicits._
    val docs = DocumentIngest.clean(pages.toSeq.map(p => (p.id, p.topic, p.text)).toDF("doc_id", "topic", "text"))
    model = TfIdfEmbedder.fit(docs, "text", Dim)
    model.embed(docs, "text", "embedding").select(col("doc_id").as("vec_id"), col("topic"), col("embedding"))
      .repartition(4).write.mode("overwrite").parquet(collPath)
    d
  }

  /** Opens the collection, builds the stored HNSW index and the routed
    * index, and registers the routed index with the planner.
    */
  def setup(round: Int, tracer: Tracer): Unit = {
    val dir = new File(opts.work, s"serve-$round").getPath
    val c = tracer.span("index", "read") { spark.read.parquet(collPath) }
    tracer.span("search", "build") {
      Hnsw.buildIndex(spark, c, numGraphs = Segments).write.mode("overwrite").parquet(s"$dir/hnsw")
    }
    val cent = tracer.span("search", "build.centroids") {
      graft.operators.Materialize.materializeOnly(IvfIndex.seedCentroids(c, Cells))
    }
    tracer.span("search", "build.routed") {
      Hnsw.buildRoutedIndex(spark, c, cent)
        .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/routed")
    }
    AnnIndexRewrite.unregister(collPath)
    // the registration the ann_planner_* queries use: every cell probed and
    // efSearch above every cell size, so the rewrite is exact
    AnnIndexRewrite.register(collPath, AnnIndexRewrite.IndexSpec(
      spark.read.parquet(s"$dir/routed"), cent, nprobe = Cells, efSearch = 4096, overfetch = 2,
      indexPath = Some(s"$dir/routed"), exhaustiveProbe = true))
    coll = c
    index = spark.read.parquet(s"$dir/hnsw")
  }

  /** An untimed stretch of the same closed loop: the first requests of a
    * process run far slower while the JVM compiles the request paths, so
    * the timed window starts after them. Their answers are checked too.
    */
  override def warmUp(): Unit = {
    val ops = new Ops
    measure(WarmUpSeconds, Tracer.off(spark), ops)
    finish(ops, Tracer.off(spark))
    sqlCount = 0
    firedCount = 0
    if (ops.failed.get() > 0) throw new IllegalStateException(s"warm-up failed: ${ops.failureLog.mkString("; ")}")
  }

  /** Loads the collection's vectors for the reference answers (not timed). */
  private def loadVectors(): Unit = if (vectors == null) {
    import spark.implicits._
    val rows = coll.select(col("vec_id"), col("topic"), col("embedding"))
      .as[(Long, Int, Array[Float])].collect()
    vectors = rows.map(r => (r._1, r._3))
    vectorOf = vectors.toMap
    topicOf = rows.map(r => r._1 -> r._2).toMap
  }

  /** One request: embed the text, then search; returns the answer. */
  private def request(kind: String, qid: Long, q: Gen.Query, tracer: Tracer): Answer = {
    import spark.implicits._
    val qdf = Seq((qid, q.text)).toDF("qid", "text")
    val qv = tracer.span("embed", "query") {
      model.embed(qdf, "text", "qemb").select("qemb").as[Array[Float]].head()
    }
    val qe = Seq((qid, qv)).toDF("qid", "qemb")
    kind match {
      case "ann" =>
        val got = tracer.span("search", "ann") {
          Stats.inRankOrder(Hnsw.searchIndex(spark, qe, index, K, numGraphs = Segments)
            .select("rk", "vec_id", "dist").as[(Int, Long, Double)].collect().toSeq)
        }
        tracer.count("search.results", got.size)
        Answer(kind, qid, q, None, qv, got, fired = false)
      case "sql" =>
        val filter = if (qid % 2 == 0) Some(q.topic) else None
        val base = filter.fold(coll)(t => coll.filter(col("topic") === t))
        val df = base
          .select(col("vec_id"), graft.functions.VectorExpressions.l2Sq(typedLit(qv), col("embedding")).as("dist2"))
          .orderBy(col("dist2"), col("vec_id"))
          .limit(K)
        val plan = tracer.span("plans", "optimize") { tracer.planning(df.queryExecution.optimizedPlan) }
        val fired = PlannerPin.annSpliced("vec_id")(plan)
        // collected from `df` itself, so the plan optimized above is the one
        // that runs; a typed view of it would be optimized a second time
        val got = tracer.span("search", "sql") { df.collect().toSeq.map(r => (r.getLong(0), r.getDouble(1))) }
        tracer.count("plans.sql_queries", 1)
        if (fired) tracer.count("plans.ann_fired", 1)
        Answer(kind, qid, q, filter, qv, got, fired)
      case "exact" =>
        val got = tracer.span("search", "exact") {
          Stats.inRankOrder(KnnExact.topK(qe, coll.select("vec_id", "embedding"), K)
            .select("rk", "vec_id", "dist").as[(Int, Long, Double)].collect().toSeq)
            .map { case (id, d) => (id, d * d) }
        }
        tracer.count("search.results", got.size)
        Answer(kind, qid, q, None, qv, got, fired = false)
    }
  }

  def measure(seconds: Double, tracer: Tracer, ops: Ops): Window = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val t0 = System.nanoTime()
    val clients = (0 until Clients).map { c =>
      val t = new Thread(() => {
        var i = next.getAndIncrement()
        while (System.nanoTime() < deadline && i < pool.length) {
          val kind = Kinds(i % Kinds.length)
          val s = System.nanoTime()
          try {
            val a = tracer.inRequest(i.toLong)(request(kind, i.toLong, pool(i), tracer))
            ops.ok(kind, (System.nanoTime() - s) / 1e6)
            results.add(a)
          } catch { case e: Exception => ops.fail(kind, e) }
          i = next.getAndIncrement()
        }
      }, s"client-$c")
      t.start()
      t
    }
    clients.foreach(_.join())
    if (next.get() >= pool.length) throw new IllegalStateException("query pool exhausted; enlarge QueryPool")
    val elapsed = (System.nanoTime() - t0) / 1e9
    val n = ops.latencies().size
    Window(n, n.toLong, elapsed)
  }

  def finish(ops: Ops, tracer: Tracer): Double = {
    loadVectors()
    val answers = Iterator.continually(results.poll()).takeWhile(_ != null).toSeq
    sqlCount += answers.count(_.kind == "sql")
    firedCount += answers.count(a => a.kind == "sql" && a.fired)
    val annRecall = Seq.newBuilder[(Long, Seq[Long], Seq[Long], Double)]
    answers.foreach { a =>
      val rows = a.filter.fold(vectors)(t => vectors.filter(r => topicOf(r._1) == t))
      val ref = Stats.bruteTopK(a.qv, rows, K)
      val problems = Stats.checkTopK(a.qv, a.got, vectorOf, ref, K, exact = a.kind != "ann") ++
        a.filter.toSeq.flatMap(t => a.got.collect { case (id, _) if topicOf(id) != t => s"id $id is outside topic $t" })
      if (problems.nonEmpty) ops.failCheck(a.kind, s"qid ${a.qid}: ${problems.take(3).mkString("; ")}")
      if (a.kind == "ann") {
        val gt = ref.map(_._1)
        val got = a.got.map(_._1)
        annRecall += ((a.qid, gt, got, Stats.recallAtK(gt, got, K)))
      }
    }
    val recalls = annRecall.result()
    require(recalls.nonEmpty, "no ann request completed")
    // the engine's RecallAtK over the same lists must agree with the
    // benchmark's own arithmetic
    import spark.implicits._
    def frame(sel: ((Long, Seq[Long], Seq[Long], Double)) => Seq[Long]) =
      recalls.flatMap(r => sel(r).zipWithIndex.map { case (id, i) => (r._1, id, i + 1) }).toDF("qid", "vec_id", "rk")
    val engine = tracer.span("eval", "recall") {
      graft.eval.RecallAtK.evaluate(frame(_._2), frame(_._3), Seq(K))
        .as[(Long, Double)].collect().toMap
    }
    recalls.foreach { case (qid, _, _, r) =>
      val e = engine.getOrElse(qid, Double.NaN)
      if (math.abs(e - r) > 1e-4) ops.failCheck("ann", s"qid $qid: RecallAtK $e != recomputed $r")
    }
    recalls.map(_._4).sum / recalls.size
  }

  /** The mean over the request types of each type's median latency, so
    * the figure does not jump when the overall median falls between two
    * types' latencies.
    */
  override def opP50(ops: Ops): Double = Kinds.map(k => Stats.median(ops.latencies(k))).sum / Kinds.length

  override def detail(ops: Ops): Seq[String] = {
    Kinds.map { kind =>
      val l = ops.latencies(kind)
      def pct(q: Double) = Stats.percentile(l, q).fold("refused")(v => f"$v%.1f")
      f"$kind%-6s n=${l.size}%4d p50_ms=${if (l.isEmpty) "-" else f"${Stats.median(l)}%.1f"} " +
        s"p90_ms=${pct(0.9)} (n beyond p90 must be >= ${Stats.MinTail})"
    } :+ s"sql ann rewrite fired on $firedCount of $sqlCount queries"
  }
}

object Serve {
  val CollectionPages = 3000
  val QueryPool = 6000
  val Dim = 64
  val K = 10
  val Segments = 8
  val Cells = 8
  val Clients = 2
  val WarmUpSeconds = 10.0
  val Kinds = Seq("ann", "sql", "exact")

  final case class Answer(kind: String, qid: Long, q: Gen.Query, filter: Option[Int],
                          qv: Array[Float], got: Seq[(Long, Double)], fired: Boolean)
}
