package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, In, InSet}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._

import graft.functions.VectorExpressions
import graft.model.Tables
import graft.plans.AnnIndexRewrite
import graft.search.{Hnsw, IvfIndex}

/** Planner-chosen ANN: the distance-orderBy-limit pattern rewrites to a
  * stored-index probe when (and only when) a fitted index is registered
  * for the scanned path — and the rewrite never changes results.
  */
class AnnRewriteSpec extends GraftSpec {
  import spark.implicits._

  private lazy val srcPath = s"$sfDir/embeddings.parquet"

  /** The shared test session may carry a cache() of this very table
    * from another suite (VectorDistanceRulesSpec does), and cache
    * substitution replaces the scan with an InMemoryRelation — which
    * hides the source path and (by documented design) keeps the exact
    * plan. Drop any such cache entry so these tests see the real scan.
    */
  private def emb = {
    val df = Tables.embeddings(spark, sfDir)
    df.unpersist(true)
    df
  }

  private def pattern(qv: Array[Float]): DataFrame =
    emb.select($"vec_id",
        VectorExpressions.l2Sq(typedLit(qv), $"embedding").as("dist2"))
      .orderBy($"dist2", $"vec_id")
      .limit(10)

  private def qv0: Array[Float] =
    emb.filter($"vec_id" === 0).select("embedding").head().getSeq[Float](0).toArray

  private def registerExhaustive(): Unit = {
    val cent = IvfIndex.seedCentroids(emb, 4)
    val idx = Hnsw.buildRoutedIndex(spark, emb, cent).localCheckpoint(true)
    // nprobe covers all 4 cells and efSearch exceeds every cell size, so
    // the registration may truthfully declare exhaustiveProbe — the
    // precondition the FILTERED rewrites require for their exactness
    // argument (an approximate registration keeps the exact plan there).
    AnnIndexRewrite.register(srcPath,
      AnnIndexRewrite.IndexSpec(idx, cent, nprobe = 4, efSearch = 4096,
        exhaustiveProbe = true))
  }

  /** The candidate-id predicates spliced on vec_id — an In (or InSet,
    * after OptimizeIn) over literal ids inside a Filter — as the number
    * of ids each carries.
    */
  private def candidateIns(plan: LogicalPlan): Seq[Int] =
    plan.collect { case f: Filter => f.condition.collect {
      case In(a: AttributeReference, vs) if a.name == "vec_id" => vs.size
      case InSet(a: AttributeReference, hs) if a.name == "vec_id" => hs.size
    } }.flatten

  /** k · overfetch for the specs' registrations (k = 10, overfetch 2). */
  private val probeIds = 20

  test("no registered index: the pattern keeps the exact plan (fallback)") {
    VectorExpressions.ensureRegistered(spark)
    AnnIndexRewrite.clear()
    val plan = AnnIndexRewrite(pattern(qv0).queryExecution.optimizedPlan)
    assert(candidateIns(plan).isEmpty,
      "without registration the plan must stay the exact Sort+Limit")
  }

  test("registered index: the rule fires and splices a candidate-id predicate") {
    VectorExpressions.ensureRegistered(spark)
    registerExhaustive()
    try {
      val before = pattern(qv0).queryExecution.optimizedPlan
      val after = AnnIndexRewrite(before)
      assert(candidateIns(after) === Seq(probeIds),
        "exactly one candidate-id predicate carrying the k·overfetch probe ids")
      val leaves = after.collectLeaves()
      assert(leaves.size === 1 && leaves.head.isInstanceOf[LogicalRelation],
        s"the rewritten query scans only its source, the probe already ran: $leaves")
    } finally AnnIndexRewrite.clear()
  }

  test("rewritten plan returns the EXACT top-10 (end-to-end equality)") {
    VectorExpressions.ensureRegistered(spark)
    AnnIndexRewrite.clear()
    val expected = pattern(qv0).collect().map(r => (r.getLong(0), r.getDouble(1)))
    registerExhaustive()
    spark.experimental.extraOptimizations = Seq(AnnIndexRewrite)
    try {
      val df = pattern(qv0)
      assert(candidateIns(df.queryExecution.optimizedPlan) === Seq(probeIds),
        "the optimizer itself applied the rewrite")
      val got = df.collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(got.toSeq === expected.toSeq,
        "index acceleration must not change the exact result")
    } finally {
      spark.experimental.extraOptimizations = Nil
      AnnIndexRewrite.clear()
    }
  }

  test("an unfiltered planner query: one probe job at plan time, one job to answer") {
    VectorExpressions.ensureRegistered(spark)
    AnnIndexRewrite.clear()
    val qv7 = emb.filter($"vec_id" === 7).select("embedding").head().getSeq[Float](0).toArray
    val expected = pattern(qv7).collect().map(r => (r.getLong(0), r.getDouble(1)))
    registerExhaustive()
    spark.experimental.extraOptimizations = Seq(AnnIndexRewrite)
    try {
      // the first probe collects the centroids and makes the graphs resident
      pattern(qv0).collect()
      val df = pattern(qv7)
      val planned = SparkWork.of(spark)(df.queryExecution.optimizedPlan)
      val answered = SparkWork.of(spark)(df.collect())
      assert(planned.jobs === 1, s"plan time runs the probe as one job: $planned")
      assert(answered.jobs === 1, s"the rewritten query runs as one job: $answered")
      assert(candidateIns(df.queryExecution.optimizedPlan) === Seq(probeIds))
      assert(planned.shuffleReadBytes + answered.shuffleReadBytes === 0L,
        s"no shuffle: $planned, $answered")
      assert(df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq === expected.toSeq)
    } finally {
      spark.experimental.extraOptimizations = Nil
      AnnIndexRewrite.clear()
    }
  }

  test("pushed-projection shape (Limit → Project → Sort) also fires") {
    // The ann_planner_rewrite query wraps the pattern in an outer
    // rounding projection; the optimizer pushes that Project below the
    // Limit, giving Limit → Project → Sort → Project → Scan. The rule
    // must fire on that shape too (it silently fell back to exact on
    // first integration — rows matched, plan didn't).
    VectorExpressions.ensureRegistered(spark)
    registerExhaustive()
    try {
      val before = AnnIndexRewrite.fired.get()
      val df = pattern(qv0)
        .select($"vec_id", round(sqrt($"dist2"), 4).as("dist"))
        .orderBy($"dist", $"vec_id")
      val after = AnnIndexRewrite(df.queryExecution.optimizedPlan)
      assert(candidateIns(after) === Seq(probeIds),
        "rewrite must fire through the pushed projection")
      assert(AnnIndexRewrite.fired.get() === before + 1)
    } finally AnnIndexRewrite.clear()
  }

  private def filteredPattern(qv: Array[Float]): DataFrame =
    emb.filter($"label" === 3)
      .select($"vec_id",
        VectorExpressions.l2Sq(typedLit(qv), $"embedding").as("dist2"))
      .orderBy($"dist2", $"vec_id")
      .limit(10)

  test("filtered pattern: adaptive rewrite fires, result stays exact") {
    // Metadata-filtered kNN — the r15 productive form of what used to
    // be a hard block: probe with the enlarged candidate set, count
    // filter survivors at plan time, splice the candidate-id predicate
    // only when survivors >= k. At exhaustive knobs the candidates are
    // the true global top-K', so the rewritten rows must be EXACTLY the
    // filtered top-10.
    VectorExpressions.ensureRegistered(spark)
    AnnIndexRewrite.clear()
    val expected = filteredPattern(qv0).collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(expected.length === 10, "fixture sanity: the filter keeps >= 10 rows")
    registerExhaustive()
    spark.experimental.extraOptimizations = Seq(AnnIndexRewrite)
    try {
      val before = AnnIndexRewrite.firedFiltered.get()
      val df = filteredPattern(qv0)
      assert(candidateIns(df.queryExecution.optimizedPlan).nonEmpty,
        "the optimizer spliced the candidate-id predicate into the Filter")
      assert(AnnIndexRewrite.firedFiltered.get() > before, "firedFiltered counted")
      val got = df.collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(got.toSeq === expected.toSeq,
        "filtered acceleration must not change the exact filtered top-k")
    } finally {
      spark.experimental.extraOptimizations = Nil
      AnnIndexRewrite.clear()
    }
  }

  test("filtered pattern: survivors < k keeps the exact plan (adaptive fallback)") {
    // Candidate set deliberately too small (overfetch 1 x
    // filteredOverfetch 1 = 10 candidates; ~1 in 10 carries label 3):
    // the plan-time survivor count comes up short, the rule declines,
    // and the query still returns the exact filtered rows through the
    // untouched plan — recall safety, observable via filteredFallbacks.
    VectorExpressions.ensureRegistered(spark)
    AnnIndexRewrite.clear()
    val expected = filteredPattern(qv0).collect().map(r => (r.getLong(0), r.getDouble(1)))
    val cent = IvfIndex.seedCentroids(emb, 4)
    val idx = Hnsw.buildRoutedIndex(spark, emb, cent).localCheckpoint(true)
    AnnIndexRewrite.register(srcPath,
      AnnIndexRewrite.IndexSpec(idx, cent, nprobe = 4, efSearch = 4096,
        overfetch = 1, filteredOverfetch = 1, exhaustiveProbe = true))
    spark.experimental.extraOptimizations = Seq(AnnIndexRewrite)
    try {
      val fallbacksBefore = AnnIndexRewrite.filteredFallbacks.get()
      val firedBefore = AnnIndexRewrite.firedFiltered.get()
      val df = filteredPattern(qv0)
      val plan = df.queryExecution.optimizedPlan
      assert(candidateIns(plan).isEmpty,
        "no candidate predicate: the rule must decline when survivors < k")
      assert(AnnIndexRewrite.filteredFallbacks.get() > fallbacksBefore,
        "the decline is counter-observable")
      assert(AnnIndexRewrite.firedFiltered.get() === firedBefore)
      val got = df.collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(got.toSeq === expected.toSeq, "fallback keeps the exact rows")
    } finally {
      spark.experimental.extraOptimizations = Nil
      AnnIndexRewrite.clear()
    }
  }

  test("filtered pattern: a non-exhaustive registration declines WITHOUT probing") {
    // Survivors >= k only implies exactness when the probe candidates
    // are the true global top-K' — i.e. at exhaustive knobs. An
    // approximate registration (the default exhaustiveProbe = false)
    // must keep the exact plan for filtered shapes, observable via
    // filteredSkippedApprox rather than filteredFallbacks (no probe job
    // is ever paid).
    VectorExpressions.ensureRegistered(spark)
    AnnIndexRewrite.clear()
    val expected = filteredPattern(qv0).collect().map(r => (r.getLong(0), r.getDouble(1)))
    val cent = IvfIndex.seedCentroids(emb, 4)
    val idx = Hnsw.buildRoutedIndex(spark, emb, cent).localCheckpoint(true)
    AnnIndexRewrite.register(srcPath,
      AnnIndexRewrite.IndexSpec(idx, cent, nprobe = 4, efSearch = 4096))
    spark.experimental.extraOptimizations = Seq(AnnIndexRewrite)
    try {
      val skippedBefore = AnnIndexRewrite.filteredSkippedApprox.get()
      val fallbacksBefore = AnnIndexRewrite.filteredFallbacks.get()
      val firedBefore = AnnIndexRewrite.firedFiltered.get()
      val df = filteredPattern(qv0)
      assert(candidateIns(df.queryExecution.optimizedPlan).isEmpty,
        "no candidate predicate: an approx registration must not rewrite filtered shapes")
      assert(AnnIndexRewrite.filteredSkippedApprox.get() > skippedBefore,
        "the decline is counted as skipped-approx")
      assert(AnnIndexRewrite.filteredFallbacks.get() === fallbacksBefore,
        "no probe happened, so no fallback is counted")
      assert(AnnIndexRewrite.firedFiltered.get() === firedBefore)
      val got = df.collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(got.toSeq === expected.toSeq, "the exact plan keeps the exact rows")
    } finally {
      spark.experimental.extraOptimizations = Nil
      AnnIndexRewrite.clear()
    }
  }

  test("filtered pattern: conf-off keeps the exact plan") {
    VectorExpressions.ensureRegistered(spark)
    registerExhaustive()
    spark.conf.set("spark.graft.ann.rewrite", "false")
    try {
      val after = AnnIndexRewrite(filteredPattern(qv0).queryExecution.optimizedPlan)
      assert(candidateIns(after).isEmpty)
    } finally {
      spark.conf.unset("spark.graft.ann.rewrite")
      AnnIndexRewrite.clear()
    }
  }

  /** Five query vectors (ids 0-4) as a (qid, qemb) batch frame. */
  private def plainQueries: DataFrame =
    emb.filter($"vec_id" < 5).select($"vec_id".as("qid"), $"embedding".as("qemb"))

  /** [[plainQueries]] opted into the batch rewrite: the fixture-sized
    * scan sits far below the 64 MiB cost gate.
    */
  private def batchQueries: DataFrame = AnnIndexRewrite.batchOptIn(plainQueries)

  private def batchPattern: DataFrame = graft.search.KnnExact.topK(batchQueries, emb, 10)

  private def collectBatch(df: DataFrame): Seq[(Long, Long, Int, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
      BigDecimal(r.getDouble(3)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      .sortBy(t => (t._1, t._3)).toSeq

  test("batch pattern (multi-query window top-k): one probe, exact rows") {
    // The reference's real workload shape — several query vectors per
    // run through one ranking window. The rule collects the small query
    // side, probes the stored index ONCE for all queries, and reduces
    // the scan side to the candidate union; the untouched window
    // re-ranks exactly.
    VectorExpressions.ensureRegistered(spark)
    AnnIndexRewrite.clear()
    val expected = collectBatch(batchPattern)
    assert(expected.size === 50, "fixture sanity: 5 queries x top-10")
    registerExhaustive()
    spark.experimental.extraOptimizations = Seq(AnnIndexRewrite)
    try {
      val before = AnnIndexRewrite.firedBatch.get()
      val df = batchPattern
      val plan = df.queryExecution.optimizedPlan
      assert(AnnIndexRewrite.firedBatch.get() > before, "the batch rewrite fired")
      assert(candidateIns(plan).nonEmpty,
        "the scan side carries the candidate-id predicate")
      assert(collectBatch(df) === expected,
        "batch acceleration must not change any query's exact top-k")
    } finally {
      spark.experimental.extraOptimizations = Nil
      AnnIndexRewrite.clear()
    }
  }

  test("batch pattern: the scan-size cost gate keeps small scans exact") {
    // Probing at plan time costs real jobs; on a fixture-sized table
    // the exact window plan is cheaper, and the default 64 MiB gate
    // must decline — cost-based planner behavior, spec-pinned so the
    // bench's incidental KnnExact queries keep their plans. The opt-in
    // is a mark on one query frame, not session state: in one session
    // with one registration, only the marked copy carries the splice,
    // before and after it is planned.
    VectorExpressions.ensureRegistered(spark)
    registerExhaustive()
    spark.experimental.extraOptimizations = Seq(AnnIndexRewrite)
    try {
      def plainPlan = graft.search.KnnExact.topK(plainQueries, emb, 10)
        .queryExecution.optimizedPlan
      val before = AnnIndexRewrite.firedBatch.get()
      assert(candidateIns(plainPlan).isEmpty)
      assert(AnnIndexRewrite.firedBatch.get() === before,
        "default cost gate: fixture-sized scan stays on the exact plan")
      assert(candidateIns(batchPattern.queryExecution.optimizedPlan).nonEmpty,
        "the marked copy opts in")
      assert(candidateIns(plainPlan).isEmpty,
        "an unmarked plan after the marked one still declines")
    } finally {
      spark.experimental.extraOptimizations = Nil
      AnnIndexRewrite.clear()
    }
  }

  test("filtered pattern: an existing literal id-IN predicate is left alone") {
    // The structural idempotence marker doubles as a conservative skip:
    // a user's own literal id-list conjunct means the rule cannot tell
    // its own splice from user intent — it must keep the exact plan
    // (and, transitively, can never double-probe its own output).
    VectorExpressions.ensureRegistered(spark)
    registerExhaustive()
    spark.experimental.extraOptimizations = Seq(AnnIndexRewrite)
    try {
      val before = AnnIndexRewrite.firedFiltered.get()
      val df = emb.filter($"label" === 3 && $"vec_id".isin(0L to 400L: _*))
        .select($"vec_id",
          VectorExpressions.l2Sq(typedLit(qv0), $"embedding").as("dist2"))
        .orderBy($"dist2", $"vec_id")
        .limit(10)
      df.queryExecution.optimizedPlan
      assert(AnnIndexRewrite.firedFiltered.get() === before,
        "a pre-existing literal id-IN must not be treated as a rewrite target")
    } finally {
      spark.experimental.extraOptimizations = Nil
      AnnIndexRewrite.clear()
    }
  }

  // ---- cosine metric ---------------------------------------------------

  private def cosinePattern(qv: Array[Float]): DataFrame = {
    val qn = math.sqrt(qv.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble))
    val cdist = lit(1.0) -
      (VectorExpressions.dot(typedLit(qv), $"embedding") /
        (sqrt(VectorExpressions.dot($"embedding", $"embedding")) * lit(qn)))
    emb.select($"vec_id", cdist.as("cdist"))
      .orderBy($"cdist", $"vec_id")
      .limit(10)
  }

  /** A cosine-metric registration: routed-HNSW over the L2-NORMALIZED
    * vectors (for unit vectors ‖q̂−d̂‖² = 2−2·cos, so the normalized-L2
    * probe ranking IS the cosine ranking), keyed (path, "cosine").
    */
  private def registerCosine(): Unit = {
    val nrm = sqrt(VectorExpressions.dot($"embedding", $"embedding"))
    val normed = emb.select($"vec_id",
      transform($"embedding", x => (x.cast("double") / nrm).cast("float"))
        .as("embedding"))
    val cent = IvfIndex.seedCentroids(normed, 4)
    val idx = Hnsw.buildRoutedIndex(spark, normed, cent).localCheckpoint(true)
    AnnIndexRewrite.register(srcPath,
      AnnIndexRewrite.IndexSpec(idx, cent, nprobe = 4, efSearch = 4096,
        metric = "cosine", exhaustiveProbe = true))
  }

  test("cosine sort key: the rule probes the cosine index, result stays exact") {
    VectorExpressions.ensureRegistered(spark)
    AnnIndexRewrite.clear()
    val expected = cosinePattern(qv0).collect().map(r => (r.getLong(0), r.getDouble(1)))
    registerCosine()
    spark.experimental.extraOptimizations = Seq(AnnIndexRewrite)
    try {
      val before = AnnIndexRewrite.fired.get()
      val df = cosinePattern(qv0)
      assert(candidateIns(df.queryExecution.optimizedPlan) === Seq(probeIds),
        "the cosine key spliced the normalized-index probe's candidate ids")
      assert(AnnIndexRewrite.fired.get() > before)
      val got = df.collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(got.toSeq === expected.toSeq,
        "cosine index acceleration must not change the exact cosine top-k")
    } finally {
      spark.experimental.extraOptimizations = Nil
      AnnIndexRewrite.clear()
    }
  }

  test("cosine: a zero query vector keeps the exact plan (cosine undefined)") {
    VectorExpressions.ensureRegistered(spark)
    AnnIndexRewrite.clear()
    registerCosine()
    try {
      val qvZero = Array.fill(qv0.length)(0.0f)
      val after = AnnIndexRewrite(cosinePattern(qvZero).queryExecution.optimizedPlan)
      assert(candidateIns(after).isEmpty,
        "a zero query vector has no cosine ranking — the plan must stay exact")
    } finally AnnIndexRewrite.clear()
  }

  test("an L2 sort key never probes a cosine-only registration") {
    // The registry keys by (path, metric): a cosine index answers the
    // normalized-L2 ranking, which is NOT the raw-L2 ranking — an L2
    // sort key over a table carrying only a cosine registration must
    // keep the exact plan.
    VectorExpressions.ensureRegistered(spark)
    AnnIndexRewrite.clear()
    registerCosine() // ONLY metric = "cosine"
    try {
      val after = AnnIndexRewrite(pattern(qv0).queryExecution.optimizedPlan)
      assert(candidateIns(after).isEmpty,
        "metric mismatch: the L2 pattern must not use the cosine index")
    } finally AnnIndexRewrite.clear()
  }

  // ---- batch × filtered ------------------------------------------------

  private def batchFilteredPattern: DataFrame =
    graft.search.KnnExact.topK(batchQueries, emb.filter($"label" === 3), 10)

  test("batch x filtered pattern: one probe, per-query survivors, exact rows") {
    // Five query vectors x a metadata predicate through the ranking
    // window — the realest production shape. The rule probes once with
    // the filtered-enlarged candidate set, checks EVERY query keeps
    // >= k filter survivors, and reduces the scan side to the candidate
    // union; the untouched window re-ranks exactly.
    VectorExpressions.ensureRegistered(spark)
    AnnIndexRewrite.clear()
    val expected = collectBatch(batchFilteredPattern)
    assert(expected.size === 50, "fixture sanity: 5 queries x top-10 survive the filter")
    registerExhaustive()
    spark.experimental.extraOptimizations = Seq(AnnIndexRewrite)
    try {
      val before = AnnIndexRewrite.firedBatchFiltered.get()
      val df = batchFilteredPattern
      val plan = df.queryExecution.optimizedPlan
      assert(AnnIndexRewrite.firedBatchFiltered.get() > before,
        "the batch-filtered rewrite fired")
      assert(candidateIns(plan).nonEmpty,
        "the filtered scan side carries the candidate-id predicate")
      assert(collectBatch(df) === expected,
        "batch-filtered acceleration must not change any query's exact filtered top-k")
    } finally {
      spark.experimental.extraOptimizations = Nil
      AnnIndexRewrite.clear()
    }
  }

  test("batch x filtered: a query short of k survivors declines for ALL (all-or-nothing)") {
    // Candidate set deliberately tiny (overfetch 1 x filteredOverfetch 1
    // = 10 candidates per query; ~1 in 10 carries label 3): some query's
    // survivor count comes up short, so the shared plan must stay exact
    // for EVERY query — one short query would silently lose neighbors.
    VectorExpressions.ensureRegistered(spark)
    AnnIndexRewrite.clear()
    val expected = collectBatch(batchFilteredPattern)
    val cent = IvfIndex.seedCentroids(emb, 4)
    val idx = Hnsw.buildRoutedIndex(spark, emb, cent).localCheckpoint(true)
    AnnIndexRewrite.register(srcPath,
      AnnIndexRewrite.IndexSpec(idx, cent, nprobe = 4, efSearch = 4096,
        overfetch = 1, filteredOverfetch = 1, exhaustiveProbe = true))
    spark.experimental.extraOptimizations = Seq(AnnIndexRewrite)
    try {
      val fallbacksBefore = AnnIndexRewrite.batchFilteredFallbacks.get()
      val firedBefore = AnnIndexRewrite.firedBatchFiltered.get()
      val df = batchFilteredPattern
      val plan = df.queryExecution.optimizedPlan
      assert(candidateIns(plan).isEmpty,
        "no candidate predicate: the rule must decline when any query is short")
      assert(AnnIndexRewrite.batchFilteredFallbacks.get() > fallbacksBefore,
        "the decline is counter-observable")
      assert(AnnIndexRewrite.firedBatchFiltered.get() === firedBefore)
      assert(collectBatch(df) === expected, "fallback keeps the exact rows")
    } finally {
      spark.experimental.extraOptimizations = Nil
      AnnIndexRewrite.clear()
    }
  }

  // ---- batch × cosine --------------------------------------------------

  private def batchCosinePattern: DataFrame =
    graft.search.KnnExact.topKCosine(batchQueries, emb, 10)

  test("batch cosine pattern: one normalized probe, exact rows") {
    // topKCosine's attr-vs-attr negsim key routes to the metric="cosine"
    // index; the rule L2-normalizes the executed query side at plan time
    // and the untouched window re-ranks by the true similarity.
    VectorExpressions.ensureRegistered(spark)
    AnnIndexRewrite.clear()
    val expected = collectBatch(batchCosinePattern)
    assert(expected.size === 50, "fixture sanity: 5 queries x top-10")
    registerCosine()
    spark.experimental.extraOptimizations = Seq(AnnIndexRewrite)
    try {
      val before = AnnIndexRewrite.firedBatch.get()
      val df = batchCosinePattern
      val plan = df.queryExecution.optimizedPlan
      assert(AnnIndexRewrite.firedBatch.get() > before, "the batch cosine rewrite fired")
      assert(candidateIns(plan).nonEmpty,
        "the scan side carries the candidate-id predicate")
      assert(collectBatch(df) === expected,
        "batch cosine acceleration must not change any query's exact top-k")
    } finally {
      spark.experimental.extraOptimizations = Nil
      AnnIndexRewrite.clear()
    }
  }

  test("batch cosine: an L2-only registration keeps the exact plan (metric mismatch)") {
    VectorExpressions.ensureRegistered(spark)
    AnnIndexRewrite.clear()
    registerExhaustive() // ONLY metric = "l2"
    spark.experimental.extraOptimizations = Seq(AnnIndexRewrite)
    try {
      val before = AnnIndexRewrite.firedBatch.get()
      batchCosinePattern.queryExecution.optimizedPlan
      assert(AnnIndexRewrite.firedBatch.get() === before,
        "a cosine key must not probe an L2 index")
    } finally {
      spark.experimental.extraOptimizations = Nil
      AnnIndexRewrite.clear()
    }
  }

  test("batch cosine: a zero-norm query vector declines the whole rewrite") {
    // A zero query vector has no cosine ranking (the exact plan scores
    // it NaN); splicing candidates for the other queries would change
    // that query's rows, so the rule must keep the exact plan for ALL.
    VectorExpressions.ensureRegistered(spark)
    AnnIndexRewrite.clear()
    registerCosine()
    spark.experimental.extraOptimizations = Seq(AnnIndexRewrite)
    try {
      val zeroed = emb.select($"vec_id",
        when($"vec_id" === 2L, array_repeat(lit(0.0f), 64).cast("array<float>"))
          .otherwise($"embedding").as("embedding"))
      val q = AnnIndexRewrite.batchOptIn(zeroed.filter($"vec_id" < 5)
        .select($"vec_id".as("qid"), $"embedding".as("qemb")))
      val before = AnnIndexRewrite.firedBatch.get()
      val df = graft.search.KnnExact.topKCosine(q, emb, 10)
      val plan = df.queryExecution.optimizedPlan
      assert(AnnIndexRewrite.firedBatch.get() === before,
        "zero-norm query vector: the batch cosine rewrite must decline")
      assert(candidateIns(plan).isEmpty)
    } finally {
      spark.experimental.extraOptimizations = Nil
      AnnIndexRewrite.clear()
    }
  }

  test("batch x filtered x cosine: the full composition fires and stays exact") {
    // The metric x shape matrix's last cell: cosine key + metadata
    // Filter + multi-query window. Normalized probe, filtered-enlarged
    // candidates, per-query survivor checks — same machinery as the L2
    // batch-filtered path with the metric threaded through.
    VectorExpressions.ensureRegistered(spark)
    AnnIndexRewrite.clear()
    def pat: DataFrame =
      graft.search.KnnExact.topKCosine(batchQueries, emb.filter($"label" === 3), 10)
    val expected = collectBatch(pat)
    assert(expected.size === 50, "fixture sanity: 5 queries x top-10 survive the filter")
    registerCosine()
    spark.experimental.extraOptimizations = Seq(AnnIndexRewrite)
    try {
      val before = AnnIndexRewrite.firedBatchFiltered.get()
      val df = pat
      val plan = df.queryExecution.optimizedPlan
      assert(AnnIndexRewrite.firedBatchFiltered.get() > before,
        "the batch-filtered cosine rewrite fired")
      assert(candidateIns(plan).nonEmpty)
      assert(collectBatch(df) === expected,
        "the full composition must not change any query's exact filtered top-k")
    } finally {
      spark.experimental.extraOptimizations = Nil
      AnnIndexRewrite.clear()
    }
  }

  test("source files mutated after registration: the registration self-heals stale") {
    // The index is a SNAPSHOT claim: if the table gains files after
    // registration, splicing the stale probe would silently hide the
    // new rows from a query whose exact plan sees them — the one way
    // "acceleration never changes results" can break without a code
    // bug. The staleness guard fingerprints the file listing at
    // registration and drops the registration (exact plan, warn) when
    // it changes.
    VectorExpressions.ensureRegistered(spark)
    AnnIndexRewrite.clear()
    val tmp = GraftSpec.tempDir("graft_stale_src").toString
    emb.write.mode("overwrite").parquet(tmp)
    val snap = spark.read.parquet(tmp)
    val cent = IvfIndex.seedCentroids(snap, 4)
    val idx = Hnsw.buildRoutedIndex(spark, snap, cent).localCheckpoint(true)
    AnnIndexRewrite.register(tmp,
      AnnIndexRewrite.IndexSpec(idx, cent, nprobe = 4, efSearch = 4096,
        exhaustiveProbe = true))
    spark.conf.set("spark.graft.staleness.intervalMs", "0")
    try {
      def pat: DataFrame = spark.read.parquet(tmp)
        .select($"vec_id",
          VectorExpressions.l2Sq(typedLit(qv0), $"embedding").as("dist2"))
        .orderBy($"dist2", $"vec_id")
        .limit(10)
      val before = AnnIndexRewrite(pat.queryExecution.optimizedPlan)
      assert(candidateIns(before) === Seq(probeIds),
        "fresh registration: the rewrite fires")
      // mutate the source: append one more file to the directory
      val top = emb.agg(max($"vec_id")).head().getLong(0)
      Seq((top + 1L, Array.fill(64)(0.25f), 3))
        .toDF("vec_id", "embedding", "label")
        .write.mode("append").parquet(tmp)
      val dropped = AnnIndexRewrite.droppedStale.get()
      val after = AnnIndexRewrite(pat.queryExecution.optimizedPlan)
      assert(candidateIns(after).isEmpty,
        "stale snapshot: the rule must keep the exact plan")
      assert(AnnIndexRewrite.droppedStale.get() > dropped,
        "the self-heal is counter-observable")
      // and the registration is gone — the next plan doesn't even probe
      val again = AnnIndexRewrite(pat.queryExecution.optimizedPlan)
      assert(candidateIns(again).isEmpty)
    } finally {
      spark.conf.unset("spark.graft.staleness.intervalMs")
      AnnIndexRewrite.clear()
    }
  }

  test("rewrite disabled by conf even when an index is registered") {
    VectorExpressions.ensureRegistered(spark)
    registerExhaustive()
    spark.conf.set("spark.graft.ann.rewrite", "false")
    try {
      val after = AnnIndexRewrite(pattern(qv0).queryExecution.optimizedPlan)
      assert(candidateIns(after).isEmpty)
    } finally {
      spark.conf.unset("spark.graft.ann.rewrite")
      AnnIndexRewrite.clear()
    }
  }
  test("two ANN patterns in one query: no exprId collision, both exact") {
    // a union of two kNN results over the same registered table: each
    // pattern splices its own literal candidate-id predicate, for a
    // DataFrame-backed and a path-backed spec alike — only literals
    // enter the plan, so two splices cannot collide on index attrs.
    // Either way the RESULT must equal the pure-exact union.
    VectorExpressions.ensureRegistered(spark)
    AnnIndexRewrite.clear()
    val qv1 = qv0
    val qv2 = emb.filter($"vec_id" === 1).select("embedding").head().getSeq[Float](0).toArray
    def both: DataFrame = pattern(qv1).unionByName(pattern(qv2))
    val expected = both.collect().map(r => (r.getLong(0), r.getDouble(1))).sorted
    registerExhaustive() // DataFrame-backed (indexPath = None)
    spark.experimental.extraOptimizations = Seq(AnnIndexRewrite)
    try {
      val df1 = both
      assert(candidateIns(df1.queryExecution.optimizedPlan) === Seq(probeIds, probeIds),
        "DataFrame-backed spec must accelerate BOTH patterns")
      val got = df1.collect().map(r => (r.getLong(0), r.getDouble(1))).sorted
      assert(got.toSeq === expected.toSeq)
      // path-backed: write the index, register with indexPath, expect
      // BOTH patterns accelerated and the same exact rows
      AnnIndexRewrite.clear()
      val cent = IvfIndex.seedCentroids(emb, 4)
      val tmp = GraftSpec.tempDir("graft_annidx_spec").toString
      Hnsw.buildRoutedIndex(spark, emb, cent)
        .write.mode("overwrite").partitionBy("cell").parquet(tmp)
      AnnIndexRewrite.register(srcPath,
        AnnIndexRewrite.IndexSpec(spark.read.parquet(tmp), cent,
          nprobe = 4, efSearch = 4096, indexPath = Some(tmp)))
      val df2 = both
      assert(candidateIns(df2.queryExecution.optimizedPlan) === Seq(probeIds, probeIds),
        "path-backed spec must accelerate BOTH patterns")
      val got2 = df2.collect().map(r => (r.getLong(0), r.getDouble(1))).sorted
      assert(got2.toSeq === expected.toSeq)
    } finally {
      spark.experimental.extraOptimizations = Nil
      AnnIndexRewrite.clear()
    }
  }

  test("unregister, clear and clearCaches each release the resident routed graphs") {
    // a probe makes the registered index's cell graphs resident (one
    // persisted RDD); dropping the registration must unpersist it. Ids,
    // not counts: the ContextCleaner may unpersist garbage from earlier
    // tests at any moment, but never adds a persisted RDD.
    VectorExpressions.ensureRegistered(spark)
    AnnIndexRewrite.clear()
    SparkEntry.clearCaches()
    val cent = IvfIndex.seedCentroids(emb, 4)
    val idx = Hnsw.buildRoutedIndex(spark, emb, cent).localCheckpoint(true)
    def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val releases = Seq[(String, () => Unit)](
      "unregister" -> (() => AnnIndexRewrite.unregister(srcPath)),
      "clear" -> (() => AnnIndexRewrite.clear()),
      "clearCaches" -> (() => SparkEntry.clearCaches()))
    spark.experimental.extraOptimizations = Seq(AnnIndexRewrite)
    try releases.foreach { case (name, release) =>
      val before = persisted
      AnnIndexRewrite.register(srcPath,
        AnnIndexRewrite.IndexSpec(idx, cent, nprobe = 4, efSearch = 4096))
      val df = pattern(qv0)
      assert(candidateIns(df.queryExecution.optimizedPlan) === Seq(probeIds))
      df.collect()
      assert((persisted -- before).size === 1, s"$name: the probe made the cell graphs resident")
      release()
      assert((persisted -- before).isEmpty, s"$name must release the resident graphs")
      AnnIndexRewrite.clear()
    } finally {
      spark.experimental.extraOptimizations = Nil
      AnnIndexRewrite.clear()
    }
  }

  // ---- inner product (MIPS) ---------------------------------------------

  /** `−dot(q, e)` ascending + limit — KnnExact.topKDot's single-query
    * shape, the declarative MIPS pattern the ip metric matches.
    */
  private def ipPattern(qv: Array[Float]): DataFrame =
    emb.select($"vec_id",
        (-VectorExpressions.dot(typedLit(qv), $"embedding")).as("nip"))
      .orderBy($"nip", $"vec_id")
      .limit(10)

  /** metric="ip" registration: routed HNSW over the AUGMENTED vectors
    * [x, sqrt(M²−‖x‖²)] (the MIPS→L2 reduction — probing with [q, 0]
    * ranks by descending inner product).
    */
  private def registerIp(): Unit = {
    val selfDot = VectorExpressions.dot($"embedding", $"embedding")
    val m2 = emb.agg(max(selfDot)).head().getDouble(0)
    val aug = emb.select($"vec_id",
      concat($"embedding".cast("array<double>"),
        array(sqrt(lit(m2) - selfDot))).cast("array<float>").as("embedding"))
    val cent = IvfIndex.seedCentroids(aug, 4)
    val idx = Hnsw.buildRoutedIndex(spark, aug, cent).localCheckpoint(true)
    AnnIndexRewrite.register(srcPath,
      AnnIndexRewrite.IndexSpec(idx, cent, nprobe = 4, efSearch = 4096,
        metric = "ip", exhaustiveProbe = true))
  }

  test("ip sort key: the rule probes the augmented index, result stays exact") {
    VectorExpressions.ensureRegistered(spark)
    AnnIndexRewrite.clear()
    val expected = ipPattern(qv0).collect().map(r => (r.getLong(0), r.getDouble(1)))
    registerIp()
    spark.experimental.extraOptimizations = Seq(AnnIndexRewrite)
    try {
      val before = AnnIndexRewrite.fired.get()
      val df = ipPattern(qv0)
      assert(candidateIns(df.queryExecution.optimizedPlan) === Seq(probeIds),
        "the ip key spliced the augmented-index probe's candidate ids")
      assert(AnnIndexRewrite.fired.get() > before)
      val got = df.collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(got.toSeq === expected.toSeq,
        "ip index acceleration must not change the exact MIPS top-k")
    } finally {
      spark.experimental.extraOptimizations = Nil
      AnnIndexRewrite.clear()
    }
  }

  test("ip: a NaN query component keeps the exact plan (no dot ranking)") {
    VectorExpressions.ensureRegistered(spark)
    AnnIndexRewrite.clear()
    registerIp()
    try {
      val qvNaN = qv0.clone(); qvNaN(0) = Float.NaN
      val after = AnnIndexRewrite(ipPattern(qvNaN).queryExecution.optimizedPlan)
      assert(candidateIns(after).isEmpty,
        "a NaN query component has no dot ranking — the plan must stay exact")
    } finally AnnIndexRewrite.clear()
  }

  test("an ip sort key never probes an L2-only registration") {
    // The augmented ip index answers descending-dot; the raw-L2 index
    // does not — an ip key over a table carrying only an L2
    // registration must keep the exact plan (and vice versa the L2 key
    // must not probe the 65-dim augmented index).
    VectorExpressions.ensureRegistered(spark)
    AnnIndexRewrite.clear()
    registerExhaustive() // ONLY metric = "l2"
    try {
      val after = AnnIndexRewrite(ipPattern(qv0).queryExecution.optimizedPlan)
      assert(candidateIns(after).isEmpty,
        "metric mismatch: the ip pattern must not use the L2 index")
    } finally AnnIndexRewrite.clear()
  }

  test("batch ip pattern: one zero-augmented probe, exact rows") {
    VectorExpressions.ensureRegistered(spark)
    AnnIndexRewrite.clear()
    def batchIp = graft.search.KnnExact.topKDot(batchQueries, emb, 10)
    val expected = collectBatch(batchIp)
    assert(expected.size === 50, "fixture sanity: 5 queries x top-10")
    registerIp()
    spark.experimental.extraOptimizations = Seq(AnnIndexRewrite)
    try {
      val before = AnnIndexRewrite.firedBatch.get()
      val df = batchIp
      val plan = df.queryExecution.optimizedPlan
      assert(AnnIndexRewrite.firedBatch.get() > before, "the batch ip rewrite fired")
      assert(candidateIns(plan).nonEmpty,
        "the scan side carries the candidate-id predicate")
      assert(collectBatch(df) === expected,
        "batch ip acceleration must not change any query's exact top-k")
    } finally {
      spark.experimental.extraOptimizations = Nil
      AnnIndexRewrite.clear()
    }
  }

}
