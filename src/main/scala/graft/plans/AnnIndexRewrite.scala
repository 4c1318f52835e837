package graft.plans

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.PlanOps
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, FloatType, Metadata, MetadataBuilder}

import graft.functions.{FloatVecDot, FloatVecL2Sq}

/** Planner-chosen ANN (SURVEY §4's "not built-in as a planner choice"
  * gap): a session registry of fitted vector indexes plus an optimizer
  * rule that rewrites the canonical exact-kNN plan shape
  *
  * {{{ Limit k → Sort(graft_l2sq(<literal query vector>, emb) ASC) → Project → Scan }}}
  *
  * into an index-accelerated plan — the user writes the declarative
  * distance-orderBy-limit query and the PLANNER decides to use the
  * index, exactly how a B-tree turns ORDER BY ts LIMIT 10 into an index
  * scan in a relational optimizer. The reference makes this choice in
  * client code (exact scan vs collection.query); here it is a plan
  * property.
  *
  * Rewrite shape: the rule runs the stored-index probe at plan time
  * ([[graft.search.Hnsw.searchRoutedIndex]] — route on the driver, walk
  * the nprobe cells' resident graphs, merge on the driver: one Spark
  * job), splices its k·overfetch candidate ids into the scan as a
  * literal id-IN predicate, and the ORIGINAL Sort+Limit re-rank those
  * candidates exactly:
  *
  * {{{ Limit k → Sort(dist ASC) → Project → Filter(id IN probe(qv)) → Scan }}}
  *
  * - At 100 TB the Sort's input shrinks from n rows to k·overfetch
  *   rows, and the id-IN predicate is a pushable scan filter; the probe
  *   reads no index file once the registered index's cell graphs are
  *   resident, and walks only the probed cells. The query then runs as
  *   one job of its own.
  * - Results are IDENTICAL to the exact plan whenever the probe's
  *   candidate set contains the true top-k (guaranteed at exhaustive
  *   nprobe/efSearch, the registration used by the oracle-checked
  *   query; at approximate settings this is the standard ANN
  *   recall trade, chosen at registration time, per index).
  * - No registered index for the scanned path (or the rule disabled
  *   via `spark.graft.ann.rewrite`) → no match → Catalyst's own
  *   TakeOrderedAndProject exact path. Fallback is the EXACT plan,
  *   never a broken probe.
  *
  * METRICS: the sort key may be the raw squared L2, any monotone
  * wrapper of it (sqrt, casts), or a COSINE distance (`c − dot(q,e) /
  * (‖q‖·‖e‖)` or `−sim`) — ascending cosine distance is descending
  * similarity. A cosine key probes the index registered with
  * `metric = "cosine"`, which must be built over L2-NORMALIZED copies
  * of the vectors: for unit vectors ‖q̂−d̂‖² = 2−2·cos(q,d), so the
  * normalized-L2 ranking IS the cosine ranking and the probe answers
  * it exactly; the original Sort then re-ranks candidates by the true
  * cosine expression. An INNER-PRODUCT key (`−dot(q,e)` or `c − dot` —
  * ascending negated dot is descending inner product, the MIPS shape)
  * probes the index registered with `metric = "ip"`, built over
  * AUGMENTED vectors [x, sqrt(M²−‖x‖²)] and probed with [q, 0]
  * (Shrivastava & Li '14: augmented L2 is monotone in −q·x for any q),
  * then re-ranks by the true dot expression. One source path may carry
  * one index per metric. A query vector with no ranking under its
  * metric — zero-norm or NaN under cosine, a NaN component under ip —
  * keeps the exact plan; for a zero-norm cosine query that plan raises
  * DIVIDE_BY_ZERO under the ANSI mode `GraftSession` pins, rather than
  * ranking it NaN.
  *
  * FILTERED variant (metadata-filtered vector search — the most common
  * real-world query shape; the reference's collection metadata,
  * create_collections.py:150-154, exists precisely to filter
  * searches): the same pattern with a deterministic Filter between the
  * Project and the scan,
  *
  * {{{ Limit k → Sort(dist ASC) → Project → Filter(meta) → Scan }}}
  *
  * is rewritten ADAPTIVELY. Pre-filter candidate pruning loses recall
  * (the classic filtered-ANN pitfall: the index returns the global
  * top-k, the filter then strips survivors below k), so the rule
  * probes with an ENLARGED candidate set (k · overfetch ·
  * filteredOverfetch), counts at plan time how many candidates survive
  * the filter, and only when survivors ≥ k splices the candidate-id
  * predicate into the Filter:
  *
  * {{{ Limit k → Sort(dist ASC) → Project → Filter(meta AND id IN cands) → Scan }}}
  *
  * The survivors ≥ k check makes the rewrite EXACT only when the probe
  * candidates are the true global top-K′ — i.e. when the index was
  * registered with exhaustive knobs. At approximate knobs the count
  * can pass while the candidate set misses true filtered neighbors,
  * silently degrading a query that would otherwise run the exact plan;
  * the filtered (and batch-filtered) rewrites therefore require the
  * registration to declare `exhaustiveProbe = true`, an explicit
  * statement that nprobe covers all cells and efSearch exceeds every
  * cell. Approximate registrations keep the exact plan for filtered
  * shapes (counter-observable via [[filteredSkippedApprox]]); the
  * unfiltered shapes keep the standard documented recall trade.
  *
  * Fewer survivors than k → the exact plan, the recall-safety contract
  * made productive instead of a hard block. The id-IN predicate is a
  * pushable scan filter (parquet row-group pruning at scale), and the
  * survivor count the rule pays at plan time is the same bounded probe
  * the accelerated plan reuses conceptually — both are O(candidates),
  * replacing an O(n) scan.
  *
  * ONE PIPELINE: the 3 metrics × single query or batch × filtered or
  * not are twelve shapes, and every one passes the same five steps —
  * match the sort key ([[distanceKey]]); take the query vectors, from
  * the literal or from the batch query side collected once
  * ([[queryVectors]]); prepare each probe vector ([[probeVector]]);
  * probe and count survivors ([[candidates]]); splice the candidate-id
  * predicate. The shapes differ only in what a sort-key operand may be
  * and where the scan side sits.
  *
  * PLAN-TIME PURITY: every rewrite runs real (bounded) Spark jobs
  * inside the optimizer. Every `Dataset` re-plans, and `.explain()`
  * re-plans again — so probe results AND declined decisions are
  * memoized per (index, query vector / query-side plan, filter text,
  * k). A repeat plan of the same shape splices the cached
  * candidate ids (or declines from cache) without touching the
  * cluster; the caches clear whenever the registry changes.
  *
  * Every shape guards idempotence structurally: a candidate-id IN/INSET
  * conjunct on the id column marks an already-rewritten Filter. The
  * unfiltered match needs no Filter between the Project and the scan
  * (column-pruning Projects aside), so its own output (Project →
  * Filter(id IN …) → Scan) can only re-enter as the filtered shape,
  * which the marker declines. A user's own literal
  * id-IN predicate also matches the marker — such queries keep the
  * exact plan, never a double probe. A probe with no candidates splices
  * nothing: the exact plan answers.
  *
  * An index is a snapshot of its source's files: [[SourceSnapshots]]
  * fingerprints the listing at registration and re-checks it lazily at
  * plan time; a changed source drops the registration
  * ([[droppedStale]]) and a listing failure declines the plan, keeping
  * the registration — either way the exact plan answers.
  *
  * Known limitation, by design: a `cache()`d source table is
  * substituted with an InMemoryRelation before optimization, which
  * hides the scan's path — such plans keep the exact path (correct,
  * just unaccelerated). Registration is per (source path, metric).
  */
object AnnIndexRewrite extends Rule[LogicalPlan] {

  /** A fitted index over one source table: the stored routed-HNSW
    * adjacency (cell, id, embedding, nbrs — [[graft.search.Hnsw.buildRoutedIndex]]),
    * its centroids, and the search knobs frozen at registration.
    * `overfetch` widens the candidate set the exact re-rank sees
    * (ties at the k-th boundary, future filtered variants).
    * `metric` is the distance family the index answers: "l2" over the
    * raw vectors, or "cosine" over L2-normalized copies (see the
    * class doc). `exhaustiveProbe` declares that nprobe covers every
    * cell and efSearch exceeds every cell size — the precondition for
    * the filtered rewrites' exactness argument. Every probe walks
    * `index` itself (its cell graphs stay resident, see
    * [[graft.search.Hnsw.searchRoutedIndex]]); `indexPath` only names
    * the index in the probe memo keys.
    */
  final case class IndexSpec(
      index: DataFrame,
      centroids: DataFrame,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      nprobe: Int = 2,
      efSearch: Int = 128,
      overfetch: Int = 2,
      indexPath: Option[String] = None,
      // extra candidate-set multiplier for the FILTERED pattern — sized
      // to the expected filter selectivity (candidates = k · overfetch ·
      // filteredOverfetch must contain ≥ k filter survivors for the
      // rewrite to fire; 16 covers selectivity down to ~1/16th with the
      // default overfetch headroom)
      filteredOverfetch: Int = 16,
      metric: String = "l2",
      exhaustiveProbe: Boolean = false) {

    /** The centroids on the driver, collected at the first probe and
      * kept for the registration's lifetime: routing is a driver-side
      * ranking of parameter-bounded centroids, not a job per probe.
      */
    private[plans] lazy val centroidRows: Array[(Int, Array[Float])] =
      graft.search.Hnsw.collectCentroids(centroids)
  }

  /** Fitted indexes keyed by (normalized source path, metric). One
    * table may carry both an L2 and a cosine index. Registration is
    * session-lived, like a temp view.
    */
  private val registry = TrieMap.empty[String, IndexSpec]
  private val snapshots = new SourceSnapshots("ANN")

  private val Metrics = Seq("l2", "cosine", "ip")

  private def regKey(path: String, metric: String): String =
    SourceSnapshots.normalize(path) + "#" + metric

  def register(sourcePath: String, spec: IndexSpec): Unit = {
    require(Metrics.contains(spec.metric), s"unknown metric '${spec.metric}'")
    val key = regKey(sourcePath, spec.metric)
    registry.put(key, spec).foreach(release)
    // the exactness contract (candidates ⊇ true top-k at exhaustive
    // knobs) only holds while the table IS the snapshot the index was
    // built from
    snapshots.take(key, Seq(sourcePath), spec.index.sparkSession)
    invalidateProbeCaches()
  }

  def unregister(sourcePath: String): Unit = {
    Metrics.foreach { m =>
      val key = regKey(sourcePath, m)
      registry.remove(key).foreach(release)
      snapshots.forget(key)
    }
    invalidateProbeCaches()
  }

  /** No index is registered. */
  private[graft] def isEmpty: Boolean = registry.isEmpty

  def clear(): Unit = {
    registry.keys.foreach(k => registry.remove(k).foreach(release))
    snapshots.clear()
    invalidateProbeCaches()
  }

  /** Unpersist the resident cell graphs a dropped registration's probes
    * built.
    */
  private def release(spec: IndexSpec): Unit =
    graft.search.Hnsw.releaseResident(spec.index)

  /** Clear the plan-time memoization (staleness verdicts + probe
    * decisions) WITHOUT touching any registration — the retry-once path
    * of the rewrite_fired pin ([[PlannerPin]]): a transient listing
    * failure otherwise declines every plan for a whole check interval
    * (the r17 driver flake), and a cached decline would defeat the
    * retry. Dropping these entries costs a re-list + re-probe, never
    * correctness.
    */
  def resetPlanCaches(): Unit = { snapshots.resetVerdicts(); invalidateProbeCaches() }

  /** Observability: registrations dropped because their source files
    * changed after registration (the staleness self-heal).
    */
  val droppedStale: java.util.concurrent.atomic.AtomicLong = snapshots.droppedStale

  /** Count of rewrites applied in this JVM — observability for specs
    * and operators (a registered index that never fires is a config
    * bug, not a silent fallback).
    */
  val fired = new java.util.concurrent.atomic.AtomicLong(0)

  /** Count of FILTERED-pattern rewrites applied (disjoint from
    * [[fired]] — each pattern instance increments exactly one counter).
    */
  val firedFiltered = new java.util.concurrent.atomic.AtomicLong(0)

  /** Count of filtered-pattern matches that probed but KEPT the exact
    * plan because fewer than k candidates survived the filter — the
    * recall-safety fallback, observable so a too-small filteredOverfetch
    * shows up as a counter, not as silent slowness.
    */
  val filteredFallbacks = new java.util.concurrent.atomic.AtomicLong(0)

  /** Count of filtered-pattern matches declined WITHOUT probing because
    * the registration did not declare `exhaustiveProbe` — the filtered
    * exactness argument needs true global top-K′ candidates, so an
    * approximate index keeps the exact plan for filtered shapes.
    */
  val filteredSkippedApprox = new java.util.concurrent.atomic.AtomicLong(0)

  /** Count of BATCH (multi-query window top-k) rewrites applied. */
  val firedBatch = new java.util.concurrent.atomic.AtomicLong(0)

  /** Count of batch-FILTERED rewrites applied (the multi-query window
    * top-k with a metadata Filter under the join — the realest
    * production shape; disjoint from [[firedBatch]]).
    */
  val firedBatchFiltered = new java.util.concurrent.atomic.AtomicLong(0)

  /** Count of batch-filtered matches that probed but declined because
    * some query had fewer than k filter survivors among its candidates.
    */
  val batchFilteredFallbacks = new java.util.concurrent.atomic.AtomicLong(0)

  // ---- plan-time probe memoization -----------------------------------
  // Optimizer rules re-run on every new Dataset of the same shape and on
  // every explain(); the probe jobs are bounded but real, so both FIRE
  // results (candidate ids) and DECLINE decisions are cached. Cleared on
  // any registry mutation (the only way index content legitimately
  // changes under the rule's contract).
  // NOTE on counter semantics: fired/firedFiltered/filteredFallbacks &c.
  // count PLAN EVENTS (every re-plan of the same shape — each new Dataset,
  // each .explain()), not probe jobs; cache hits re-count without paying a
  // probe. The cache is size-bounded so a long-lived session issuing many
  // distinct filtered kNN shapes cannot leak plan-time entries without
  // bound: past the cap the whole cache resets (the entries are pure
  // memoization — dropping them costs a re-probe, never correctness).
  private val MaxProbeCacheEntries = 512
  private val probeDecisions = TrieMap.empty[String, Option[IndexedSeq[Any]]]
  private def invalidateProbeCaches(): Unit = probeDecisions.clear()
  private def memoProbe(key: String)(
      compute: => Option[IndexedSeq[Any]]): Option[IndexedSeq[Any]] = {
    if (probeDecisions.size > MaxProbeCacheEntries) probeDecisions.clear()
    probeDecisions.getOrElseUpdate(key, compute)
  }

  private def specCacheKey(spec: IndexSpec): String =
    spec.indexPath.getOrElse("df@" + System.identityHashCode(spec.index))

  private def enabled: Boolean =
    SQLConf.get.getConfString("spark.graft.ann.rewrite", "true").toBoolean

  /** Cost gate for the BATCH rewrite: only scans at least this large
    * get the index plan. The batch probe runs real Spark jobs at plan
    * time (route + walk + collect candidate ids), a cost that only pays
    * off when it replaces a big scan — on a small table the exact
    * window top-k is already cheap and the probe would be pure
    * overhead. This is the planner behaving like a cost-based
    * optimizer: same query shape, different plan by data size. A query
    * frame marked by [[batchOptIn]] skips the gate.
    */
  private val BatchMinScanBytes = BigInt(64L << 20)

  /** Whether the batch rewrite's gate lets a window top-k over `leaf`
    * through: the query embedding (metadata `qemb`) carries the
    * [[batchOptIn]] mark, or `leaf` is a file scan of at least
    * [[BatchMinScanBytes]]. `KnnExact.topKBy` ranks on the driver only
    * when the gate is shut for every leaf of its plan, so every window the
    * rewrite could fire on keeps its shape.
    */
  private[graft] def batchGateOpen(qemb: Metadata, leaf: LogicalPlan): Boolean =
    qemb.contains(BatchProbeKey) ||
      (SourceSnapshots.pathOf(leaf).isDefined && leaf.stats.sizeInBytes >= BatchMinScanBytes)

  /** Column-metadata key of the [[batchOptIn]] mark. */
  private val BatchProbeKey = "graft.ann.batchProbe"

  /** Opts one batch query frame into the batch rewrite regardless of
    * scan size: re-aliases `qEmbCol` with the [[BatchProbeKey]] mark.
    * The mark rides the query embedding's attribute into the window's
    * sort key, where the rule reads it, so the opt-in belongs to the
    * plan and not to the session — concurrent plans of unmarked
    * queries keep the cost gate. Output schemas that drop the query
    * embedding (every top-k select) carry no trace of it.
    */
  def batchOptIn(queries: DataFrame, qEmbCol: String = "qemb"): DataFrame =
    queries.withMetadata(qEmbCol, new MetadataBuilder()
      .withMetadata(queries.schema(qEmbCol).metadata)
      .putBoolean(BatchProbeKey, true).build())

  /** Log-once flag for the no-current-session decline (ADVICE r15: an
    * invisible perf cliff should at least log its first occurrence).
    */
  private val warnedNoSession = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** The scan's registered spec for `metric`, if any, owned by the
    * current session and not stale (V1 parquet scans only, see
    * [[SourceSnapshots.pathOf]]).
    *
    * `cur` is the session the plan is being optimized FOR: the
    * session-bound [[AnnIndexRewriteRule]] passes its injected session
    * (correct even when planning happens off-thread — thread pools,
    * streaming foreachBatch); the bare object falls back to the
    * thread-local active session.
    */
  private def specOf(leaf: LogicalPlan, metric: String,
      cur: Option[SparkSession]): Option[IndexSpec] =
    SourceSnapshots.pathOf(leaf).flatMap { p =>
      val key = p.toUri.getPath + "#" + metric
      registry.get(key).flatMap { spec =>
        // a registration outlives its owning session only as a bug:
        // handing a stopped session's DataFrame to a live query
        // would fail at execution. Self-heal by dropping it — the
        // query falls back to the exact plan (the rule's contract).
        if (spec.index.sparkSession.sparkContext.isStopped) {
          registry.remove(key).foreach(release); None
        } else if (cur.isEmpty) {
          if (warnedNoSession.compareAndSet(false, true)) {
            logWarning("graft ANN rewrite: no current session to check " +
              "registration ownership against; keeping the exact plan " +
              "(register via a session built withExtensions(GraftExtensions) " +
              "to bind the rule to its session)")
          }
          None
        } else if (!cur.exists(_ eq spec.index.sparkSession)) {
          // registration is SESSION-lived (like a temp view), but the
          // registry is JVM-global keyed by path: a DIFFERENT live
          // session scanning the same path must not get this
          // session's analyzed index subtree spliced into its plan —
          // it keeps the exact path (correct, just unaccelerated).
          None
        } else if (snapshots.stale(key, Seq(p.toString), spec.index.sparkSession) {
            registry.remove(key).foreach(release); invalidateProbeCaches()
          }) {
          // the index is a stale snapshot (dropped) or the listing
          // could not be verified: splicing it could drop/resurrect
          // rows the exact plan sees
          None
        } else Some(spec)
      }
    }

  // ---- 1. the sort key ---------------------------------------------------

  private def stripCasts(e: Expression): Expression = e match {
    case c: Cast => stripCasts(c.child)
    case other => other
  }

  private def litVec(e: Expression): Option[Array[Float]] = e match {
    case Literal(arr: ArrayData, ArrayType(FloatType, _)) => Some(arr.toFloatArray())
    case _ => None
  }

  /** The attribute whose self-norm `sqrt(dot(a, a))` the expression is
    * (under any cast wrapper) — a cosine denominator factor.
    */
  private def selfNormAttr(e: Expression): Option[AttributeReference] =
    stripCasts(e) match {
      case Sqrt(inner) => stripCasts(inner) match {
        case FloatVecDot(a: AttributeReference, b: AttributeReference)
            if a.exprId == b.exprId => Some(a)
        case _ => None
      }
      case _ => None
    }

  /** A sort key resolved to the expression it names through the
    * Project's aliases.
    */
  private def aliased(key: Expression, projList: Seq[NamedExpression]): Option[Expression] =
    key match {
      case a: AttributeReference =>
        projList.collectFirst { case al: Alias if al.exprId == a.exprId => al.child }
      case e => Some(e)
    }

  /** The metric and the two vector operands `(metric, a, b)` of an
    * ascending distance sort key — the one destructuring every shape
    * shares:
    *
    *  - "l2": `l2sq(a, b)` under any monotone wrapper (casts, sqrt) — a
    *    monotone transform preserves the ascending ranking the probe
    *    answers;
    *  - "ip": `−dot(a, b)` or `c − dot(a, b)` (any foldable c — a
    *    constant shift keeps the ordering): ascending negated dot is
    *    descending inner product, the MIPS shape (`KnnExact.topKDot`'s
    *    negip);
    *  - "cosine": the same two forms over
    *    `sim = dot(a, b) / (na · nb)` (`KnnExact.topKCosine`'s negsim):
    *    ascending negated similarity is descending similarity.
    *
    * A cosine norm factor counts for an ATTRIBUTE operand when it is
    * that attribute's self-norm; for any other operand (the
    * single-query shape's literal) it may be any positive foldable — the
    * query-side norm `sqrt(dot(q, q))` is foldable and may or may not
    * already be constant-folded when the rule runs, since the rule
    * shares a fixed-point batch with ConstantFolding. What an operand
    * may BE is the shape's business: one literal vector and one
    * attribute for a single query, two distinct attributes for a batch.
    */
  private def distanceKey(e: Expression): Option[(String, Expression, Expression)] = {
    def constPos(f: Expression): Boolean = f.foldable && (f.eval(null) match {
      case n: java.lang.Number => n.doubleValue() > 0.0
      case _ => false
    })
    def isNorm(f: Expression, operand: Expression): Boolean = operand match {
      case a: AttributeReference => selfNormAttr(f).exists(_.exprId == a.exprId)
      case _ => constPos(f)
    }
    def negated(s: Expression) = stripCasts(s) match {
      case FloatVecDot(a, b) => Some(("ip", a, b))
      case Divide(num, den, _) => (stripCasts(num), stripCasts(den)) match {
        case (FloatVecDot(a, b), Multiply(x, y, _))
            if (isNorm(x, a) && isNorm(y, b)) || (isNorm(x, b) && isNorm(y, a)) =>
          Some(("cosine", a, b))
        case _ => None
      }
      case _ => None
    }
    stripCasts(e) match {
      case Sqrt(inner) => stripCasts(inner) match {
        case FloatVecL2Sq(a, b) => Some(("l2", a, b))
        case _ => None
      }
      case FloatVecL2Sq(a, b) => Some(("l2", a, b))
      case Subtract(c, s, _) if c.foldable => negated(s)
      case UnaryMinus(s, _) => negated(s)
      case _ => None
    }
  }

  /** The single-query shape's operands: a literal query vector against
    * a column.
    */
  private def literalVsColumn(a: Expression,
      b: Expression): Option[(Array[Float], AttributeReference)] = (a, b) match {
    case (l, col: AttributeReference) => litVec(l).map((_, col))
    case (col: AttributeReference, l) => litVec(l).map((_, col))
    case _ => None
  }

  // ---- 2. the scan side --------------------------------------------------

  /** Strip attribute-only (column-pruning) Projects off a scan side —
    * plain attrs keep their exprIds through them, so anything resolved
    * against the side's output stays bound below.
    */
  private def leafThroughProjects(p: LogicalPlan): LogicalPlan = p match {
    case Project(cols, inner) if cols.forall(_.isInstanceOf[AttributeReference]) =>
      leafThroughProjects(inner)
    case other => other
  }

  /** Split a scan side into (optional metadata Filter, scan leaf),
    * looking through column-pruning Projects on both sides of the
    * Filter.
    */
  private def splitFilter(p: LogicalPlan): (Option[Filter], LogicalPlan) =
    leafThroughProjects(p) match {
      case f @ Filter(_, c) => (Some(f), leafThroughProjects(c))
      case other => (None, other)
    }

  /** True when `cond` already carries a literal id-IN/INSET conjunct on
    * the scan's id column — the structural idempotence marker (and the
    * conservative skip for user-written literal id lists).
    */
  private def hasCandidateIn(cond: Expression, id: Attribute): Boolean =
    cond.exists {
      case In(a: AttributeReference, vs)
          if a.exprId == id.exprId && vs.nonEmpty && vs.forall(_.isInstanceOf[Literal]) => true
      case InSet(a: AttributeReference, _) if a.exprId == id.exprId => true
      case _ => false
    }

  /** A scan side the probe can splice into: the subtree `plan` (the
    * single query's Project child, or one side of the batch join), its
    * scan `leaf`, optional metadata `filter`, registered `spec`, the
    * embedding operand `emb` it outputs and its `id` attribute.
    */
  private final case class ScanSide(plan: LogicalPlan, leaf: LogicalPlan,
      filter: Option[Filter], spec: IndexSpec, emb: AttributeReference, id: Attribute)

  /** `plan` as a [[ScanSide]] for `metric`: its leaf carries a live
    * registration, it outputs one of `operands` as the registered
    * embedding column and the id column, and its filter (if any) is
    * deterministic and not already spliced. Attrs resolve against
    * `plan`'s output: column-pruning Projects below it pass plain attrs
    * through with unchanged exprIds, so the spliced In stays bound.
    */
  private def scanSide(plan: LogicalPlan, metric: String, operands: Seq[AttributeReference],
      cur: Option[SparkSession]): Option[ScanSide] = {
    val (filter, leaf) = splitFilter(plan)
    for {
      spec <- specOf(leaf, metric, cur)
      emb <- operands.find(a => plan.outputSet.contains(a) && a.name == spec.embCol)
      id <- plan.output.find(_.name == spec.idCol)
      if filter.forall(f => f.condition.deterministic && !hasCandidateIn(f.condition, id))
    } yield ScanSide(plan, leaf, filter, spec, emb, id)
  }

  /** Whether `side` may serve its shape: a filtered shape's
    * survivors ≥ k check only implies exactness over an
    * `exhaustiveProbe` registration (see the class doc). A filtered
    * single query over an approximate one is counted in
    * [[filteredSkippedApprox]].
    */
  private def exhaustiveEnough(side: ScanSide, batch: Boolean): Boolean =
    side.filter.isEmpty || side.spec.exhaustiveProbe || {
      if (!batch) {
        filteredSkippedApprox.incrementAndGet()
        logInfo("graft ANN filtered rewrite: registration is not " +
          "exhaustiveProbe — survivors >= k would not imply exactness; " +
          "keeping the exact plan")
      }
      false
    }

  // ---- 3. the probe vectors ----------------------------------------------

  /** The vector the `metric` index is probed with for query `qv`, or
    * None when `qv` has no ranking under the metric (the exact plan
    * answers):
    *
    *  - "l2": `qv` itself;
    *  - "cosine": `qv` L2-normalized, as the index stores normalized
    *    vectors (the same float rounding as the index build); a zero-norm
    *    or NaN vector has no cosine ranking;
    *  - "ip": `[qv, 0]` — the ip index stores AUGMENTED vectors
    *    [x, sqrt(M² − ‖x‖²)] (M = max corpus norm; Shrivastava & Li,
    *    NeurIPS'14), so the augmented L2 distance ‖q‖² + M² − 2·q·x is
    *    monotone in −q·x for ANY q and the exhaustive probe's candidates
    *    are the true top-K′ by inner product; a NaN component has no
    *    dot ranking.
    *
    * A null vector (a null `qemb` row) has no ranking either.
    */
  private def probeVector(metric: String, qv: Array[Float]): Option[Array[Float]] =
    Option(qv).flatMap { v =>
      metric match {
        case "cosine" =>
          val n = math.sqrt(v.foldLeft(0.0)((s, x) => s + x.toDouble * x.toDouble))
          if (n == 0.0 || n.isNaN) None else Some(v.map(x => (x / n).toFloat))
        case "ip" => if (v.exists(_.isNaN)) None else Some(v :+ 0.0f)
        case _ => Some(v)
      }
    }

  /** Most query rows the batch rewrite will route at plan time — the
    * reference workload is a handful of query vectors per run; a
    * larger-than-this query side means the "small broadcast side"
    * assumption is wrong and the exact plan is kept.
    */
  private val MaxBatchQueries = 1024

  /** The batch query side's probe vectors, numbered by row. `qemb` is
    * collected ONCE, at most [[MaxBatchQueries]] + 1 rows, and that one
    * array gives the bound, the query set and the vectors, so plan time
    * sees one answer of the query side. None — the exact plan — past
    * the bound, or when any query has no ranking ([[probeVector]]):
    * candidates spliced for the others would change that query's rows.
    */
  private def queryVectors(spec: IndexSpec, querySide: LogicalPlan,
      qemb: Attribute): Option[Array[(Long, Array[Float])]] = {
    val spark = spec.index.sparkSession
    import spark.implicits._
    val rows = PlanOps.ofRows(spark, Project(Seq(qemb), querySide))
      .limit(MaxBatchQueries + 1).as[Array[Float]].collect()
    val probes = rows.map(probeVector(spec.metric, _))
    if (rows.length > MaxBatchQueries) None
    else if (probes.contains(None)) {
      logInfo("graft batch ANN rewrite: a degenerate query vector " +
        s"(null, zero-norm cosine or NaN ${spec.metric}) has no ranking; keeping the exact plan")
      None
    } else Some(probes.flatten.zipWithIndex.map { case (v, i) => (i.toLong, v) })
  }

  // ---- 4. probe and count survivors ---------------------------------------

  /** The registered index's candidate probe for `queries`: routed on
    * the driver against the registration's centroids, walked over the
    * index's resident cell graphs and merged on the driver — one Spark
    * job, answered with the hits themselves.
    */
  private def probe(spec: IndexSpec, queries: Array[(Long, Array[Float])],
      k: Int): Array[graft.search.TopK.Hit] =
    graft.search.Hnsw.searchRouted(queries, spec.index, spec.centroidRows, k,
      spec.nprobe, m = 16, efConstruction = 100, efSearch = spec.efSearch,
      idCol = spec.idCol, embCol = spec.embCol)

  /** `id IN (candidates)` over literal ids — the splice every shape emits. */
  private def candidateIn(id: Attribute, candIds: IndexedSeq[Any]): In =
    In(id, candIds.map(v => Literal.create(v, id.dataType)))

  /** The candidate ids to splice for `queries` — (number, probe vector)
    * pairs; a single query is the one-row case `(0L, qv)` — or None to
    * keep the exact plan. One probe of k · overfetch candidates per
    * query, times filteredOverfetch under a `filter`, and every query
    * must get at least one: a query with no candidates would re-rank
    * over the others' candidates, not its own neighbors (and no
    * candidates at all leave nothing to splice). Under a
    * `filter`, one narrow collect of the candidate ids that survive it,
    * and every query must keep ≥ k distinct surviving ids — one short
    * query would silently lose neighbors, so it is all-or-nothing for
    * the shared plan.
    */
  private def candidates(spec: IndexSpec, queries: Array[(Long, Array[Float])], k: Int,
      filter: Option[Filter]): Option[IndexedSeq[Any]] = {
    val kp = math.max(k, 1) * math.max(spec.overfetch, 1) *
      filter.fold(1)(_ => math.max(spec.filteredOverfetch, 1))
    val hits = probe(spec, queries, kp)
    val perQuery = hits.groupBy(_.qid).map { case (q, hs) => q -> hs.map(h => h.id: Any).distinct }
    val ids = hits.map(h => h.id: Any).distinct.toIndexedSeq
    if (ids.isEmpty || !queries.forall(q => perQuery.contains(q._1))) {
      logInfo(s"graft ANN rewrite (${spec.metric}): a query produced zero probe " +
        "candidates; keeping the exact plan")
      None
    } else filter.fold(Option(ids)) { flt =>
      flt.child.output.find(_.name == spec.idCol).flatMap { id =>
        val survived = PlanOps.ofRows(spec.index.sparkSession,
            Project(Seq(id), Filter(And(flt.condition, candidateIn(id, ids)), flt.child)))
          .collect().map(_.get(0)).toSet
        val least = perQuery.values.map(_.count(survived.contains)).min
        if (least < k) {
          logInfo(s"graft ANN filtered rewrite: a query keeps only $least of its " +
            s"probe candidates after the filter (< k=$k); keeping the exact plan")
          None
        } else Some(ids)
      }
    }
  }

  /** The memo key of one probe decision: the index, k, the query (its
    * probe vector, or the batch query side's canonicalized plan) and
    * the filter. The filter is keyed on its condition's SQL text, not
    * its canonicalized tree: Expression.canonicalized retains attr
    * exprIds, so a FRESH Dataset of the same shape would always miss;
    * the filtered shapes only match conditions over the scan side's
    * own columns, for which the text is a faithful semantic key (the
    * spec identity is already in the key, so the same text on another
    * table cannot collide).
    */
  private def memoKey(spec: IndexSpec, k: Int, query: String, filter: Option[Filter]): String =
    s"${specCacheKey(spec)}|${spec.metric}|k=$k|q=$query|" +
      s"cond=${filter.fold("")(_.condition.sql)}"

  // ---- 5. splice ------------------------------------------------------------

  /** Count the plan event — each shape increments exactly one counter:
    * a fire, or (filtered shapes) a decline after probing — and pass
    * the decision on.
    */
  private def counted(side: ScanSide, k: Int, batch: Boolean)(
      decision: Option[IndexedSeq[Any]]): Option[IndexedSeq[Any]] = {
    val filtered = side.filter.isDefined
    val (fire, decline) = (batch, filtered) match {
      case (false, false) => (fired, None)
      case (false, true) => (firedFiltered, Some(filteredFallbacks))
      case (true, false) => (firedBatch, None)
      case (true, true) => (firedBatchFiltered, Some(batchFilteredFallbacks))
    }
    decision match {
      case Some(ids) =>
        fire.incrementAndGet()
        logInfo(s"graft ANN rewrite (${if (batch) "batch" else "single"}" +
          s"${if (filtered) ", filtered" else ""}, ${side.spec.metric}): top-$k over " +
          s"${side.spec.idCol}-indexed scan → candidate-id predicate (${ids.length} candidates)")
      case None => decline.foreach(_.incrementAndGet())
    }
    decision
  }

  /** `side` with `id IN (ids)` spliced: into its metadata Filter, or as
    * a new Filter over it.
    */
  private def splice(side: ScanSide, ids: IndexedSeq[Any]): LogicalPlan = side.plan match {
    case f: Filter => f.copy(condition = And(f.condition, candidateIn(side.id, ids)))
    case other => Filter(candidateIn(side.id, ids), other)
  }

  // ---- the two plan shapes ----------------------------------------------------

  /** The single-query shapes under a Limit k,
    * `Sort(dist ASC) → Project → [Filter(meta)] → Scan`, with a literal
    * query vector in the sort key.
    */
  private def rewriteSort(srt: Sort, k: Int, cur: Option[SparkSession]): Option[Sort] =
    srt match {
      case Sort(SortOrder(key, Ascending, _, _) +: _, true, p @ Project(projList, child), _) =>
        for {
          (metric, a, b) <- aliased(key, projList).flatMap(distanceKey)
          (qv, col) <- literalVsColumn(a, b)
          pv <- probeVector(metric, qv)
          side <- scanSide(child, metric, Seq(col), cur)
          if exhaustiveEnough(side, batch = false)
          ids <- counted(side, k, batch = false)(
            memoProbe(memoKey(side.spec, k, pv.mkString(","), side.filter))(
              candidates(side.spec, Array((0L, pv)), k, side.filter)))
        } yield srt.copy(child = p.copy(child = splice(side, ids)))
      case _ => None
    }

  /** BATCH (multi-query) ANN: the canonical batched exact-kNN plan is a
    * per-query ranking window over a broadcast cross join —
    *
    * {{{ Filter(rk ≤ k) → [Project] → Window(row_number over (PARTITION qid ORDER dist)) →
    *     [WindowGroupLimit] → Project(dist = l2(qemb, emb)) → Join(queries × scan) }}}
    *
    * (`KnnExact.topK`'s shape, and the reference's actual workload: 5
    * query vectors per run, chromadb_speed_experiment.py:651-657).
    * When the scanned side carries a registered index AND clears the
    * [[BatchMinScanBytes]] cost gate (or the query embedding carries
    * the [[batchOptIn]] mark), the rule collects the query side once
    * ([[queryVectors]]), probes the stored index ONCE for all queries,
    * and reduces the scan side to the union of per-query candidates:
    *
    * {{{ … → Join(queries × Filter(id IN cands, scan)) }}}
    *
    * Each query's own top-K′ candidates are in the union, so the
    * per-qid window re-ranks exactly (at exhaustive registration knobs
    * this is equality, not a recall trade). The window machinery —
    * partial top-k pre-shuffle included — is untouched; only its input
    * shrinks from |Q|·n to |Q|·|cands|.
    *
    * BATCH × FILTERED composition: when a deterministic metadata Filter
    * sits between the join and the scan (5 queries × `where label = …`
    * — the realest production shape), the probe is filtered-enlarged
    * and EVERY query must keep ≥ k survivors ([[candidates]]). Requires
    * `exhaustiveProbe`, like the single-query filtered rewrite, and for
    * the same reason.
    *
    * Idempotence: the spliced `id IN cands` sits between the Join and
    * the previous top of the scan side; on re-entry `splitFilter` finds
    * it, and `hasCandidateIn` marks it (also after CombineFilters merges
    * it with the metadata predicate).
    *
    * METRICS: any key [[distanceKey]] matches over two distinct
    * attributes — `KnnExact.topK`'s L2, `topKCosine`'s negsim,
    * `topKDot`'s negip — each composed with the filtered variant. Any
    * query without a ranking under the metric ([[probeVector]]: a null
    * vector, a zero-norm one under cosine, a NaN component under ip)
    * declines the whole rewrite. For a zero-norm cosine query the exact
    * plan then raises DIVIDE_BY_ZERO (the ANSI mode `GraftSession` pins)
    * instead of ranking it NaN: the rule neither hides nor changes that.
    */
  private def rewriteWindowTopK(f: Filter, cur: Option[SparkSession]): Option[Filter] = {
    val window = f.child match {
      case w: Window => Some(w)
      case Project(ps, w: Window) if ps.forall(_.deterministic) => Some(w)
      case _ => None
    }
    for {
      (rkAttr, k) <- f.condition match {
        case LessThanOrEqual(a: AttributeReference, IntegerLiteral(kv)) if kv > 0 => Some((a, kv))
        case _ => None
      }
      w <- window
      (qid, key) <- w match {
        case Window(Seq(al @ Alias(WindowExpression(RowNumber(),
            WindowSpecDefinition(Seq(qid: AttributeReference),
              SortOrder(key, Ascending, _, _) +: _, _)), _)), _, _, _, _)
            if al.exprId == rkAttr.exprId => Some((qid, key))
        case _ => None
      }
      (projList, l, r) <- (w.child match {
        case wgl: WindowGroupLimit => wgl.child
        case other => other
      }) match {
        case Project(ps, Join(l, r, Cross | Inner, None, _)) => Some((ps, l, r))
        case _ => None
      }
      (metric, x: AttributeReference, y: AttributeReference) <-
        aliased(key, projList).flatMap(distanceKey)
      if x.exprId != y.exprId
      (side, querySide, qemb) <- (for {
        (plan, querySide) <- Seq((l, r), (r, l))
        side <- scanSide(plan, metric, Seq(x, y), cur).toSeq
        qemb = if (side.emb eq x) y else x
        if batchGateOpen(qemb.metadata, side.leaf)
        if querySide.outputSet.contains(qemb) && querySide.outputSet.contains(qid)
        // the runtime executes the query side again after the rule's
        // one plan-time collect: a nondeterministic side (limit over
        // multi-partition input, a sample) could differ between the
        // two runs and break the candidate/runtime agreement
        if querySide.deterministic
        if exhaustiveEnough(side, batch = true)
      } yield (side, querySide, qemb)).headOption
      ids <- counted(side, k, batch = true)(
        memoProbe(memoKey(side.spec, k, querySide.canonicalized.toString, side.filter))(
          queryVectors(side.spec, querySide, qemb)
            .flatMap(candidates(side.spec, _, k, side.filter))))
    } yield f.transformUp {
      case p if p eq side.plan => splice(side, ids)
    }.asInstanceOf[Filter]
  }

  /** The bare object remains a usable Rule (specs apply it directly;
    * `spark.experimental.extraOptimizations` users too) — it falls back
    * to the THREAD-LOCAL active session for the ownership check. The
    * session-bound [[AnnIndexRewriteRule]] injected by GraftExtensions
    * passes the owning session explicitly, which stays correct on
    * sessionless planner threads (ADVICE r15).
    */
  override def apply(plan: LogicalPlan): LogicalPlan =
    applyWith(plan, SparkSession.getActiveSession)

  def applyWith(plan: LogicalPlan, cur: Option[SparkSession]): LogicalPlan = {
    if (!enabled || registry.isEmpty) return plan
    // The planner contract: a failed ACCELERATION attempt (corrupt index
    // files, a mid-flight dropped registration, an unexpected literal
    // shape) must never fail the QUERY — log and keep the exact plan.
    def orExact[T <: LogicalPlan](node: T)(rewrite: => Option[T]): T =
      try rewrite.getOrElse(node)
      catch {
        case e: Exception =>
          logWarning(s"graft ANN rewrite failed; keeping the exact plan: ${e.getMessage}")
          node
      }
    plan.transformDown {
      // the analyzed shape: Limit directly over the Sort
      case gl @ GlobalLimit(IntegerLiteral(k), ll @ LocalLimit(_, srt: Sort)) =>
        orExact(gl)(rewriteSort(srt, k, cur).map(ns => gl.copy(child = ll.copy(child = ns))))
      // after projection pushdown the optimizer moves row-preserving
      // projections below the Limit: Limit → Project → Sort. The Limit
      // still takes the Sort's top rows (a deterministic Project drops
      // no rows and reorders nothing), so the same rewrite applies.
      case gl @ GlobalLimit(IntegerLiteral(k),
          ll @ LocalLimit(_, mid @ Project(midList, srt: Sort)))
          if midList.forall(_.deterministic) =>
        orExact(gl)(rewriteSort(srt, k, cur)
          .map(ns => gl.copy(child = ll.copy(child = mid.copy(child = ns)))))
      // the BATCH shape: rank-filtered row_number window over a
      // broadcast cross join (KnnExact.topK) — one probe for all
      // queries, cost-gated by scan size
      case f @ Filter(LessThanOrEqual(_: AttributeReference, IntegerLiteral(_)), _) =>
        orExact(f)(rewriteWindowTopK(f, cur))
    }
  }
}

/** The session-bound form GraftExtensions injects: carries the session
  * the rule was built FOR, so the registration-ownership check does not
  * depend on the thread-local active session (which is absent on
  * planner thread pools and inside streaming foreachBatch — ADVICE
  * r15's invisible perf cliff).
  */
final class AnnIndexRewriteRule(session: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    AnnIndexRewrite.applyWith(plan, Option(session))
}
