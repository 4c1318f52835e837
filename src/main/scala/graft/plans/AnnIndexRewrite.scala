package graft.plans

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.EliminateSubqueryAliases
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, FloatType}

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
  * Rewrite shape: the scan side is semi-joined with the stored-index
  * probe's candidate ids ([[graft.search.Hnsw.searchRoutedIndex]] —
  * route on the driver, walk the nprobe cells' resident graphs, merge),
  * and the ORIGINAL Sort+Limit re-rank the k·overfetch candidates
  * exactly:
  *
  * {{{ Limit k → Sort(dist ASC) → Project → (Scan ⋉ indexProbe(qv)) }}}
  *
  * - At 100 TB the Sort's input shrinks from n rows to k·overfetch
  *   rows; the probe reads no index file once the registered index's
  *   cell graphs are resident, and walks only the probed cells.
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
  * one index per metric.
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
  * PLAN-TIME PURITY: the filtered and batch rewrites run real (bounded)
  * Spark jobs inside the optimizer. Every `Dataset` re-plans, and
  * `.explain()` re-plans again — so probe results AND declined
  * decisions are memoized per (index, query vector / query-side plan,
  * canonicalized filter, k). A repeat plan of the same shape splices
  * the cached candidate ids (or declines from cache) without touching
  * the cluster; the caches clear whenever the registry changes.
  *
  * The unfiltered match is deliberately strict — the Project must sit
  * DIRECTLY on the scan — and the strictness doubles as the idempotence
  * guard: after the rewrite the Project's child is a Join, so the
  * pattern can never re-fire on its own output. The filtered match
  * guards idempotence structurally instead: a candidate-id IN/INSET
  * conjunct on the id column marks an already-rewritten Filter (a
  * user's own literal id-IN predicate also matches the marker — such
  * queries keep the exact plan, never a double probe).
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

  def normalize(path: String): String =
    new org.apache.hadoop.fs.Path(path).toUri.getPath

  private val Metrics = Seq("l2", "cosine", "ip")

  private def regKey(path: String, metric: String): String =
    normalize(path) + "#" + metric

  def register(sourcePath: String, spec: IndexSpec): Unit = {
    require(Metrics.contains(spec.metric), s"unknown metric '${spec.metric}'")
    val key = regKey(sourcePath, spec.metric)
    registry.put(key, spec).foreach(release)
    // Freeze the source's file listing AT registration: the index is a
    // snapshot of the table's content, and the exactness contract
    // (candidates ⊇ true top-k at exhaustive knobs) only holds while
    // the table IS that snapshot. See [[sourceIsStale]]. An
    // unfingerprintable source (exotic scheme, listing error) keeps the
    // guard OFF for that registration rather than blocking it.
    try sourceSigs.put(key, sourceSignature(sourcePath, spec))
    catch { case _: Exception => sourceSigs.remove(key) }
    staleChecks.remove(key)
    invalidateProbeCaches()
  }

  def unregister(sourcePath: String): Unit = {
    Metrics.foreach { m =>
      val key = regKey(sourcePath, m)
      registry.remove(key).foreach(release)
      sourceSigs.remove(key)
      staleChecks.remove(key)
    }
    invalidateProbeCaches()
  }

  def clear(): Unit = {
    registry.keys.foreach(k => registry.remove(k).foreach(release))
    sourceSigs.clear(); staleChecks.clear()
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
  def resetPlanCaches(): Unit = { staleChecks.clear(); invalidateProbeCaches() }

  // ---- source staleness guard ----------------------------------------
  // A registration is a SNAPSHOT claim: splicing an index probe into a
  // scan whose files changed since registration would silently drop new
  // rows (or resurrect deleted ones) from a query whose exact plan would
  // see them — the one way the "acceleration never changes results"
  // contract can break without any code being wrong. The guard
  // fingerprints the source's file listing (path, length, modTime per
  // file) at registration and revalidates lazily at plan time, at most
  // once per `spark.graft.ann.staleness.intervalMs` (default 10 s) per
  // registration — at 100 TB a table may hold 10⁵ files and listing on
  // EVERY plan event would be the new bottleneck. A stale registration
  // self-heals: it is dropped (warn logged) and the query runs the
  // exact plan, mirroring the stopped-session cleanup above.
  private val sourceSigs = TrieMap.empty[String, Long]
  // key → (lastCheckedNanos, wasFresh)
  private val staleChecks = TrieMap.empty[String, (Long, Boolean)]

  /** Observability: registrations dropped because their source files
    * changed after registration (the staleness self-heal).
    */
  val droppedStale = new java.util.concurrent.atomic.AtomicLong(0)

  private def stalenessIntervalMs: Long =
    SQLConf.get.getConfString("spark.graft.ann.staleness.intervalMs", "10000").toLong

  /** Order-independent fingerprint of the source directory's file
    * listing. Hidden/metadata files (`_SUCCESS`, `.crc`) are excluded —
    * committers rewrite them without touching data.
    */
  private def sourceSignature(sourcePath: String, spec: IndexSpec): Long = {
    val conf = spec.index.sparkSession.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(sourcePath)
    val fs = p.getFileSystem(conf)
    var acc = 0L
    def walk(dir: org.apache.hadoop.fs.Path): Unit =
      fs.listStatus(dir).foreach { st =>
        val name = st.getPath.getName
        if (!name.startsWith("_") && !name.startsWith(".")) {
          if (st.isDirectory) walk(st.getPath)
          else {
            // commutative mix (sum of per-file hashes): listing order
            // must not matter
            var h = 1125899906842597L
            (st.getPath.toUri.getPath + "|" + st.getLen + "|" + st.getModificationTime)
              .foreach(c => h = h * 31 + c)
            acc += h
          }
        }
      }
    walk(p)
    acc
  }

  /** True (and, on a VERIFIED change, self-heals the registry) when the
    * source's current file listing no longer matches the
    * registration-time snapshot. `sourcePath` must be the scan's FULL
    * path (scheme + authority intact — the registry key is
    * scheme-stripped, but listing a scheme-stripped path against the
    * default FileSystem would misresolve s3a/hdfs sources).
    *
    * Transient listing failures (a 503, a race with a concurrent
    * committer) decline THIS plan — the exact plan is the safe side —
    * but KEEP the registration and retry after the check interval;
    * only a successful listing that disagrees with the snapshot drops
    * the registration permanently.
    */
  private def sourceIsStale(key: String, sourcePath: String, spec: IndexSpec): Boolean = {
    val now = System.nanoTime()
    val intervalNs = stalenessIntervalMs * 1000000L
    staleChecks.get(key) match {
      case Some((t, fresh)) if now - t < intervalNs => !fresh
      case _ =>
        val verdict: Option[Boolean] = sourceSigs.get(key) match {
          case None => Some(true) // unfingerprintable at registration: guard off
          case Some(sig) =>
            try Some(sourceSignature(sourcePath, spec) == sig)
            catch { case _: Exception => None } // transient: unknown
        }
        val fresh = verdict.getOrElse(false)
        staleChecks.put(key, (now, fresh))
        verdict match {
          case Some(false) =>
            registry.remove(key).foreach(release)
            sourceSigs.remove(key)
            invalidateProbeCaches()
            droppedStale.incrementAndGet()
            logWarning(s"graft ANN rewrite: source files under $sourcePath changed " +
              "after index registration — dropping the registration and keeping " +
              "the exact plan (re-register after rebuilding the index)")
          case None =>
            logWarning(s"graft ANN rewrite: could not re-list $sourcePath to " +
              "verify index freshness — keeping the exact plan for this check " +
              "interval and retrying (registration kept)")
          case Some(true) => ()
        }
        !fresh
    }
  }

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
    * optimizer: same query shape, different plan by data size. Default
    * 64 MiB; fixtures opt in per query by lowering it.
    */
  private def batchMinScanBytes: BigInt =
    BigInt(SQLConf.get.getConfString(
      "spark.graft.ann.batchRewrite.minScanBytes", "67108864"))

  /** Log-once flag for the no-current-session decline (ADVICE r15: an
    * invisible perf cliff should at least log its first occurrence).
    */
  private val warnedNoSession = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** The scan's registered spec for `metric`, if any, owned by the
    * current session. V1 parquet path only — that is what
    * `spark.read.parquet` yields under the default
    * `spark.sql.sources.useV1SourceList`.
    *
    * `cur` is the session the plan is being optimized FOR: the
    * session-bound [[AnnIndexRewriteRule]] passes its injected session
    * (correct even when planning happens off-thread — thread pools,
    * streaming foreachBatch); the bare object falls back to the
    * thread-local active session.
    */
  private def specOf(leaf: LogicalPlan, metric: String,
      cur: Option[SparkSession]): Option[IndexSpec] = leaf match {
    case l: LogicalRelation => l.relation match {
      case h: HadoopFsRelation =>
        h.location.rootPaths.headOption.flatMap { p =>
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
            } else if (sourceIsStale(key, p.toString, spec)) {
              // source files changed since registration: the index is a
              // stale snapshot and splicing it would drop/resurrect rows
              // the exact plan sees — self-healed inside sourceIsStale
              None
            } else Some(spec)
          }
        }
      case _ => None
    }
    case _ => None
  }

  private def stripCasts(e: Expression): Expression = e match {
    case c: Cast => stripCasts(c.child)
    case other => other
  }

  private def litVec(e: Expression): Option[Array[Float]] = e match {
    case Literal(arr: ArrayData, ArrayType(FloatType, _)) => Some(arr.toFloatArray())
    case _ => None
  }

  /** literal-vs-column squared L2, under any monotone wrapper (casts,
    * sqrt) — a monotone transform preserves the ascending ranking the
    * probe answers.
    */
  private def matchL2(e0: Expression): Option[(Array[Float], AttributeReference)] = {
    val e = stripCasts(e0) match {
      case Sqrt(inner) => stripCasts(inner)
      case other => other
    }
    e match {
      case FloatVecL2Sq(l, a: AttributeReference) => litVec(l).map((_, a))
      case FloatVecL2Sq(a: AttributeReference, l) => litVec(l).map((_, a))
      case _ => None
    }
  }

  /** literal-vs-column COSINE distance: `c − sim` (any foldable c — a
    * constant shift keeps the ordering) or `−sim`, where
    * `sim = dot(q, e) / (qn · sqrt(dot(e, e)))` and qn is any positive
    * foldable factor (the query-side norm `sqrt(dot(q, q))` is foldable
    * and may or may not already be constant-folded when the rule runs —
    * both shapes must match, since this rule shares a fixed-point batch
    * with ConstantFolding).
    */
  /** The attribute whose self-norm `sqrt(dot(a, a))` the expression is
    * (under any cast wrapper) — the one destructuring matchCosine and
    * cosinePair both need to recognize a cosine denominator factor.
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

  private def matchCosine(e0: Expression): Option[(Array[Float], AttributeReference)] = {
    def constPos(e: Expression): Boolean = e.foldable && {
      e.eval(null) match {
        case n: java.lang.Number => n.doubleValue() > 0.0
        case _ => false
      }
    }
    def sim(e: Expression): Option[(Array[Float], AttributeReference)] =
      stripCasts(e) match {
        case Divide(num, den, _) =>
          val numPair = stripCasts(num) match {
            case FloatVecDot(l, a: AttributeReference) => litVec(l).map((_, a))
            case FloatVecDot(a: AttributeReference, l) => litVec(l).map((_, a))
            case _ => None
          }
          numPair.filter { case (_, attr) =>
            stripCasts(den) match {
              case Multiply(x, y, _) =>
                (selfNormAttr(x).exists(_.exprId == attr.exprId) && constPos(y)) ||
                  (selfNormAttr(y).exists(_.exprId == attr.exprId) && constPos(x))
              case _ => false
            }
          }
        case _ => None
      }
    stripCasts(e0) match {
      case Subtract(c, s, _) if c.foldable => sim(s)
      case UnaryMinus(s, _) => sim(s)
      case _ => None
    }
  }

  /** literal-vs-column INNER-PRODUCT sort key: `−dot(q, e)` or
    * `c − dot(q, e)` (foldable c) — ascending negated dot is descending
    * inner product, the MIPS shape. The metric = "ip" index must be
    * built over AUGMENTED vectors [x, sqrt(M² − ‖x‖²)] (M = max corpus
    * norm; Shrivastava & Li, NeurIPS'14): probing it with [q, 0] makes
    * augmented L2 distance ‖q‖² + M² − 2·q·x — monotone in −q·x for ANY
    * q — so the exhaustive probe's candidates are the true top-K′ by
    * inner product and the original Sort re-ranks them by the true dot
    * expression.
    */
  private def matchIp(e0: Expression): Option[(Array[Float], AttributeReference)] = {
    def ip(e: Expression): Option[(Array[Float], AttributeReference)] =
      stripCasts(e) match {
        case FloatVecDot(l, a: AttributeReference) => litVec(l).map((_, a))
        case FloatVecDot(a: AttributeReference, l) => litVec(l).map((_, a))
        case _ => None
      }
    stripCasts(e0) match {
      case Subtract(c, s, _) if c.foldable => ip(s)
      case UnaryMinus(s, _) => ip(s)
      case _ => None
    }
  }

  /** Resolve the first sort key to the expression it names (through the
    * Project's aliases), then destructure the literal-vs-column
    * distance pattern. Returns the PROBE vector (L2-normalized for the
    * cosine metric — the cosine index stores normalized vectors;
    * zero-augmented for the ip metric — the ip index stores augmented
    * vectors, see [[matchIp]]), the embedding attribute, and the
    * metric.
    */
  private def queryVectorOf(
      key: Expression,
      projList: Seq[NamedExpression]): Option[(Array[Float], AttributeReference, String)] = {
    val resolved = key match {
      case a: AttributeReference =>
        projList.collectFirst { case al: Alias if al.exprId == a.exprId => al.child }
      case e => Some(e)
    }
    resolved.flatMap { e =>
      matchL2(e).map { case (qv, a) => (qv, a, "l2") }
        .orElse(matchCosine(e).flatMap { case (qv, a) =>
          val n = math.sqrt(qv.foldLeft(0.0)((s, x) => s + x.toDouble * x.toDouble))
          if (n == 0.0 || n.isNaN) None // zero/NaN query vector: cosine undefined, keep exact
          else Some((qv.map(x => (x / n).toFloat), a, "cosine"))
        })
        .orElse(matchIp(e).flatMap { case (qv, a) =>
          if (qv.exists(_.isNaN)) None // NaN dot has no defined ranking, keep exact
          else Some((qv :+ 0.0f, a, "ip")) // probe vector is [q, 0] over the augmented index
        })
    }
  }

  /** The registered index's candidate probe for `queries`: routed on
    * the driver against the registration's centroids, walked over the
    * index's resident cell graphs. A fresh RDD-backed plan on every
    * call, so splicing two probes into one query cannot collide.
    */
  private def probe(spec: IndexSpec, queries: Array[(Long, Array[Float])],
      k: Int): DataFrame =
    graft.search.Hnsw.searchRouted(spec.index.sparkSession, queries, spec.index,
      spec.centroidRows, k, spec.nprobe, m = 16, efConstruction = 100,
      efSearch = spec.efSearch, qidCol = "qid", idCol = spec.idCol, embCol = spec.embCol)

  /** Rewrite one `Sort(dist ASC) → Project → Scan` subtree (already
    * known to sit under a Limit k) into
    * `Sort(dist ASC) → Project → (Scan ⋉ probe)`, or None if the shape
    * / registration / sort key doesn't qualify.
    */
  private def rewriteSort(srt: Sort, k: Int,
      cur: Option[SparkSession]): Option[Sort] =
    try rewriteSortUnsafe(srt, k, cur)
    catch {
      // The planner contract: a failed ACCELERATION attempt (corrupt
      // index files, a mid-flight dropped registration, an unexpected
      // literal shape) must never fail the QUERY — log and keep the
      // exact plan.
      case e: Exception =>
        logWarning(s"graft ANN rewrite failed; keeping the exact plan: ${e.getMessage}")
        None
    }

  /** True when `cond` already carries a literal id-IN/INSET conjunct on
    * the scan's id column — the filtered rewrite's structural
    * idempotence marker (and the conservative skip for user-written
    * literal id lists).
    */
  private def hasCandidateIn(cond: Expression, id: Attribute): Boolean =
    cond.exists {
      case In(a: AttributeReference, vs)
          if a.exprId == id.exprId && vs.nonEmpty && vs.forall(_.isInstanceOf[Literal]) => true
      case InSet(a: AttributeReference, _) if a.exprId == id.exprId => true
      case _ => false
    }

  /** The FILTERED pattern's adaptive rewrite: probe with the enlarged
    * candidate set, count the filter's survivors at plan time, splice
    * the candidate-id predicate only when survivors ≥ k (else the exact
    * plan — the recall-safety fallback, counter-observable). Requires
    * `exhaustiveProbe` on the registration (see the class doc); both
    * the probe and the decline are memoized per plan shape.
    */
  private def rewriteFiltered(
      srt: Sort, p: Project, flt: Filter, projList: Seq[NamedExpression],
      key: Expression, k: Int, cur: Option[SparkSession]): Option[Sort] = {
    // attrs are resolved against the Filter's child (which may be a
    // column-pruning Project over the scan — plain attrs pass through
    // it with unchanged exprIds, so the spliced In stays bound)
    val below = flt.child
    val scanLeaf = leafThroughProjects(below)
    queryVectorOf(key, projList).flatMap { case (qv, embAttr, metric) =>
      specOf(scanLeaf, metric, cur).flatMap { spec =>
          below.output.find(_.name == spec.idCol) match {
            case Some(leftId)
                if below.outputSet.contains(embAttr) && embAttr.name == spec.embCol &&
                  flt.condition.deterministic && !hasCandidateIn(flt.condition, leftId) =>
              if (!spec.exhaustiveProbe) {
                filteredSkippedApprox.incrementAndGet()
                logInfo("graft ANN filtered rewrite: registration is not " +
                  "exhaustiveProbe — survivors >= k would not imply exactness; " +
                  "keeping the exact plan")
                None
              } else {
                val spark = spec.index.sparkSession
                val kp = math.max(k, 1) * math.max(spec.overfetch, 1) *
                  math.max(spec.filteredOverfetch, 1)
                val cacheKey = s"${specCacheKey(spec)}|flt|$metric|k=$k|" +
                  // keyed on the condition's SQL text, not its
                  // canonicalized tree: Expression.canonicalized retains
                  // attr exprIds, so a FRESH Dataset of the same shape
                  // would always miss; the filtered pattern only matches
                  // conditions over the scan's own columns, for which the
                  // text is a faithful semantic key (the spec identity is
                  // already in the key, so same text on another table
                  // cannot collide)
                  s"qv=${qv.mkString(",")}|cond=${flt.condition.sql}"
                val decision = memoProbe(cacheKey)({
                  val candIds = probe(spec, Array((0L, qv)), kp)
                    .select(spec.idCol).collect().map(_.get(0)).toIndexedSeq
                  val candIn = In(leftId,
                    candIds.map(v => Literal.create(v, leftId.dataType)))
                  val survivors = org.apache.spark.sql.graft.PlanOps
                    .ofRows(spark, Filter(And(flt.condition, candIn), below)).count()
                  if (survivors < k) {
                    logInfo(s"graft ANN filtered rewrite: only $survivors of " +
                      s"${candIds.length} probe candidates survive the filter (< k=$k); " +
                      "keeping the exact plan")
                    None
                  } else {
                    logInfo(s"graft ANN filtered rewrite: Sort+Limit($k) over filtered " +
                      s"${spec.idCol}-indexed scan → candidate-id predicate " +
                      s"(${candIds.length} candidates, $survivors filter survivors)")
                    Some(candIds)
                  }
                })
                decision match {
                  case None =>
                    filteredFallbacks.incrementAndGet()
                    None
                  case Some(candIds) =>
                    firedFiltered.incrementAndGet()
                    val candIn = In(leftId,
                      candIds.map(v => Literal.create(v, leftId.dataType)))
                    Some(srt.copy(child =
                      p.copy(child = flt.copy(condition = And(flt.condition, candIn)))))
                }
              }
            case _ => None
          }
      }
    }
  }

  private def rewriteSortUnsafe(srt: Sort, k: Int,
      cur: Option[SparkSession]): Option[Sort] = srt match {
    case Sort(SortOrder(key, Ascending, _, _) +: _, true,
        p @ Project(projList, flt @ Filter(_, _)), _) =>
      rewriteFiltered(srt, p, flt, projList, key, k, cur)
    case Sort(SortOrder(key, Ascending, _, _) +: _, true,
        p @ Project(projList, leaf), _) =>
      queryVectorOf(key, projList).flatMap { case (qv, embAttr, metric) =>
        specOf(leaf, metric, cur).flatMap { spec =>
          leaf.output.find(_.name == spec.idCol) match {
            case Some(leftId)
                if leaf.outputSet.contains(embAttr) && embAttr.name == spec.embCol =>
              val cands = probe(spec, Array((0L, qv)),
                math.max(k, 1) * math.max(spec.overfetch, 1)).select(spec.idCol)
              val right = EliminateSubqueryAliases(cands.queryExecution.analyzed)
              val join = Join(leaf, right, LeftSemi,
                Some(EqualTo(leftId, right.output.head)), JoinHint.NONE)
              fired.incrementAndGet()
              logInfo(s"graft ANN rewrite ($metric): Sort+Limit($k) over " +
                s"${spec.idCol}-indexed scan → semi-join with stored-index probe")
              Some(srt.copy(child = p.copy(child = join)))
            case _ => None
          }
        }
      }
    case _ => None
  }

  /** The (x, y) attribute pair of an L2 sort key — the raw squared
    * distance or any monotonic wrapper of it (sqrt, casts), since a
    * monotonic transform preserves the ranking the probe answers.
    */
  private def l2Pair(e: Expression): Option[(AttributeReference, AttributeReference)] =
    stripCasts(e) match {
      case FloatVecL2Sq(x: AttributeReference, y: AttributeReference) => Some((x, y))
      case Sqrt(inner) => stripCasts(inner) match {
        case FloatVecL2Sq(x: AttributeReference, y: AttributeReference) => Some((x, y))
        case _ => None
      }
      case _ => None
    }

  /** The (x, y) attribute pair of an attr-vs-attr COSINE sort key —
    * the BATCH twin of [[matchCosine]], where the query vector is a
    * column of the (executed-at-plan-time) query side rather than a
    * literal: `−sim` or `c − sim` (foldable c) with
    * `sim = dot(x, y) / (sqrt(dot(x, x)) · sqrt(dot(y, y)))` — exactly
    * `KnnExact.topKCosine`'s negsim. Ascending negsim ≡ descending
    * similarity ≡ the normalized-L2 ranking the cosine index answers.
    */
  private def cosinePair(e: Expression): Option[(AttributeReference, AttributeReference)] = {
    def sim(e: Expression): Option[(AttributeReference, AttributeReference)] =
      stripCasts(e) match {
        case Divide(num, den, _) =>
          val pair = stripCasts(num) match {
            case FloatVecDot(x: AttributeReference, y: AttributeReference)
                if x.exprId != y.exprId => Some((x, y))
            case _ => None
          }
          pair.filter { case (x, y) =>
            stripCasts(den) match {
              case Multiply(a, b, _) =>
                val na = selfNormAttr(a); val nb = selfNormAttr(b)
                na.isDefined && nb.isDefined && {
                  val ids = Set(na.get.exprId, nb.get.exprId)
                  ids == Set(x.exprId, y.exprId)
                }
              case _ => false
            }
          }
        case _ => None
      }
    stripCasts(e) match {
      case UnaryMinus(s, _) => sim(s)
      case Subtract(c, s, _) if c.foldable => sim(s)
      case _ => None
    }
  }

  /** The (x, y) attribute pair of an attr-vs-attr INNER-PRODUCT sort
    * key — the BATCH twin of [[matchIp]]: `−dot(x, y)` or `c − dot`
    * (foldable c), exactly `KnnExact.topKDot`'s negip. Ascending negip
    * ≡ descending inner product ≡ the augmented-L2 ranking the ip index
    * answers (with the query side zero-augmented at plan time).
    */
  private def ipPair(e: Expression): Option[(AttributeReference, AttributeReference)] = {
    def ip(e: Expression): Option[(AttributeReference, AttributeReference)] =
      stripCasts(e) match {
        case FloatVecDot(x: AttributeReference, y: AttributeReference)
            if x.exprId != y.exprId => Some((x, y))
        case _ => None
      }
    stripCasts(e) match {
      case UnaryMinus(s, _) => ip(s)
      case Subtract(c, s, _) if c.foldable => ip(s)
      case _ => None
    }
  }

  /** Strip attribute-only (column-pruning) Projects off a join side —
    * plain attrs keep their exprIds through them, so anything resolved
    * against the side's output stays bound below.
    */
  private def leafThroughProjects(p: LogicalPlan): LogicalPlan = p match {
    case Project(cols, inner) if cols.forall(_.isInstanceOf[AttributeReference]) =>
      leafThroughProjects(inner)
    case other => other
  }

  /** Split a join side into (optional metadata Filter, scan leaf),
    * looking through column-pruning Projects on both sides of the
    * Filter — the batch-FILTERED shape.
    */
  private def splitFilter(p: LogicalPlan): (Option[Filter], LogicalPlan) =
    leafThroughProjects(p) match {
      case f @ Filter(_, c) => (Some(f), leafThroughProjects(c))
      case other => (None, other)
    }

  /** Most query rows the batch rewrite will route at plan time — the
    * reference workload is a handful of query vectors per run; a
    * larger-than-this query side means the "small broadcast side"
    * assumption is wrong and the exact plan is kept.
    */
  private val MaxBatchQueries = 1024

  /** BATCH (multi-query) ANN: the canonical batched exact-kNN plan is a
    * per-query ranking window over a broadcast cross join —
    *
    * {{{ Filter(rk ≤ k) → [Project] → Window(row_number over (PARTITION qid ORDER dist)) →
    *     [WindowGroupLimit] → Project(dist = l2(qemb, emb)) → Join(queries × scan) }}}
    *
    * (`KnnExact.topK`'s shape, and the reference's actual workload: 5
    * query vectors per run, chromadb_speed_experiment.py:651-657).
    * When the scanned side carries a registered index AND clears the
    * [[batchMinScanBytes]] cost gate, the rule executes the query side
    * (bounded by [[MaxBatchQueries]]), probes the stored index ONCE for
    * all queries, and reduces the scan side to the union of per-query
    * candidates:
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
    * — the realest production shape), the rule probes with the
    * filtered-enlarged candidate set (k · overfetch · filteredOverfetch
    * per query), counts EACH query's filter survivors at plan time, and
    * fires only when EVERY query keeps ≥ k survivors (one short query
    * would silently lose neighbors — all-or-nothing is the recall-safe
    * choice for a single shared plan). Requires `exhaustiveProbe`, like
    * the single-query filtered rewrite, and for the same reason.
    *
    * Idempotence: the spliced Filter(id IN cands) sits between the Join
    * and the previous top of the scan side; on re-entry `splitFilter`
    * finds it, and `hasCandidateIn` marks it (also after CombineFilters
    * merges it with the metadata predicate).
    *
    * METRICS: the window's sort key may be the L2 distance
    * (`KnnExact.topK`), the negated attr-vs-attr cosine similarity
    * (`KnnExact.topKCosine`'s negsim — ascending negsim ≡ descending
    * similarity), or the negated attr-vs-attr inner product
    * (`KnnExact.topKDot`'s negip). A cosine key probes the
    * metric="cosine" index with the query side L2-NORMALIZED at plan
    * time (same float rounding as the index build); any zero-norm query
    * vector declines the whole rewrite (no cosine ranking exists for it
    * — the exact plan keeps its own NaN semantics). An ip key probes
    * the metric="ip" augmented index with the query side
    * zero-augmented; any NaN query component declines. All three
    * metrics compose with the FILTERED variant below.
    */
  private def rewriteWindowTopK(f: Filter, cur: Option[SparkSession]): Option[Filter] =
    try rewriteWindowTopKUnsafe(f, cur)
    catch {
      case e: Exception =>
        logWarning(s"graft batch ANN rewrite failed; keeping the exact plan: ${e.getMessage}")
        None
    }

  private def rewriteWindowTopKUnsafe(f: Filter,
      cur: Option[SparkSession]): Option[Filter] = {
    val rkK = f.condition match {
      case LessThanOrEqual(a: AttributeReference, IntegerLiteral(kv)) if kv > 0 =>
        Some((a, kv))
      case _ => None
    }
    rkK.flatMap { case (rkAttr, k) =>
      val winOpt = f.child match {
        case w: Window => Some(w)
        case Project(ps, w: Window) if ps.forall(_.deterministic) => Some(w)
        case _ => None
      }
      winOpt.flatMap { w =>
        val headKey = w match {
          case Window(Seq(al @ Alias(WindowExpression(RowNumber(),
              WindowSpecDefinition(Seq(qid: AttributeReference), orderSpec, _)), _)),
              _, _, _, _) if al.exprId == rkAttr.exprId && orderSpec.nonEmpty =>
            orderSpec.head match {
              case SortOrder(key, Ascending, _, _) => Some((qid, key))
              case _ => None
            }
          case _ => None
        }
        headKey.flatMap { case (qid, key) =>
          val belowWin = w.child match {
            case wgl: WindowGroupLimit => wgl.child
            case other => other
          }
          belowWin match {
            case Project(projList2, join @ Join(l, r, jt, None, _))
                if jt == org.apache.spark.sql.catalyst.plans.Cross ||
                  jt == org.apache.spark.sql.catalyst.plans.Inner =>
              val resolvedKey = key match {
                case a: AttributeReference =>
                  projList2.collectFirst { case al: Alias if al.exprId == a.exprId => al.child }
                case e => Some(e)
              }
              val keyPair = resolvedKey.flatMap(k0 =>
                l2Pair(k0).map((_, "l2"))
                  .orElse(cosinePair(k0).map((_, "cosine")))
                  .orElse(ipPair(k0).map((_, "ip"))))
              keyPair.flatMap { case ((x, y), metric) =>
                val cands = for {
                  (scanSide, querySide) <- Seq((l, r), (r, l))
                  (fltOpt, leaf) = splitFilter(scanSide)
                  spec <- specOf(leaf, metric, cur).toSeq
                  if leaf.stats.sizeInBytes >= batchMinScanBytes
                  embAttr <- Seq(x, y).find(a =>
                    scanSide.outputSet.contains(a) && a.name == spec.embCol).toSeq
                  qembAttr = if (embAttr eq x) y else x
                  if querySide.outputSet.contains(qembAttr) &&
                    querySide.outputSet.contains(qid)
                  // the rule EXECUTES the query side several times at plan
                  // time (bounds check, probe, qid set) and the runtime
                  // executes it again — a nondeterministic side (limit over
                  // multi-partition input, a sample) could differ between
                  // those runs and break the candidate/runtime agreement
                  if querySide.deterministic
                  idAttr <- scanSide.output.find(_.name == spec.idCol).toSeq
                  if fltOpt.forall(fl => fl.condition.deterministic &&
                    !hasCandidateIn(fl.condition, idAttr))
                  // batch-filtered exactness needs exhaustive candidates,
                  // exactly like the single-query filtered rewrite
                  if fltOpt.isEmpty || spec.exhaustiveProbe
                } yield (scanSide, querySide, spec, qembAttr, idAttr, fltOpt)
                cands.headOption.flatMap {
                  case (scanSide, querySide, spec, qembAttr, idAttr, fltOpt) =>
                    val spark = spec.index.sparkSession
                    val filtered = fltOpt.isDefined
                    val cacheKey = s"${specCacheKey(spec)}|batch|$metric|k=$k|" +
                      s"q=${querySide.canonicalized}|" +
                      s"cond=${fltOpt.map(_.condition.sql).getOrElse("")}"
                    val decision = memoProbe(cacheKey)({
                      val qdf = org.apache.spark.sql.graft.PlanOps
                        .ofRows(spark, Project(Seq(qid, qembAttr), querySide))
                        .toDF("qid", "qemb")
                      // For the cosine metric the index stores L2-NORMALIZED
                      // vectors, so the probe side must be normalized the
                      // same way (identical float rounding to the index
                      // build); a zero-norm query vector has no cosine
                      // ranking at all — decline, keeping the exact plan's
                      // own NaN semantics for that query.
                      val F = org.apache.spark.sql.functions
                      lazy val qdfProbe: org.apache.spark.sql.DataFrame =
                        if (metric == "ip") {
                          // the ip index stores AUGMENTED vectors; the probe
                          // side gains the constant 0 as its extra dimension
                          // (see matchIp). A NaN query component has no dot
                          // ranking — decline, keeping the exact plan's own
                          // NaN semantics for that query.
                          if (qdf.where(F.exists(F.col("qemb"),
                              x => F.isnan(x.cast("double")))).limit(1).count() > 0) null
                          else qdf.select(F.col("qid"),
                            F.concat(F.col("qemb").cast("array<double>"),
                              F.array(F.lit(0.0))).cast("array<float>").as("qemb"))
                        } else if (metric != "cosine") qdf
                        else {
                          graft.functions.VectorExpressions.ensureRegistered(spark)
                          val withN = qdf.withColumn("__qn", F.sqrt(
                            graft.functions.VectorExpressions.dot(
                              F.col("qemb"), F.col("qemb"))))
                          // === 0.0 misses NaN (NaN === 0.0 is false), and a
                          // NaN-component vector has no cosine ranking either
                          if (withN.where(F.col("__qn") === 0.0 ||
                              F.isnan(F.col("__qn")) ||
                              F.col("__qn").isNull).limit(1).count() > 0) null
                          else withN.select(F.col("qid"),
                            F.transform(F.col("qemb"),
                              x => (x.cast("double") / F.col("__qn")).cast("float"))
                              .as("qemb"))
                        }
                      if (qdf.limit(MaxBatchQueries + 1).count() > MaxBatchQueries) None
                      else if (qdfProbe == null) {
                        logInfo("graft batch ANN rewrite: a degenerate query vector " +
                          s"(zero-norm cosine / NaN $metric) has no ranking; " +
                          "keeping the exact plan")
                        None
                      } else {
                        val kp = math.max(k, 1) * math.max(spec.overfetch, 1) *
                          (if (filtered) math.max(spec.filteredOverfetch, 1) else 1)
                        val cands = probe(spec, graft.search.Hnsw.collectQueries(qdfProbe), kp)
                        // Collected once for BOTH branches: the per-query
                        // guards below must run over the FULL query-side qid
                        // set, not just qids present in the probe output — a
                        // query whose probe returned nothing (null/NaN
                        // embedding, degenerate routing) would otherwise be
                        // uncounted, the rewrite would fire on the other
                        // queries' candidates, and THAT query's top-k would
                        // silently re-rank over neighbors that aren't its own.
                        val allQids = qdf.select("qid")
                          .collect().map(_.get(0)).toSet
                        val pairs = cands
                          .select(org.apache.spark.sql.functions.col("qid"),
                            org.apache.spark.sql.functions.col(spec.idCol))
                          .collect().map(row => (row.get(0), row.get(1)))
                        val byQid = pairs.groupBy(_._1)
                        val distinctIds = pairs.map(_._2).distinct.toIndexedSeq
                        fltOpt match {
                          case None =>
                            if (distinctIds.isEmpty) None
                            else if (!allQids.forall(byQid.contains)) {
                              logInfo("graft batch ANN rewrite: a query produced " +
                                "zero probe candidates; keeping the exact plan")
                              None
                            } else Some(distinctIds)
                          case Some(flt) =>
                            // per-query survivor check: evaluate the metadata
                            // filter once over the distinct candidates and
                            // require EVERY query to keep >= k survivors
                            if (distinctIds.isEmpty) None
                            else if (!allQids.forall(byQid.contains)) {
                              logInfo("graft batch ANN filtered rewrite: a query " +
                                "produced zero probe candidates; keeping the exact plan")
                              None
                            } else flt.child.output.find(_.name == spec.idCol)
                              .flatMap { belowId =>
                                val candInBelow = In(belowId, distinctIds
                                  .map(v => Literal.create(v, belowId.dataType)))
                                val survived = org.apache.spark.sql.graft.PlanOps
                                  .ofRows(spark,
                                    Project(Seq(belowId),
                                      Filter(And(flt.condition, candInBelow), flt.child)))
                                  .collect().map(_.get(0)).toSet
                                val minSurvivors = byQid.values
                                  .map(_.count(pr => survived.contains(pr._2))).min
                                if (minSurvivors < k) {
                                  logInfo(s"graft batch ANN filtered rewrite: a query " +
                                    s"keeps only $minSurvivors filter survivors (< k=$k); " +
                                    "keeping the exact plan")
                                  None
                                } else Some(distinctIds)
                              }
                        }
                      }
                    })
                    decision match {
                      case None =>
                        if (filtered) batchFilteredFallbacks.incrementAndGet()
                        None
                      case Some(candIds) =>
                        val candIn = In(idAttr,
                          candIds.map(v => Literal.create(v, idAttr.dataType)))
                        if (filtered) firedBatchFiltered.incrementAndGet()
                        else firedBatch.incrementAndGet()
                        logInfo(s"graft batch ANN rewrite" +
                          s"${if (filtered) " (filtered)" else ""}: window top-$k over " +
                          s"${spec.idCol}-indexed scan → one multi-query probe " +
                          s"(${candIds.length} candidate ids)")
                        Some(f.transformUp {
                          case p if p eq scanSide => Filter(candIn, scanSide)
                        }.asInstanceOf[Filter])
                    }
                }
              }
            case _ => None
          }
        }
      }
    }
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
    plan.transformDown {
      // the analyzed shape: Limit directly over the Sort
      case gl @ GlobalLimit(IntegerLiteral(k), ll @ LocalLimit(_, srt: Sort)) =>
        rewriteSort(srt, k, cur)
          .map(ns => gl.copy(child = ll.copy(child = ns)))
          .getOrElse(gl)
      // after projection pushdown the optimizer moves row-preserving
      // projections below the Limit: Limit → Project → Sort. The Limit
      // still takes the Sort's top rows (a deterministic Project drops
      // no rows and reorders nothing), so the same rewrite applies.
      case gl @ GlobalLimit(IntegerLiteral(k),
          ll @ LocalLimit(_, mid @ Project(midList, srt: Sort)))
          if midList.forall(_.deterministic) =>
        rewriteSort(srt, k, cur)
          .map(ns => gl.copy(child = ll.copy(child = mid.copy(child = ns))))
          .getOrElse(gl)
      // the BATCH shape: rank-filtered row_number window over a
      // broadcast cross join (KnnExact.topK) — one probe for all
      // queries, cost-gated by scan size
      case f @ Filter(LessThanOrEqual(_: AttributeReference, IntegerLiteral(_)), _) =>
        rewriteWindowTopK(f, cur).getOrElse(f)
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
