package graft.plans

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.EliminateSubqueryAliases
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.internal.SQLConf

/** Materialized-aggregate rewrite — the planner family every warehouse
  * keeps next to its index rules: a session registry of SUMMARY TABLES
  * (an MV pre-grouped FINER than the queries it serves) plus an
  * optimizer rule that answers
  *
  * {{{ Aggregate(keys ⊆ MV keys, re-aggregable measures) → Scan(source) }}}
  *
  * from the MV instead of the fact scan:
  *
  * {{{ Aggregate(keys, mapped measures) → Scan(MV) }}}
  *
  * At 100 TB this is THE difference between a dashboard query reading a
  * 56-row rollup and re-scanning the fact table: the rewrite turns an
  * O(n) scan + shuffle into an O(|MV|) re-aggregation, and because the
  * measures are restricted to the RE-AGGREGABLE algebra the results are
  * identical, not approximate.
  *
  * EXACTNESS RULES (each decline keeps the exact plan — the same
  * never-wrong-only-unaccelerated contract as [[AnnIndexRewrite]]):
  * - query grouping keys must be plain scan columns, a subset of the
  *   MV's grouping keys (the MV is grouped finer; grouping by fewer
  *   keys re-aggregates MV rows — algebraically exact);
  * - COUNT(*) maps to COALESCE(SUM(mv count), 0) — exact BIGINT; the
  *   COALESCE matters only for the UNGROUPED shape over an empty
  *   selection (no MV rows → SUM is NULL where COUNT is 0 — the one
  *   place the plain mapping would silently diverge; grouped outputs
  *   only exist for non-empty groups, where the wrap is a no-op);
  * - COUNT(x) maps the same way onto a PER-COLUMN count measure
  *   (registered as ("count", x) — the MV's count(x), which ignores
  *   NULLs exactly like the query's COUNT(x));
  * - SUM(x) maps to SUM(mv sum_x), accepted only when the re-aggregated
  *   type EQUALS the original output type: integral sums re-aggregate
  *   exactly (BIGINT addition is associative); DECIMAL sums widen
  *   (p → p+10) on every Sum and therefore never type-match — declined
  *   by the type check, not special-cased; FLOAT/DOUBLE sums type-match
  *   but re-associate the IEEE additions, so they are declined
  *   explicitly (a float SUM is not deterministic even without this
  *   rule, but the rewrite must not ADD a source of divergence);
  * - MIN/MAX map to MIN/MAX of the MV column — order-invariant for any
  *   type, accepted as-is;
  * - AVG over an INTEGRAL column decomposes to SUM(mv sum)/SUM(mv
  *   count-of-that-column): AVG divides by the NON-NULL count, so the
  *   denominator must be a per-column ("count", x) measure — COUNT(*)
  *   is only an acceptable stand-in when the column is provably
  *   non-nullable, which a parquet scan never is (ADVICE r17: the
  *   COUNT(*) denominator silently mis-averages any NULL-bearing
  *   column). Integer partial sums are exactly representable in double
  *   below 2⁵³, so Spark's own Average (double accumulator) computes
  *   the identical division of the identical exact operands —
  *   float/double AVG declines like float SUM;
  * - a deterministic Filter between the Aggregate and the scan is
  *   re-aggregable iff it references ONLY MV grouping keys (the
  *   predicate then selects whole MV groups — it is remapped onto the
  *   MV's attributes); a predicate touching any measure column
  *   declines;
  * - COUNT(DISTINCT x) is re-aggregable iff x is an MV GROUPING KEY:
  *   the MV carries every distinct key combination present in the
  *   facts, so the distinct x values among the (whole-group-selected)
  *   MV rows are exactly the distinct x values among the facts — the
  *   remap is COUNT(DISTINCT mv.x), NULL-skipping on both sides. Any
  *   other DISTINCT aggregate, and every per-aggregate FILTER clause,
  *   declines (not re-aggregable from a plain rollup);
  * - the MV is a snapshot of its source's files ([[SourceSnapshots]]):
  *   a changed listing drops the registration (droppedStale) and the
  *   query scans the facts; a join view is dropped when EITHER source
  *   changes; a listing failure declines the plan but keeps the
  *   registration.
  *
  * Registration is session-lived, like a temp view; a different live
  * session scanning the same path keeps its exact plan.
  *
  * MV CHOICE (r18): one source may carry SEVERAL summary tables at
  * different granularities (the classic rollup lattice — hourly/daily/
  * monthly). The rule tries the qualifying MVs in ascending row count
  * and answers from the SMALLEST one that maps every key and measure —
  * cost-based view selection, the same choice a warehouse optimizer
  * makes over a materialized-view lattice. Row counts are taken once
  * at registration; a coarser MV that cannot express the query (key
  * not in its grouping set, measure missing) is skipped, never wrong.
  */
object AggRewrite extends Rule[LogicalPlan] {

  /** A registered summary table for one source path.
    *
    * @param mv        the materialized rollup frame (or read from mvPath)
    * @param groupCols the MV's grouping key column names — shared with
    *                  the source scan's column names
    * @param measures  MV measure column name → (func, source column):
    *                  func ∈ count | sum | min | max. ("count", "") is
    *                  COUNT(*); ("count", x) is the per-column count(x)
    *                  — the NULL-ignoring count AVG(x)/COUNT(x) need
    * @param mvPath    parquet path for fresh-exprId reads per splice
    * @param rows      MV row count for cost-based choice among several
    *                  registered MVs (counted at registration when < 0)
    */
  final case class MvSpec(
      mv: DataFrame,
      groupCols: Seq[String],
      measures: Map[String, (String, String)],
      mvPath: Option[String] = None,
      rows: Long = -1L)

  /** Several MVs per source path (the rollup lattice) — choice is by
    * ascending row count among the ones that map the whole query.
    */
  private val registry = TrieMap.empty[String, List[MvSpec]]
  // one guard for both registries: MVs keyed by their source path,
  // join views by their "pathA|pathB" pair (joinRegKey)
  private val snapshots = new SourceSnapshots("agg")

  val fired = new java.util.concurrent.atomic.AtomicLong(0)
  val fallbacks = new java.util.concurrent.atomic.AtomicLong(0)
  val droppedStale: java.util.concurrent.atomic.AtomicLong = snapshots.droppedStale

  import SourceSnapshots.{normalize, pathOf}

  def register(sourcePath: String, spec: MvSpec): Unit = {
    require(spec.measures.values.forall(m =>
      Seq("count", "sum", "min", "max").contains(m._1)),
      "measure funcs must be count|sum|min|max")
    val key = normalize(sourcePath)
    // size the MV once for the lattice choice; re-registering the same
    // grouping set replaces its previous spec
    val sized = if (spec.rows >= 0) spec else spec.copy(rows = spec.mv.count())
    registry.updateWith(key) {
      case Some(list) =>
        Some(sized :: list.filterNot(_.groupCols.toSet == sized.groupCols.toSet))
      case None => Some(List(sized))
    }
    snapshots.take(key, Seq(sourcePath), spec.mv.sparkSession)
  }

  def unregister(sourcePath: String): Unit = {
    val key = normalize(sourcePath)
    registry.remove(key); snapshots.forget(key)
  }

  def clear(): Unit = { registry.clear(); joinRegistry.clear(); snapshots.clear() }

  /** No MV and no join view is registered. */
  private[graft] def isEmpty: Boolean = registry.isEmpty && joinRegistry.isEmpty

  /** Clear the plan-time staleness verdict caches WITHOUT touching any
    * registration — the retry-once path of the rewrite_fired pin
    * ([[PlannerPin]]): a transient listing failure otherwise declines
    * every plan for a whole check interval, which is exactly the flake
    * the r17 driver run hit.
    */
  def resetPlanCaches(): Unit = snapshots.resetVerdicts()

  private def enabled: Boolean =
    SQLConf.get.getConfString("spark.graft.agg.rewrite", "true").toBoolean

  // ---- star-schema (join) views ----------------------------------------

  /** A registered AGGREGATE JOIN VIEW: the rollup of
    * `scan(pathA) ⋈_{leftKey = rightKey} scan(pathB)`. Grouping keys and
    * measure source columns may name columns of either table — names
    * must be unambiguous across the pair (TPC-H-style prefixes).
    */
  final case class JoinMvSpec(
      mv: DataFrame,
      leftKey: String,
      rightKey: String,
      groupCols: Seq[String],
      measures: Map[String, (String, String)],
      mvPath: Option[String] = None)

  private val joinRegistry = TrieMap.empty[String, JoinMvSpec]

  private def joinRegKey(a: String, b: String): String = {
    val s = Seq(normalize(a), normalize(b)).sorted
    s.head + "|" + s(1)
  }

  def registerJoin(pathA: String, pathB: String, spec: JoinMvSpec): Unit = {
    require(spec.measures.values.forall(m =>
      Seq("count", "sum", "min", "max").contains(m._1)),
      "measure funcs must be count|sum|min|max")
    val key = joinRegKey(pathA, pathB)
    joinRegistry.put(key, spec)
    // either source changing voids the view
    snapshots.take(key, Seq(pathA, pathB), spec.mv.sparkSession)
  }

  def unregisterJoin(pathA: String, pathB: String): Unit = {
    val key = joinRegKey(pathA, pathB)
    joinRegistry.remove(key); snapshots.forget(key)
  }

  /** The registered join view for this leaf PAIR (either order), owned
    * by the current session and not stale — same checks as [[specsOf]],
    * with BOTH sources fingerprinted (either table changing drops it).
    */
  private def joinSpecOf(leafA: LogicalPlan, leafB: LogicalPlan,
      cur: Option[SparkSession]): Option[(JoinMvSpec, String, String)] =
    for {
      pa <- pathOf(leafA)
      pb <- pathOf(leafB)
      key = joinRegKey(pa.toUri.getPath, pb.toUri.getPath)
      spec <- joinRegistry.get(key)
      if !spec.mv.sparkSession.sparkContext.isStopped || {
        joinRegistry.remove(key); false
      }
      if cur.exists(_ eq spec.mv.sparkSession)
      if !snapshots.stale(key, Seq(pa.toString, pb.toString), spec.mv.sparkSession) {
        joinRegistry.remove(key)
      }
    } yield (spec, pa.toString, pb.toString)

  private def leafThroughProjects(p: LogicalPlan): LogicalPlan = p match {
    case Project(cols, inner) if cols.forall(_.isInstanceOf[AttributeReference]) =>
      leafThroughProjects(inner)
    case other => other
  }

  /** The source's qualifying MVs in ASCENDING row count — the lattice
    * choice order (smallest first; the caller takes the first that maps
    * the whole query). Session-ownership and staleness are per PATH:
    * every MV over the path is a snapshot of the same listing.
    */
  private def specsOf(leaf: LogicalPlan, cur: Option[SparkSession]): Seq[MvSpec] =
    pathOf(leaf).toSeq.flatMap { p =>
      val key = p.toUri.getPath
      registry.getOrElse(key, Nil) match {
        case Nil => Nil
        case specs if specs.exists(_.mv.sparkSession.sparkContext.isStopped) =>
          registry.remove(key); Nil
        case specs if !specs.forall(s => cur.exists(_ eq s.mv.sparkSession)) =>
          Nil // session-lived registration, like AnnIndexRewrite's
        case specs if snapshots.stale(key, Seq(p.toString), specs.head.mv.sparkSession) {
            registry.remove(key)
          } =>
          Nil
        case specs =>
          specs.sortBy(s => if (s.rows >= 0) s.rows else Long.MaxValue)
      }
    }

  /** True when every IEEE-reassociation hazard is absent: integral
    * types re-sum exactly; float/double re-sums reorder additions.
    */
  private def integralSum(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.IntegerType |
         org.apache.spark.sql.types.ShortType | org.apache.spark.sql.types.ByteType => true
    case _ => false
  }

  private def rewriteAggregate(agg: Aggregate, cur: Option[SparkSession],
      dfGuard: () => Boolean): Option[Aggregate] = {
    // optional deterministic Filter BETWEEN the Aggregate and the scan:
    // re-aggregable iff it references ONLY MV grouping keys (then the
    // same predicate applied to the MV keeps exactly the fact rows'
    // groups — the second classic MV-rewrite condition)
    val (fltOpt, below) = leafThroughProjects(agg.child) match {
      case f @ Filter(_, c) => (Some(f), leafThroughProjects(c))
      case other => (None, other)
    }
    below match {
      case leaf: LogicalRelation =>
        val specs = specsOf(leaf, cur)
        // lattice choice: the SMALLEST qualifying MV answers; a coarser
        // MV missing a key/measure is skipped, never wrong. Fallback is
        // counted once per query (no MV maps), not per skipped trial.
        val chosen = specs.view.flatMap { spec =>
          rewriteWith(agg, spec.groupCols, spec.measures, spec.mv, spec.mvPath,
            fltOpt, s"single-table(${spec.rows}-row MV)", dfGuard)
        }.headOption
        if (chosen.isEmpty && specs.nonEmpty) fallbacks.incrementAndGet()
        chosen
      // STAR-SCHEMA shape: Aggregate over an inner equi-join of two
      // registered scans — answered from the pre-joined rollup (the
      // "aggregate join view"). The join condition must be exactly the
      // declared key pair; grouping keys / measures may name columns
      // from either side (TPC-H-style prefixes keep names unambiguous,
      // required at registration).
      case j @ Join(lc, rc, org.apache.spark.sql.catalyst.plans.Inner,
          Some(cond), _) =>
        // InferFiltersFromConstraints inserts isnotnull(<join key>)
        // above each side — implied by the inner join itself (null keys
        // never join, so the MV built from the join has no such rows):
        // safe to look through IFF every stripped predicate is an
        // IsNotNull over a DECLARED join key; any other filter keeps
        // the exact plan.
        def conjuncts(e: Expression): Seq[Expression] = e match {
          case And(a, b) => conjuncts(a) ++ conjuncts(b)
          case other => Seq(other)
        }
        def splitNotNull(p: LogicalPlan): (LogicalPlan, Seq[String]) =
          leafThroughProjects(p) match {
            case Filter(c, child) =>
              val preds = conjuncts(c)
              val names = preds.collect { case IsNotNull(a: AttributeReference) => a.name }
              if (names.length == preds.length) (leafThroughProjects(child), names)
              else (leafThroughProjects(p), Nil)
            case other => (other, Nil)
          }
        val (leafL, strippedL) = splitNotNull(lc)
        val (leafR, strippedR) = splitNotNull(rc)
        joinSpecOf(leafL, leafR, cur).flatMap { case (spec, pathL, pathR) =>
          val keys = Set(spec.leftKey, spec.rightKey)
          val keyOk = cond match {
            case EqualTo(x: AttributeReference, y: AttributeReference) =>
              Set(x.name, y.name) == keys
            case _ => false
          }
          if (!keyOk || !(strippedL ++ strippedR).forall(keys.contains)) None
          else {
            val res = rewriteWith(agg, spec.groupCols, spec.measures, spec.mv,
              spec.mvPath, fltOpt, s"join(${spec.leftKey}=${spec.rightKey})", dfGuard)
            if (res.isEmpty) fallbacks.incrementAndGet()
            res
          }
        }
      // GROUPING SETS / ROLLUP / CUBE shape: Aggregate over the Expand
      // that replicates each fact row once per grouping set — answered
      // from the MV by replicating each MV row instead (every grouping
      // set is a coarsening of the MV's keys, so the per-set groups
      // re-aggregate exactly like the flat shape does per query).
      case e: Expand => rewriteExpand(agg, e, cur, dfGuard)
      case _ => None
    }
  }

  /** Rewrite `Aggregate(keys + grouping id, aggs, Expand(sets, scan))`
    * — the lowered form of GROUP BY GROUPING SETS / ROLLUP / CUBE —
    * onto a registered MV: the rebuilt Expand replicates MV rows with
    * the SAME grouping-set structure (key slots remapped to MV key
    * columns, the grouping-id literals untouched, measure pass-through
    * slots replaced by the MV measure columns), and the Aggregate's
    * functions re-aggregate through [[remapMeasure]]'s shared algebra.
    *
    * Exactness: a grouping-set group at grouping-id g is the union of
    * whole MV groups (every set is a subset of the MV's keys — checked
    * per slot), and the NULLs Expand writes into rolled-up key slots
    * are positionally identical on both plans, so groups correspond
    * 1:1 (data NULLs vs rolled-up NULLs stay separated by the grouping
    * id exactly as in the exact plan). DISTINCT aggregates over KEY
    * slots pass through untouched — they are row-multiplicity-
    * insensitive and the MV preserves each group's distinct key-value
    * set; DISTINCT over a measure declines. A WHERE below the Expand
    * remaps onto the MV iff it references only MV grouping keys (the
    * flat path's condition).
    *
    * At 100 TB a CUBE over a fact table Expands EVERY row 2^k times
    * before the shuffle — the rewrite replicates ~|MV| rows instead,
    * which is the difference between the dashboard's rollup matrix
    * costing 2^k fact scans' worth of shuffle and costing nothing.
    */
  private def rewriteExpand(agg: Aggregate, expand: Expand,
      cur: Option[SparkSession], dfGuard: () => Boolean): Option[Aggregate] = {
    val (fltOpt, below) = leafThroughProjects(expand.child) match {
      case f @ Filter(_, c) => (Some(f), leafThroughProjects(c))
      case other => (None, other)
    }
    below match {
      case leaf: LogicalRelation =>
        val specs = specsOf(leaf, cur)
        val chosen = specs.view.flatMap { spec =>
          rewriteExpandWith(agg, expand, spec, fltOpt, dfGuard)
        }.headOption
        if (chosen.isEmpty && specs.nonEmpty) fallbacks.incrementAndGet()
        chosen
      case _ => None
    }
  }

  private def rewriteExpandWith(agg: Aggregate, expand: Expand, spec: MvSpec,
      fltOpt: Option[Filter], dfGuard: () => Boolean): Option[Aggregate] = {
    if (expand.projections.isEmpty) return None
    // grouping must be plain references to Expand outputs (the lowered
    // form always is; anything else is not the shape this serves)
    if (!agg.groupingExpressions.forall {
      case a: AttributeReference => expand.outputSet.contains(a)
      case _ => false
    }) return None
    val groupingIds = AttributeSet(agg.groupingExpressions.flatMap(_.references))

    val spark = spec.mv.sparkSession
    val mvDf = spec.mvPath.map(spark.read.parquet(_)).getOrElse(spec.mv)
    val mvPlan = EliminateSubqueryAliases(mvDf.queryExecution.analyzed)
    def mvAttr(name: String): Option[Attribute] =
      mvPlan.output.find(_.name == name)

    // classify each Expand slot; rebuild kept slots against the MV
    val newRows = expand.projections.map(_ =>
      scala.collection.mutable.ArrayBuffer.empty[Expression])
    val newOut = scala.collection.mutable.ArrayBuffer.empty[Attribute]
    val measureSlots = scala.collection.mutable.Set.empty[ExprId]
    expand.output.zipWithIndex.foreach { case (outAttr, i) =>
      val exprs = expand.projections.map(_(i))
      if (groupingIds.contains(outAttr)) {
        if (exprs.forall(_.isInstanceOf[Literal])) {
          // the grouping-id slot (or a constant set marker): unchanged
          newOut += outAttr
          exprs.zipWithIndex.foreach { case (ex, r) => newRows(r) += ex }
        } else {
          // a key slot: the source column in sets that keep it, NULL in
          // sets that roll it up — one consistent source, an MV key
          val names = exprs.collect { case a: AttributeReference => a.name }.distinct
          if (names.length != 1 || !spec.groupCols.contains(names.head)) return None
          if (!exprs.forall {
            case _: AttributeReference => true
            case Literal(null, _) => true
            case _ => false
          }) return None
          val m = mvAttr(names.head).getOrElse(return None)
          newOut += outAttr
          exprs.zipWithIndex.foreach {
            case (_: AttributeReference, r) => newRows(r) += m
            case (nullLit, r) => newRows(r) += nullLit
          }
        }
      } else {
        // a measure slot: a strict pass-through of one scan column in
        // every set (Expand reuses the child attr as its own output) —
        // the slot is dropped; aggregates over it remap onto MV
        // measures below
        if (!exprs.forall {
          case a: AttributeReference => a.exprId == outAttr.exprId
          case _ => false
        }) return None
        measureSlots += outAttr.exprId
      }
    }

    // MV measure columns ride the rebuilt Expand as pass-through slots
    // (the same child-attr-as-output idiom the original used)
    val minted = scala.collection.mutable.LinkedHashSet.empty[Attribute]
    def resolve(mvCol: String): Option[Attribute] =
      mvAttr(mvCol).map { m => minted += m; m }

    val mapped: Seq[Option[NamedExpression]] = agg.aggregateExpressions.map {
      // key / grouping-id columns surfaced directly or under non-agg
      // expressions (grouping()/grouping_id() lower to bit ops over the
      // id slot): kept slots flow through the rebuilt Expand unchanged
      case a: AttributeReference if !measureSlots.contains(a.exprId) => Some(a)
      case al @ Alias(child, _)
          if !child.exists(_.isInstanceOf[AggregateExpression]) &&
            child.references.forall(r => !measureSlots.contains(r.exprId)) =>
        Some(al)
      case al @ Alias(ae: AggregateExpression, name) if ae.filter.isEmpty =>
        // an aggregate over a GROUPING COLUMN references the column's
        // RAW pass-through slot, not the nulled grouping copy (SQL
        // semantics: count(DISTINCT b) in a rolled-up group counts the
        // group's real b values) — so key-column aggregates arrive
        // here as measure-slot references and remap onto the MV KEY
        // column, exact whenever the function is row-multiplicity-
        // insensitive (the MV preserves each group's distinct
        // key-value set): DISTINCT anything-over-a-key, MIN, MAX.
        val remapped: Option[Expression] =
          if (ae.isDistinct) {
            if (ae.references.forall(r => !measureSlots.contains(r.exprId)))
              Some(ae) // over kept slots: untouched
            else ae.aggregateFunction match {
              case Count(Seq(a: AttributeReference)) if spec.groupCols.contains(a.name) =>
                resolve(a.name)
                  .map(m => Count(Seq(m)).toAggregateExpression(isDistinct = true))
              case _ => None
            }
          } else ae.aggregateFunction match {
            case Min(a: AttributeReference)
                if measureSlots.contains(a.exprId) && spec.groupCols.contains(a.name) =>
              resolve(a.name).filter(_.dataType == al.dataType)
                .map(m => Min(m).toAggregateExpression())
            case Max(a: AttributeReference)
                if measureSlots.contains(a.exprId) && spec.groupCols.contains(a.name) =>
              resolve(a.name).filter(_.dataType == al.dataType)
                .map(m => Max(m).toAggregateExpression())
            // only functions over RAW pass-through slots (or over no
            // column at all, COUNT(*)) reach the measure algebra — a
            // function over a nulled grouping COPY sees set-dependent
            // NULLs the MV remap would erase
            case f if f.references.forall(r => measureSlots.contains(r.exprId)) =>
              remapMeasure(f, al.dataType, spec.measures, resolve)
            case _ => None
          }
        remapped.map {
          case same if same eq ae => al // untouched pass-through
          case e => Alias(e, name)(exprId = al.exprId)
        }
      case _ => None
    }
    if (mapped.exists(_.isEmpty)) return None

    // WHERE below the Expand: re-aggregable iff key-only (flat rule)
    var condOk = true
    val newChild: LogicalPlan = fltOpt match {
      case None => mvPlan
      case Some(f) =>
        if (!f.condition.deterministic) return None
        if (!f.condition.references.forall(a => spec.groupCols.contains(a.name)))
          return None
        val cond2 = f.condition.transform {
          case a: AttributeReference =>
            mvAttr(a.name) match {
              case Some(m) => m
              case None => condOk = false; a
            }
        }
        if (!condOk) return None
        Filter(cond2, mvPlan)
    }

    if (spec.mvPath.isEmpty && !dfGuard()) return None
    fired.incrementAndGet()
    logInfo(s"graft agg rewrite: grouping-sets Aggregate (${expand.projections.length} " +
      s"sets) answered from the ${spec.rows}-row MV — fact Expand replaced")
    val mintedSeq = minted.toSeq
    val newExpand = Expand(
      newRows.map(_.toSeq ++ mintedSeq),
      newOut.toSeq ++ mintedSeq,
      newChild)
    Some(Aggregate(agg.groupingExpressions, mapped.flatten, newExpand))
  }

  /** Remap ONE plain (non-DISTINCT, unfiltered) aggregate function
    * onto the view's measures — the re-aggregable algebra shared by the
    * flat shape and the grouping-sets shape:
    *
    *  - COUNT(*) / COUNT(x) → COALESCE(SUM(count measure), 0): SUM over
    *    the MV count re-aggregates exactly, except over an EMPTY
    *    selection (ungrouped, zero MV rows) where SUM is NULL and COUNT
    *    is 0 — COALESCE closes that divergence (ADVICE r17 high);
    *    grouped outputs only exist for non-empty groups, where the wrap
    *    never evaluates its default. COUNT(x) ignores NULLs, so only
    *    the per-column count measure (same NULL semantics) maps it.
    *  - integral SUM → SUM(mv sum), accepted only when the
    *    re-aggregated type EQUALS the original output type (DECIMAL
    *    widening never matches; float/double re-associate IEEE adds and
    *    are declined by the integral gate).
    *  - MIN/MAX → MIN/MAX of the MV column (order-invariant).
    *  - integral AVG → SUM(mv_sum)/SUM(mv_count_of_x): integer partial
    *    sums are exactly representable in double below 2^53, so Spark's
    *    own Average (double accumulator) computes the identical
    *    division of the identical exact operands. AVG divides by the
    *    NON-NULL count of its own column (ADVICE r17 medium): the
    *    denominator must be the per-column ("count", x) measure;
    *    COUNT(*) only stands in when the analyzer proves the column
    *    non-nullable (never true for a parquet scan).
    *
    * `resolve` supplies the attribute that carries an MV column in the
    * NEW plan — the MV scan's own output for the flat shape, the
    * rebuilt Expand's pass-through slot for grouping sets.
    */
  private def remapMeasure(func: AggregateFunction,
      outType: org.apache.spark.sql.types.DataType,
      measures: Map[String, (String, String)],
      resolve: String => Option[Attribute]): Option[Expression] = {
    def countOf(srcCol: String): Option[Expression] =
      measures.collectFirst { case (mvCol, ("count", `srcCol`)) => mvCol }
        .flatMap(resolve)
        .filter(_.dataType == org.apache.spark.sql.types.LongType)
        .map(m => Coalesce(Seq(Sum(m).toAggregateExpression(),
          Literal(0L, org.apache.spark.sql.types.LongType))))
    func match {
      case Count(Seq(l: Literal)) if l.value != null => countOf("")
      case Count(Seq(a: AttributeReference)) => countOf(a.name)
      case s: Sum => s.child match {
        case a: AttributeReference if integralSum(a.dataType) =>
          measures.collectFirst {
            case (mvCol, ("sum", src)) if src == a.name => mvCol
          }.flatMap(resolve)
            .map(m => Sum(m).toAggregateExpression())
            .filter(_.dataType == outType) // integral widening must agree
        case _ => None // float/double/decimal sums: re-association hazard
      }
      case Min(a: AttributeReference) =>
        measures.collectFirst {
          case (mvCol, ("min", src)) if src == a.name => mvCol
        }.flatMap(resolve)
          .filter(_.dataType == outType)
          .map(m => Min(m).toAggregateExpression())
      case Max(a: AttributeReference) =>
        measures.collectFirst {
          case (mvCol, ("max", src)) if src == a.name => mvCol
        }.flatMap(resolve)
          .filter(_.dataType == outType)
          .map(m => Max(m).toAggregateExpression())
      case av: Average => av.child match {
        case a: AttributeReference if integralSum(a.dataType) &&
            outType == org.apache.spark.sql.types.DoubleType =>
          for {
            sumCol <- measures.collectFirst {
              case (mvCol, ("sum", src)) if src == a.name => mvCol
            }.flatMap(resolve)
            if sumCol.dataType == org.apache.spark.sql.types.LongType
            cntCol <- measures.collectFirst {
              case (mvCol, ("count", src)) if src == a.name => mvCol
            }.flatMap(resolve).orElse(
              if (a.nullable) None
              else measures.collectFirst {
                case (mvCol, ("count", "")) => mvCol
              }.flatMap(resolve))
            if cntCol.dataType == org.apache.spark.sql.types.LongType
          } yield Divide(
            Cast(Sum(sumCol).toAggregateExpression(),
              org.apache.spark.sql.types.DoubleType),
            Cast(Sum(cntCol).toAggregateExpression(),
              org.apache.spark.sql.types.DoubleType))
        case _ => None
      }
      case _ => None
    }
  }

  /** The shared output-mapping core: remap an Aggregate's grouping
    * keys, measures, and optional key-only Filter onto the view, or
    * decline.
    */
  private def rewriteWith(agg: Aggregate, groupCols: Seq[String],
      measures: Map[String, (String, String)], mv: DataFrame,
      mvPath: Option[String], fltOpt: Option[Filter], logTag: String,
      dfGuard: () => Boolean): Option[Aggregate] = {
    {
      // grouping keys: plain scan columns, a subset of the MV keys
      val groupAttrs = agg.groupingExpressions.map {
        case a: AttributeReference if groupCols.contains(a.name) => Some(a)
        case _ => None
      }
      if (groupAttrs.exists(_.isEmpty)) return None
      fltOpt.foreach { f =>
        if (!f.condition.deterministic) return None
        val refs = f.condition.references.toSeq
        if (!refs.forall(a => groupCols.contains(a.name)))
          return None // predicate touches a measure column: not derivable
      }
      // the MV plan — path-backed reads splice fresh exprIds each time;
      // a DataFrame-backed spec can be spliced ONCE PER PASS (ADVICE
      // r17: the guard must span the whole transformDown — two
      // Aggregates over the same source in one plan would otherwise
      // splice duplicate exprIds into sibling subtrees; the guard's
      // initial state also covers attrs already in the tree)
      val spark = mv.sparkSession
      val mvDf = mvPath.map(spark.read.parquet(_)).getOrElse(mv)
      val mvPlan = EliminateSubqueryAliases(mvDf.queryExecution.analyzed)
      def mvAttr(name: String): Option[Attribute] =
        mvPlan.output.find(_.name == name)
      // map every output expression or decline
      val newGrouping = groupAttrs.flatten.map(a => mvAttr(a.name))
      if (newGrouping.exists(_.isEmpty)) return None
      val groupByName = groupAttrs.flatten.map(a => a.name -> a).toMap
      val mapped: Seq[Option[NamedExpression]] = agg.aggregateExpressions.map {
        // a grouping column surfaced directly (or under an alias)
        case a: AttributeReference if groupByName.contains(a.name) =>
          mvAttr(a.name).map(m => Alias(m, a.name)(exprId = a.exprId))
        case al @ Alias(a: AttributeReference, name) if groupByName.contains(a.name) =>
          mvAttr(a.name).map(m => Alias(m, name)(exprId = al.exprId))
        // COUNT(DISTINCT x) where x is an MV GROUPING KEY: the MV holds
        // every distinct key combination in the facts, so the distinct
        // x among (whole-group-selected) MV rows equals the distinct x
        // among the facts — COUNT(DISTINCT mv.x), NULL-skipping on
        // both sides. Any other DISTINCT shape falls to the catch-all.
        case al @ Alias(ae: AggregateExpression, name)
            if ae.isDistinct && ae.filter.isEmpty &&
              (ae.aggregateFunction match {
                case Count(Seq(a: AttributeReference)) => groupCols.contains(a.name)
                case _ => false
              }) =>
          val Count(Seq(a: AttributeReference)) = ae.aggregateFunction
          mvAttr(a.name)
            .map(m => Count(Seq(m)).toAggregateExpression(isDistinct = true))
            .map(e => Alias(e, name)(exprId = al.exprId))
        case al @ Alias(ae: AggregateExpression, name)
            if !ae.isDistinct && ae.filter.isEmpty =>
          remapMeasure(ae.aggregateFunction, al.dataType, measures, mvAttr)
            .map(e => Alias(e, name)(exprId = al.exprId))
        case _ => None
      }
      // remap the key-only filter predicate onto the MV's attributes
      var condOk = true
      val newChild: LogicalPlan = fltOpt match {
        case None => mvPlan
        case Some(f) =>
          val cond2 = f.condition.transform {
            case a: AttributeReference =>
              mvAttr(a.name) match {
                case Some(m) => m
                case None => condOk = false; a
              }
          }
          if (condOk) Filter(cond2, mvPlan) else mvPlan
      }
      // declines return None without counting — the CALLER counts one
      // fallback per query after the lattice trials, so a query that
      // succeeds on its second-smallest MV is not miscounted as a miss
      if (mapped.exists(_.isEmpty) || !condOk) {
        None
      } else if (mvPath.isEmpty && !dfGuard()) {
        // a DataFrame-backed MV was already spliced into this plan (or
        // its attrs pre-exist in the tree): a second splice would
        // duplicate exprIds — keep the exact plan (burned only on an
        // actual fire, so declined matches don't consume the slot)
        None
      } else {
        fired.incrementAndGet()
        logInfo(s"graft agg rewrite: Aggregate over ${groupCols.size}-key MV " +
          s"answers a ${groupAttrs.flatten.size}-key rollup — fact scan replaced" +
          fltOpt.map(_ => " (key-only predicate remapped)").getOrElse(""))
        Some(Aggregate(newGrouping.flatten, mapped.flatten, newChild))
      }
    }
  }

  /** Output attrs of every DataFrame-backed MV (path-backed specs read
    * fresh exprIds per splice and need no guard) — the initial state of
    * the once-per-pass splice guard.
    */
  private def dfMvAttrs(): AttributeSet = {
    val dfs = registry.values.flatten.filter(_.mvPath.isEmpty).map(_.mv) ++
      joinRegistry.values.filter(_.mvPath.isEmpty).map(_.mv)
    dfs.foldLeft(AttributeSet.empty)((acc, df) =>
      acc ++ df.queryExecution.analyzed.outputSet)
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    applyWith(plan, SparkSession.getActiveSession)

  def applyWith(plan: LogicalPlan, cur: Option[SparkSession]): LogicalPlan = {
    if (!enabled || (registry.isEmpty && joinRegistry.isEmpty)) return plan
    // once-per-PASS splice guard for DataFrame-backed MVs (ADVICE r17):
    // a single analyzed MV subtree spliced under two sibling Aggregates
    // would duplicate its exprIds across the plan. Seeded with a
    // plan-wide attr scan (covers MV attrs already in the tree), burned
    // by the first fire, checked by every subsequent match.
    var dfSpliced = plan.collectLeaves()
      .exists(l => l.outputSet.intersect(dfMvAttrs()).nonEmpty)
    def dfGuard(): Boolean = { val ok = !dfSpliced; if (ok) dfSpliced = true; ok }
    plan.transformDown {
      case agg: Aggregate =>
        try rewriteAggregate(agg, cur, dfGuard _).getOrElse(agg)
        catch {
          case e: Exception =>
            logWarning(s"graft agg rewrite failed; keeping the exact plan: ${e.getMessage}")
            agg
        }
    }
  }
}

/** Session-bound form for GraftExtensions injection — same rationale as
  * [[AnnIndexRewriteRule]].
  */
final class AggRewriteRule(session: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    AggRewrite.applyWith(plan, Option(session))
}
