package graft.plans

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.{Cross, Inner, LeftAnti, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.internal.SQLConf

/** Constraint-based JOIN ELIMINATION — the third planner family, next
  * to [[AnnIndexRewrite]] (index choice) and [[AggRewrite]]
  * (materialized views): a session registry of VERIFIED integrity
  * constraints plus an optimizer rule that drops a fact ⋈ dim join
  * whose dim columns are never used:
  *
  * {{{ Project(fact cols only, Join(fact, dim, type, fact.k = dim.k)) }}}
  *   →
  * {{{ Project(fact cols only, fact) }}}
  *
  * Spark itself never eliminates a join — it cannot know the join is
  * row-preserving. The registry supplies exactly the two facts that
  * make it provable, each VERIFIED against the data at registration
  * time (not merely trusted, unlike a warehouse RELY constraint):
  *
  *  - `registerUnique(dimPath, k)` — `k` has no duplicate non-NULL
  *    value. A LEFT OUTER join to such a dim never duplicates a fact
  *    row (each key matches ≤ 1 dim row) and never drops one (outer),
  *    so when no dim column is referenced above the join, the join is
  *    the identity on the fact side: droppable with NO other claim.
  *  - `registerForeignKey(factPath, fk, dimPath, k)` — additionally,
  *    every `fact.fk` is non-NULL and present in `dim.k`. An INNER
  *    join then drops nothing either (every fact row matches exactly
  *    once): droppable too. So is a LEFT SEMI join (the plan shape of
  *    `WHERE EXISTS` / `IN (SELECT k FROM dim)`): under the FK the
  *    existence test is true for every fact row — the semi join is
  *    the identity. And a LEFT ANTI join (`NOT EXISTS` — the orphan
  *    check) is provably EMPTY: it rewrites to an empty relation.
  *    The PRE-join SQL forms get the same treatment: `EXISTS (...)` /
  *    `fk IN (SELECT k FROM dim)` predicates (which
  *    RewritePredicateSubquery only lowers to semi/anti joins AFTER
  *    this rule's batch) fold to TRUE in place, so SQL-text existence
  *    guards vanish too — including their NOT variants, which fold
  *    through BooleanSimplification to an empty relation.
  *
  * At 100 TB this is the difference between shuffling the fact table
  * against a dimension it never reads and not touching the dimension
  * at all — the query generators and BI layers that emit star-schema
  * SQL join every declared dimension unconditionally, so the shape is
  * warehouse-ubiquitous. And because the rule runs inside the same
  * operator-optimization fixed point as [[AggRewrite]], an eliminated
  * join EXPOSES the bare fact-table Aggregate underneath to the MV
  * rewrite: fact ⋈ dim groupBy → (join gone) → answered from a
  * summary table — neither table scanned (`fk_planner_chain`).
  *
  * EXACTNESS RULES (every decline keeps the exact plan):
  *  - the join condition is a single attr = attr equality, the dim key
  *    attribute IS the registered unique column, and the projection
  *    above references only fact-side output;
  *  - the dim side is a bare scan of the registered path through
  *    attr-only Projects and `IsNotNull(key)` Filters (the optimizer
  *    infers those from the equi-join, and a NULL dim key never
  *    matches anything, so dropping it is invisible) — any OTHER
  *    dim-side Filter removes rows that could match and declines;
  *  - INNER requires the verified FK on the fact key's ORIGIN: the
  *    attribute must trace by exprId to the registered fact path's
  *    scan output, so an alias or computed key never spoofs the claim.
  *    Fact-side Filters/Projects/inner joins only shrink the verified
  *    column's value set (a subset of an all-matching non-NULL column
  *    still all-matches), but an operator that can MANUFACTURE rows
  *    under the same exprId — a null-extending outer join, a Union
  *    (child values flow under the head child's exprIds), an Expand
  *    (grouping sets NULL out copies) — voids the claim and declines;
  *  - LEFT OUTER (dim on the right; RIGHT OUTER mirrored) requires
  *    only dim-key uniqueness — NULL or dangling fact keys are kept
  *    null-extended, and the nulls land in columns nobody reads;
  *  - verified claims are SNAPSHOTS of both paths' files
  *    ([[SourceSnapshots]]): a changed listing drops every claim on the
  *    path (droppedStale), a transient listing failure declines this
  *    plan but keeps the registration for retry after the interval.
  *
  * Registration is session-lived, like a temp view: every claim
  * records its registering session, and BOTH claim kinds are usable
  * only by that exact session (`cur eq spec.session`) — another
  * session on the same JVM sees declines, never a proof it did not
  * verify. The registries themselves are keyed by normalized path
  * with LAST-WRITER-WINS across sessions (the same shared-registry
  * discipline as [[AggRewrite]]/[[AnnIndexRewrite]]): a second
  * session re-registering a path replaces the first session's claim
  * (whose queries then decline to the exact plan — safe, never
  * wrong), and [[unregister]] drops claims on a path for every
  * session, matching the cache-drain semantics of the sibling
  * families.
  */
object ConstraintRewrite extends Rule[LogicalPlan] with PredicateHelper {

  /** A verified unique key: no duplicate non-NULL value in `keyCol` of
    * the parquet at `dimPath` (checked by [[registerUnique]]).
    * `noNulls` records whether the column was ALSO verified NULL-free —
    * distinct-elimination needs it (NULL keys may repeat under a
    * uniqueness claim, and DISTINCT would collapse them), while the
    * join eliminations and the COUNT(DISTINCT) fold do not (a NULL key
    * never matches a join and is ignored by COUNT).
    */
  final case class UniqueSpec(session: SparkSession, keyCol: String,
      noNulls: Boolean)

  /** A verified foreign key: every `factCol` value in the parquet at
    * `factPath` is non-NULL and present in `dimCol` of `dimPath`
    * (checked by [[registerForeignKey]]).
    */
  final case class FkSpec(session: SparkSession, factPath: String,
      factCol: String, dimPath: String, dimCol: String)

  private val uniques = TrieMap.empty[String, UniqueSpec] // normalized dim path
  private val fks = TrieMap.empty[(String, String), FkSpec] // (fact path, fact col)
  private val snapshots = new SourceSnapshots("constraint") // keyed by normalized path

  val fired = new java.util.concurrent.atomic.AtomicLong(0)
  val fallbacks = new java.util.concurrent.atomic.AtomicLong(0)
  val droppedStale: java.util.concurrent.atomic.AtomicLong = snapshots.droppedStale

  import SourceSnapshots.{normalize, pathOf}

  /** Verify `keyCol` unique (no duplicate non-NULL value) in the
    * parquet at `dimPath`, then register the claim. Refuses a column
    * the data disproves — a trusted-but-wrong uniqueness claim would
    * let the rule keep duplicated fact rows that the real join dedups.
    */
  def registerUnique(spark: SparkSession, dimPath: String, keyCol: String): Unit = {
    val dim = spark.read.parquet(dimPath)
    val r = dim.selectExpr("count(*) AS total", s"count($keyCol) AS n",
      s"count(DISTINCT $keyCol) AS nd").head()
    require(r.getLong(1) == r.getLong(2),
      s"registerUnique refused: $dimPath.$keyCol has ${r.getLong(1) - r.getLong(2)} " +
        "duplicate non-NULL values")
    val key = normalize(dimPath)
    uniques.put(key, UniqueSpec(spark, keyCol, noNulls = r.getLong(0) == r.getLong(1)))
    snapshots.take(key, Seq(dimPath), spark)
  }

  /** Verify the referential-integrity claim — zero NULL `factCol`
    * values and zero values absent from `dimCol` — then register it.
    * Requires the dim side's uniqueness to be registered first (inner
    * elimination needs both halves of the proof).
    */
  def registerForeignKey(spark: SparkSession, factPath: String, factCol: String,
      dimPath: String, dimCol: String): Unit = {
    val dimKey = normalize(dimPath)
    require(uniques.get(dimKey).exists(_.keyCol == dimCol),
      s"registerForeignKey requires registerUnique($dimPath, $dimCol) first")
    val fact = spark.read.parquet(factPath)
    val dim = spark.read.parquet(dimPath)
    val nulls = fact.where(fact.col(factCol).isNull).limit(1).count()
    require(nulls == 0, s"registerForeignKey refused: $factPath.$factCol has NULLs")
    val dangling = fact.join(dim, fact.col(factCol) === dim.col(dimCol), "left_anti")
      .limit(1).count()
    require(dangling == 0,
      s"registerForeignKey refused: $factPath.$factCol has values absent from $dimPath.$dimCol")
    val factKey = normalize(factPath)
    fks.put((factKey, factCol), FkSpec(spark, factKey, factCol, dimKey, dimCol))
    snapshots.take(factKey, Seq(factPath), spark)
  }

  def unregister(path: String): Unit = dropClaimsOn(normalize(path))

  def clear(): Unit = { uniques.clear(); fks.clear(); snapshots.clear() }

  /** No claim is registered. */
  private[graft] def isEmpty: Boolean = uniques.isEmpty && fks.isEmpty

  /** Clear plan-time staleness verdicts without touching registrations
    * — the [[PlannerPin]] retry-once hook, same as the sibling rules.
    */
  def resetPlanCaches(): Unit = snapshots.resetVerdicts()

  private def enabled: Boolean =
    SQLConf.get.getConfString("spark.graft.constraint.rewrite", "true").toBoolean

  /** Every claim involving the path is a snapshot of its listing:
    * unique claims ON it, FK claims FROM it (fact grew — a new row may
    * dangle) and FK claims INTO it (dim shrank — a fact key may now
    * dangle; the unique claim drop also voids these).
    */
  private def dropClaimsOn(key: String): Unit = {
    uniques.remove(key)
    fks.filterInPlace { case (_, spec) =>
      spec.factPath != key && spec.dimPath != key
    }
    snapshots.forget(key)
  }

  /** True when `root`'s claims must not be used for this plan — the
    * [[SourceSnapshots]] verdict, shared by both claim kinds: a
    * verified change drops every claim on the path.
    */
  private def isStale(session: SparkSession, root: Path): Boolean = {
    val key = root.toUri.getPath
    snapshots.stale(key, Seq(root.toString), session)(dropClaimsOn(key))
  }

  /** Unwrap the dim side to its leaf through attr-only Projects and
    * Filters, COLLECTING every filter conjunct on the way — the caller
    * decides (knowing the join key) whether each conjunct is the
    * invisible `IsNotNull(key)` the optimizer infers from the
    * equi-join, or a real predicate that declines the elimination.
    */
  private def stripDim(p: LogicalPlan, acc: List[Expression] = Nil)
      : (LogicalPlan, List[Expression]) = p match {
    case Project(cols, inner) if cols.forall(_.isInstanceOf[AttributeReference]) =>
      stripDim(inner, acc)
    case Filter(cond, inner) =>
      stripDim(inner, acc ++ splitConjunctivePredicates(cond))
    case other => (other, acc)
  }

  /** Origin scan of `attr` on the fact side, provided nothing between
    * the scan and the join can manufacture rows under the scan's
    * exprIds: a null-extending outer join (NULL fact keys would be
    * dropped by the real inner join but kept by the elimination), a
    * Union (values of every child flow out under the FIRST child's
    * exprIds — the other children's values carry no verified claim),
    * or an Expand (grouping-sets copies NULL out columns in place)
    * voids the FK proof. Filters, Projects, inner/semi/anti joins and
    * the rest only drop or rearrange verified rows: a subset of an
    * all-matching non-NULL column still all-matches.
    */
  private def fkOrigin(factSide: LogicalPlan, attr: AttributeReference)
      : Option[Path] = {
    val hazard = factSide.exists {
      case Join(_, _, jt, _, _) =>
        jt != Inner && jt != Cross && jt != LeftSemi && jt != LeftAnti
      case _: Union => true
      case _: Expand => true
      case _ => false
    }
    if (hazard) None
    else factSide.collectLeaves()
      .find(_.outputSet.contains(attr))
      .flatMap(pathOf)
  }

  /** The elimination: `proj` references only `factSide` output, `dim`
    * is a bare registered scan, and the claims prove row preservation
    * for this join type. Returns the replacement fact-side child.
    */
  private def tryEliminate(projRefs: AttributeSet, factSide: LogicalPlan,
      dimSide: LogicalPlan, dimOnRight: Boolean, joinType: org.apache.spark.sql.catalyst.plans.JoinType,
      cond: Expression, cur: Option[SparkSession]): Option[LogicalPlan] = {
    val (dimLeaf, dimFilters) = stripDim(dimSide)
    for {
      dimRoot <- pathOf(dimLeaf)
      dimPath = dimRoot.toUri.getPath
      uniq <- uniques.get(dimPath)
      if !uniq.session.sparkContext.isStopped || { dropClaimsOn(dimPath); false }
      if cur.exists(_ eq uniq.session) // session-lived, like a temp view
      // single-equality condition, keys plain attrs (a Cast on either
      // side means the types differ — the verified claim is typed)
      (a, b) <- cond match {
        case EqualTo(x: AttributeReference, y: AttributeReference) => Some((x, y))
        case _ => None
      }
      (factKey, dimKey) <-
        if (dimSide.outputSet.contains(b) && factSide.outputSet.contains(a)) Some((a, b))
        else if (dimSide.outputSet.contains(a) && factSide.outputSet.contains(b)) Some((b, a))
        else None
      if dimKey.name == uniq.keyCol
      // every dim-side filter must be the invisible IsNotNull(key) the
      // optimizer infers from the equi-join — anything else removes
      // dim rows that could match, changing which fact rows survive
      if dimFilters.forall {
        case IsNotNull(a: AttributeReference) => a.exprId == dimKey.exprId
        case _ => false
      }
      // no dim column may outlive the join
      if projRefs.subsetOf(factSide.outputSet)
      if !isStale(uniq.session, dimRoot)
      // which claims does this join type need? outer = uniqueness only;
      // inner = + the FK (nothing may be dropped); LEFT SEMI = the FK
      // alone would do (dim duplicates don't duplicate a semi join's
      // output), but FK registration implies uniqueness anyway — under
      // it, EXISTS(dim) is true for every fact row and the semi join
      // is the identity
      needsFk <- joinType match {
        case LeftOuter if dimOnRight => Some(false)
        case RightOuter if !dimOnRight => Some(false)
        case Inner | Cross => Some(true)
        case LeftSemi | LeftAnti if dimOnRight => Some(true)
        case _ => None
      }
      ok <- if (!needsFk) Some(true)
      else {
        // the fact key needs the verified FK on its origin column —
        // owned by THIS session (an FK verified by another session is
        // no proof here) and staleness-checked by ITS owner session
        fkOrigin(factSide, factKey).flatMap { factRoot =>
          fks.get((factRoot.toUri.getPath, factKey.name)) match {
            case Some(fk) if fk.dimPath == dimPath && fk.dimCol == uniq.keyCol &&
                cur.exists(_ eq fk.session) &&
                !isStale(fk.session, factRoot) => Some(true)
            case _ => None
          }
        }
      }
      if ok
    } yield {
      fired.incrementAndGet()
      logInfo(s"graft constraint rewrite: $joinType join to $dimPath eliminated — " +
        s"verified ${if (joinType == Inner) "FK + unique key" else "unique key"} " +
        "proves it row-preserving and no dim column is referenced")
      if (joinType == LeftAnti) {
        // NOT EXISTS against a verified FK is vacuously FALSE for
        // every fact row: the anti join is provably EMPTY — replace it
        // with an empty relation and let PropagateEmptyRelation
        // collapse whatever sits above (the orphan-check guard rail
        // every ETL layer runs costs nothing when the constraint holds)
        LocalRelation(factSide.output)
      } else if (needsFk) {
        // the optimizer inferred IsNotNull(factKey) from the dropped
        // equi-join; the verified FK proves the column NULL-free, so
        // the conjunct is a no-op — strip it to restore the pristine
        // fact subtree (and let a downstream rewrite like AggRewrite
        // see the bare scan it needs)
        factSide.transformUp {
          case Filter(c, child) =>
            val kept = splitConjunctivePredicates(c).filterNot {
              case IsNotNull(a: AttributeReference) => a.exprId == factKey.exprId
              case _ => false
            }
            if (kept.isEmpty) child else Filter(kept.reduce(And), child)
        }
      } else factSide
    }
  }

  // ---- SQL subquery shapes (EXISTS / IN) ---------------------------------

  /** Unwrap the dim SUBQUERY to its leaf through ANY Project (a
    * projection never changes row membership, which is all an
    * existence test observes) and Filters, collecting filter conjuncts
    * for the caller's IsNotNull(key)-only check.
    */
  private def stripSubquery(p: LogicalPlan, acc: List[Expression] = Nil)
      : (LogicalPlan, List[Expression]) = p match {
    case Project(_, inner) => stripSubquery(inner, acc)
    case Filter(cond, inner) =>
      stripSubquery(inner, acc ++ splitConjunctivePredicates(cond))
    case other => (other, acc)
  }

  private def deref(e: Expression): Expression = e match {
    case OuterReference(a) => a
    case other => other
  }

  /** Shared dim-claim check for the subquery shapes: `dimKey` must be
    * the registered unique key of the scanned path, every subquery
    * filter the invisible IsNotNull(key), claims fresh and owned.
    */
  private def dimClaimHolds(dimLeaf: LogicalPlan, dimFilters: Seq[Expression],
      dimKey: AttributeReference, cur: Option[SparkSession]): Option[String] =
    for {
      dimRoot <- pathOf(dimLeaf)
      dimPath = dimRoot.toUri.getPath
      uniq <- uniques.get(dimPath)
      if !uniq.session.sparkContext.isStopped || { dropClaimsOn(dimPath); false }
      if cur.exists(_ eq uniq.session)
      if dimKey.name == uniq.keyCol
      if dimFilters.forall {
        case IsNotNull(x: AttributeReference) => x.exprId == dimKey.exprId
        case _ => false
      }
      if !isStale(uniq.session, dimRoot)
    } yield dimPath

  /** The verified-FK check for the fact side of a subquery predicate:
    * `factKey` (a column of `factChild`'s rows) must trace by exprId to
    * a registered fact scan whose FK targets exactly (dimPath, dimKey),
    * with the same row-manufacturing hazard guard as the join shape.
    * The claim must be OWNED by the current session (`cur eq
    * fk.session`) — same contract as the uniqueness claim: a FK another
    * session verified is not a proof in this one.
    */
  private def fkHolds(factChild: LogicalPlan, factKey: AttributeReference,
      dimPath: String, dimCol: String, cur: Option[SparkSession]): Boolean =
    fkOrigin(factChild, factKey).exists { factRoot =>
      fks.get((factRoot.toUri.getPath, factKey.name)).exists(fk =>
        fk.dimPath == dimPath && fk.dimCol == dimCol &&
          cur.exists(_ eq fk.session) &&
          !isStale(fk.session, factRoot))
    }

  // ---- uniqueness-driven DISTINCT elimination / COUNT(DISTINCT) fold -----

  /** `attr` traces by exprId to a registered verified-unique scan
    * through a MULTIPLICITY-PRESERVING path: only operators that can
    * never give one source row two descendants — Filter, Project, Sort,
    * Limit — sit between the scan and `plan`'s root. A Join below can
    * replicate key values (many fact rows per dim key), a Union merges
    * other children's values under the head child's exprIds, Expand and
    * Generate manufacture copies — any of those voids "each `attr`
    * value appears on at most one row" and declines. When
    * `needNoNulls`, the claim must also have verified the column
    * NULL-free (NULLs may repeat under a uniqueness claim).
    */
  private def uniqueOrigin(plan: LogicalPlan, attr: AttributeReference,
      cur: Option[SparkSession], needNoNulls: Boolean): Boolean = {
    @annotation.tailrec
    def leafOf(p: LogicalPlan): Option[LogicalPlan] = p match {
      case Filter(_, c) => leafOf(c)
      case Project(_, c) => leafOf(c)
      case s: Sort => leafOf(s.child)
      case gl: GlobalLimit => leafOf(gl.child)
      case ll: LocalLimit => leafOf(ll.child)
      case l: LogicalRelation => Some(l)
      case _ => None
    }
    leafOf(plan).exists { leaf =>
      leaf.outputSet.contains(attr) && pathOf(leaf).exists { root =>
        val path = root.toUri.getPath
        uniques.get(path).exists { u =>
          u.keyCol == attr.name &&
            (!needNoNulls || u.noNulls) &&
            (!u.session.sparkContext.isStopped || { dropClaimsOn(path); false }) &&
            cur.exists(_ eq u.session) &&
            !isStale(u.session, root)
        }
      }
    }
  }

  /** DISTINCT / dropDuplicates over a verified unique + NULL-free key
    * is the IDENTITY: by our batch ReplaceDeduplicateWithAggregate has
    * lowered both to `Aggregate(keys, keys ++ First(other cols), child)`
    * (plain DISTINCT has no First entries), and when some grouping key
    * is unique-per-row every group holds exactly one row — the whole
    * hash/sort dedup SHUFFLE is deleted, leaving a Project that unwraps
    * the Firsts under their original exprIds. The PK-dedup guard rail
    * ("dedup by primary key before loading") is warehouse-ubiquitous
    * and at 100 TB is a full shuffle of the table for nothing when the
    * constraint holds.
    */
  private def tryDistinctElim(a: Aggregate, cur: Option[SparkSession])
      : Option[LogicalPlan] = {
    val groupAttrs = a.groupingExpressions.flatMap {
      case attr: AttributeReference => Some(attr)
      case _ => None
    }
    if (groupAttrs.size != a.groupingExpressions.size || groupAttrs.isEmpty) return None
    // every output is a grouping attr or a First over a child column
    val projList: Option[Seq[NamedExpression]] =
      a.aggregateExpressions.foldLeft(Option(Vector.empty[NamedExpression])) {
        case (Some(acc), attr: AttributeReference) if groupAttrs.contains(attr) =>
          Some(acc :+ attr)
        case (Some(acc), al @ Alias(AggregateExpression(
            org.apache.spark.sql.catalyst.expressions.aggregate.First(c, _),
            _, false, None, _), name)) if c.references.subsetOf(a.child.outputSet) =>
          Some(acc :+ Alias(c, name)(al.exprId, al.qualifier, al.explicitMetadata))
        case _ => None
      }
    for {
      proj <- projList
      if groupAttrs.exists(k => uniqueOrigin(a.child, k, cur, needNoNulls = true))
    } yield {
      fired.incrementAndGet()
      logInfo("graft constraint rewrite: DISTINCT over a verified unique " +
        "NULL-free key is the identity — dedup shuffle eliminated")
      Project(proj, a.child)
    }
  }

  /** `COUNT(DISTINCT k)` over a verified unique key is `COUNT(k)`:
    * COUNT ignores NULLs on both sides and the claim makes non-NULL
    * values pairwise distinct (globally, hence within any group). The
    * fold deletes the distinct-aggregate machinery — at scale the
    * per-group dedup pass over the fact table.
    */
  private def tryCountDistinctFold(a: Aggregate, cur: Option[SparkSession])
      : Option[Aggregate] = {
    var folded = 0
    val newAggs = a.aggregateExpressions.map(_.transform {
      case ae @ AggregateExpression(
          org.apache.spark.sql.catalyst.expressions.aggregate.Count(
            Seq(c: AttributeReference)), _, true, None, _)
          if uniqueOrigin(a.child, c, cur, needNoNulls = false) =>
        folded += 1
        ae.copy(isDistinct = false)
    }.asInstanceOf[NamedExpression])
    if (folded == 0) None
    else {
      fired.addAndGet(folded.toLong)
      logInfo(s"graft constraint rewrite: $folded COUNT(DISTINCT) over a verified " +
        "unique key folded to plain COUNT — distinct-aggregate machinery deleted")
      Some(a.copy(aggregateExpressions = newAggs))
    }
  }

  /** `EXISTS (dim WHERE dim.k = fact.fk)` — the pre-subquery-rewrite
    * form of the semi join ([[org.apache.spark.sql.catalyst.expressions.Exists]]
    * with the correlated predicate pulled up into joinCond) — is TRUE
    * for every fact row under the verified FK.
    */
  private def existsIsTrue(subPlan: LogicalPlan, joinCond: Seq[Expression],
      factChild: LogicalPlan, cur: Option[SparkSession]): Boolean = {
    val (dimLeaf, dimFilters) = stripSubquery(subPlan)
    val proven = for {
      cond <- joinCond match { case Seq(c) => Some(c); case _ => None }
      (a, b) <- cond match {
        case EqualTo(x, y) => (deref(x), deref(y)) match {
          case (xa: AttributeReference, ya: AttributeReference) => Some((xa, ya))
          case _ => None
        }
        case _ => None
      }
      (dimKey, factKey) <-
        if (dimLeaf.outputSet.contains(a)) Some((a, b))
        else if (dimLeaf.outputSet.contains(b)) Some((b, a))
        else None
      dimPath <- dimClaimHolds(dimLeaf, dimFilters, dimKey, cur)
      if fkHolds(factChild, factKey, dimPath, dimKey.name, cur)
    } yield true
    proven.getOrElse(false)
  }

  /** `fact.fk IN (SELECT dim.k FROM dim)` (uncorrelated, single-column
    * [[org.apache.spark.sql.catalyst.expressions.ListQuery]]) is TRUE
    * for every fact row under the verified FK: the fact key is
    * non-NULL and always finds a match, so the three-valued IN never
    * goes UNKNOWN. The subquery's output column must BE the scan's key
    * attribute (an aliased or computed output changes the value set).
    */
  private def inIsTrue(values: Seq[Expression], lq: ListQuery,
      factChild: LogicalPlan, cur: Option[SparkSession]): Boolean = {
    if (lq.joinCond.nonEmpty || lq.numCols != 1) return false
    values match {
      case Seq(v: AttributeReference) =>
        val (dimLeaf, dimFilters) = stripSubquery(lq.plan)
        val proven = for {
          key <- lq.plan.output.headOption.collect {
            case a: AttributeReference if dimLeaf.outputSet.contains(a) => a
          }
          dimPath <- dimClaimHolds(dimLeaf, dimFilters, key, cur)
          if fkHolds(factChild, v, dimPath, key.name, cur)
        } yield true
        proven.getOrElse(false)
      case _ => false
    }
  }

  /** Fold proven subquery predicates inside one Filter: EXISTS → TRUE
    * and IN → TRUE (so NOT EXISTS / NOT IN fold to FALSE through
    * BooleanSimplification, and PruneFilters turns the orphan check
    * into an empty relation) — the SQL-text twins of the semi/anti
    * join eliminations, which RewritePredicateSubquery would only
    * lower to joins AFTER the operator-optimization batch this rule
    * runs in.
    */
  private def foldSubqueries(f: Filter, cur: Option[SparkSession]): LogicalPlan = {
    var folded = 0
    val newCond = f.condition.transform {
      case ex: Exists if existsIsTrue(ex.plan, ex.joinCond, f.child, cur) =>
        folded += 1
        Literal.TrueLiteral
      case in @ InSubquery(vs, lq) if inIsTrue(vs, lq, f.child, cur) =>
        folded += 1
        Literal.TrueLiteral
    }
    if (folded == 0) f
    else {
      fired.addAndGet(folded.toLong)
      logInfo(s"graft constraint rewrite: $folded subquery predicate(s) proven " +
        "TRUE by the verified FK — EXISTS/IN folded (NOT variants fold to an " +
        "empty relation downstream)")
      Filter(newCond, f.child)
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    applyWith(plan, SparkSession.getActiveSession)

  def applyWith(plan: LogicalPlan, cur: Option[SparkSession]): LogicalPlan = {
    if (!enabled || uniques.isEmpty) return plan
    plan.transformDown {
      case f @ Filter(cond, _)
          if cond.exists(e => e.isInstanceOf[Exists] || e.isInstanceOf[InSubquery]) =>
        try foldSubqueries(f, cur)
        catch {
          case e: Exception =>
            logWarning(s"graft constraint rewrite failed; keeping the exact plan: ${e.getMessage}")
            f
        }
      case p @ Project(projList, Join(l, r, jt, Some(cond), _)) =>
        try {
          val refs = AttributeSet(projList.flatMap(_.references))
          eliminateUnder(refs, l, r, jt, cond, cur) match {
            case Some(factSide) => Project(projList, factSide)
            case None => p
          }
        } catch {
          case e: Exception =>
            logWarning(s"graft constraint rewrite failed; keeping the exact plan: ${e.getMessage}")
            p
        }
      // Aggregate shapes, tried in order:
      //  1. the bare `Aggregate(Join)` join elimination (r18 verdict #7:
      //     column pruning usually inserts a Project between the groupBy
      //     and the join, but a grouped query reading every fact column
      //     reaches the batch with the Aggregate DIRECTLY over the Join —
      //     the aggregate's own references play the Project role in the
      //     "no dim column outlives the join" proof);
      //  2. DISTINCT elimination over a verified unique NULL-free key;
      //  3. the COUNT(DISTINCT unique key) → COUNT fold.
      case a0: Aggregate =>
        try {
          val a = a0.child match {
            case Join(l, r, jt, Some(cond), _) =>
              val refs = AttributeSet(
                (a0.groupingExpressions ++ a0.aggregateExpressions).flatMap(_.references))
              eliminateUnder(refs, l, r, jt, cond, cur) match {
                case Some(factSide) =>
                  a0.withNewChildren(Seq(factSide)).asInstanceOf[Aggregate]
                case None => a0
              }
            case _ => a0
          }
          tryDistinctElim(a, cur)
            .orElse(tryCountDistinctFold(a, cur))
            .getOrElse(a)
        } catch {
          case e: Exception =>
            logWarning(s"graft constraint rewrite failed; keeping the exact plan: ${e.getMessage}")
            a0
        }
    }
  }

  /** Try the elimination with the dim on either side; on a decline
    * involving a registered dim, count the fallback (the planner's
    * diagnosability counter — Verify dumps it per run).
    */
  private def eliminateUnder(refs: AttributeSet, l: LogicalPlan, r: LogicalPlan,
      jt: org.apache.spark.sql.catalyst.plans.JoinType, cond: Expression,
      cur: Option[SparkSession]): Option[LogicalPlan] = {
    val replaced =
      tryEliminate(refs, l, r, dimOnRight = true, jt, cond, cur)
        .orElse(tryEliminate(refs, r, l, dimOnRight = false, jt, cond, cur))
    if (replaced.isEmpty) {
      // a registered dim was in play but the proof didn't close
      val dimRegistered = Seq(l, r).exists(s =>
        pathOf(stripDim(s)._1).exists(p => uniques.contains(p.toUri.getPath)))
      if (dimRegistered) fallbacks.incrementAndGet()
    }
    replaced
  }
}

/** Session-bound form for GraftExtensions injection — same rationale as
  * [[AnnIndexRewriteRule]].
  */
final class ConstraintRewriteRule(session: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    ConstraintRewrite.applyWith(plan, Option(session))
}
