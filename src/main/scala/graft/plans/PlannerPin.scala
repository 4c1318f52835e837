package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** The `rewrite_fired` pin as a PLAN PROPERTY (r17 verdict #1/#3).
  *
  * == r17 post-mortem (updated r20) ==
  * The r17 `ann_planner_cosine` red row that motivated this object is
  * now best explained by a SIGNED-ZERO representation defect, not a
  * decline flake: the r19 driver's planner counters (`ann_fired=4`,
  * `droppedStale=0`, `failures={}`) prove the rewrite DID fire while
  * that same row hash-mismatched — DuckDB's `round(-2e-17, 4)` keeps
  * the sign bit (−0.0) where Spark's BigDecimal round lands on +0.0
  * (fixed r20: the oracle normalizes with `round(x,n) + 0.0`; see the
  * docs/STATE.md signed-zero audit). The structural pin below is kept
  * because it is genuinely better than the counter delta it replaced
  * (reasons next paragraph), and PlannerPinSpec's cold-cache case pins
  * that a registered index fires on the FIRST plan — the decline-flake
  * theory is retired, not just unexercised.
  *
  * The planner queries pin "the accelerated plan produced these rows"
  * into their oracle hash. Until r17 the pin sampled a global fire
  * counter around an `optimizedPlan` call — fragile twice over: the
  * final projection re-optimizes and fires the rule AGAIN (the counter
  * delta measures a plan event, not THE plan), and any
  * environment-sensitive decline (a transient source-listing failure
  * poisons a whole staleness interval; any probe exception declines
  * with only a logWarning) flips the pin while the rows stay exact.
  *
  * This object replaces the counter delta with a structural check of
  * the optimized plan itself, plus a retry-once protocol:
  *
  *  1. build the query, inspect ITS OWN optimized plan for the splice;
  *  2. on a miss, clear the planner's plan-time memoization
  *     ([[AnnIndexRewrite.resetPlanCaches]] /
  *     [[AggRewrite.resetPlanCaches]] — registrations untouched) and
  *     re-plan a fresh build ONCE — a transient decline heals, a real
  *     decline (no registration, non-re-aggregable shape) stays false;
  *  3. the caller executes the INSPECTED dataset eagerly
  *     (`localCheckpoint(true)` runs the same QueryExecution), so the
  *     pin is causally tied to the rows it is hashed with — not to a
  *     later re-plan that may decide differently.
  *
  * The splice markers are the rewrites' own structural idempotence
  * markers, so they cannot drift from what the rules emit:
  * [[AnnIndexRewrite]] splices a literal candidate-id IN/INSET conjunct
  * in every shape (single-query, filtered, batch); [[AggRewrite]]
  * replaces the fact scan, so
  * its marker is the ABSENCE of every fact path among the plan's scan
  * leaves.
  */
object PlannerPin {

  /** True when some Filter carries a literal id-IN/INSET conjunct on
    * `idCol` — the ANN probe splice (the same marker AnnIndexRewrite's
    * own idempotence guard recognizes; OptimizeIn may have converted the
    * spliced In to InSet inside the shared fixed-point batch, so both
    * shapes count).
    */
  def hasCandidateIn(plan: LogicalPlan, idCol: String): Boolean =
    plan.exists {
      case Filter(cond, _) => cond.exists {
        case In(a: AttributeReference, vs)
            if a.name == idCol && vs.nonEmpty &&
              vs.forall(_.isInstanceOf[Literal]) => true
        case InSet(a: AttributeReference, _) if a.name == idCol => true
        case _ => false
      }
      case _ => false
    }

  /** Any ANN probe splice on `idCol`: [[hasCandidateIn]], curried for
    * [[pinned]].
    */
  def annSpliced(idCol: String)(plan: LogicalPlan): Boolean =
    hasCandidateIn(plan, idCol)

  /** True when the plan still scans `path` (V1 parquet leaf). */
  def scansPath(plan: LogicalPlan, path: String): Boolean = {
    val norm = new org.apache.hadoop.fs.Path(path).toUri.getPath
    plan.collectLeaves().exists {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation =>
          h.location.rootPaths.exists(_.toUri.getPath == norm)
        case _ => false
      }
      case _ => false
    }
  }

  /** Agg-MV pin: fired == the rewrite replaced every fact scan, so none
    * of `factPaths` appears among the plan's scan leaves.
    */
  def aggSpliced(factPaths: Seq[String])(plan: LogicalPlan): Boolean =
    factPaths.forall(p => !scansPath(plan, p))

  /** PK-distinct pin: the dedup Aggregate was eliminated, so exactly
    * one Aggregate (the query's own groupBy) remains in the plan — the
    * dropDuplicates shuffle is gone.
    */
  def singleAggregate(plan: LogicalPlan): Boolean =
    plan.collect { case a: Aggregate => a }.size == 1

  /** COUNT(DISTINCT) pin: no aggregate expression in the plan still
    * carries isDistinct — the fold replaced them all with plain COUNT.
    */
  def noDistinctAggregate(plan: LogicalPlan): Boolean =
    !plan.exists {
      case a: Aggregate => a.aggregateExpressions.exists(_.exists {
        case ae: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression =>
          ae.isDistinct
        case _ => false
      })
      case _ => false
    }

  /** build → inspect → retry-once-on-miss. Returns the DataFrame whose
    * OWN QueryExecution was inspected — the caller must execute THAT
    * dataset (e.g. `localCheckpoint(true)`) so the pin stays causally
    * tied to the rows — plus the pin value.
    */
  def pinned(build: () => DataFrame, fired: LogicalPlan => Boolean,
      invalidate: () => Unit): (DataFrame, Boolean) = {
    val df1 = build()
    if (fired(df1.queryExecution.optimizedPlan)) (df1, true)
    else {
      invalidate()
      val df2 = build()
      (df2, fired(df2.queryExecution.optimizedPlan))
    }
  }
}
