package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental maintenance of a materialized rollup — the streaming
  * twin of the summary tables [[graft.plans.AggRewrite]] serves (the
  * same twin relationship IndexMaintenance has to the IVF build): facts
  * arrive in micro-batches, and the rollup must absorb them WITHOUT
  * re-scanning history.
  *
  * Shape: each micro-batch reduces to its own PARTIAL rollup — one row
  * per touched group carrying a RE-AGGREGABLE measure set — committed
  * as an overwrite of its `batch_id=N/` directory (the idempotent
  * at-least-once-to-exactly-once commit IndexMaintenance uses). Reading
  * the view re-aggregates the partials; the merge is associative and
  * commutative, so the result equals the bulk groupBy REGARDLESS of how
  * facts were split into batches (the `agg_stream_maintain` CORRECTNESS
  * row hash-matches the direct batch oracle). [[compactRollup]] folds
  * the batch history into one partial — the small-files answer,
  * equivalence by the same associativity.
  *
  * The measure algebra is a PARAMETER ([[Measures]]): `partial` is the
  * aggregation applied to raw fact rows at batch time, `merge` the
  * re-aggregation over partial columns. The merge must be associative,
  * commutative, and idempotent over its own output schema (SUM of
  * counts/sums, MIN of mins, MAX of maxes qualify; exact percentiles
  * would not) — that closure is what makes every read/compact/dim-join
  * below exact.
  *
  * At 100 TB: per-batch work is one batch-sized groupBy (no history
  * read, no state store — the partials ARE the state), the view read is
  * |groups|·|batches| rows shrinking to |groups| after compaction, and
  * the compacted table is exactly what AggRewrite registers.
  */
object AggMaintenance {

  /** The re-aggregable measure algebra: `partial` over raw fact rows,
    * `merge` over the partial columns (associative + commutative +
    * closed over its own output schema, so partials can be merged any
    * number of times in any grouping).
    */
  final case class Measures(partial: Seq[Column], merge: Seq[Column]) {
    require(partial.nonEmpty && merge.nonEmpty, "Measures must be non-empty")
  }

  private def agg(df: org.apache.spark.sql.RelationalGroupedDataset,
      cols: Seq[Column]): DataFrame = df.agg(cols.head, cols.tail: _*)

  /** Reduce one micro-batch to its partial rollup and commit it as a
    * full overwrite of `rollupDir/batch_id=<batchId>/`.
    */
  def appendBatch(
      batch: DataFrame,
      groupCols: Seq[String],
      measures: Measures,
      rollupDir: String,
      batchId: Long): Unit =
    agg(batch.groupBy(groupCols.map(col): _*), measures.partial)
      .write
      .mode("overwrite")
      .parquet(s"$rollupDir/batch_id=$batchId")

  /** The maintained view: re-aggregate the per-batch partials (the
    * associative merge — exact for a [[Measures]]-conforming algebra).
    */
  def readView(spark: SparkSession, rollupDir: String, groupCols: Seq[String],
      measures: Measures): DataFrame =
    agg(spark.read.parquet(rollupDir).groupBy(groupCols.map(col): _*),
      measures.merge)

  /** Fold the batch history into ONE partial (small-files compaction);
    * the compacted dir reads identically through [[readView]] because
    * the merge is closed over its own output schema.
    */
  def compactRollup(spark: SparkSession, rollupDir: String, outDir: String,
      groupCols: Seq[String], measures: Measures): Unit =
    readView(spark, rollupDir, groupCols, measures)
      .write.mode("overwrite").parquet(s"$outDir/batch_id=0")

  /** Hash-shatter key of the three Agg cycles: the whole fact row (the
    * maintained views are batching-invariant by contract).
    */
  private def allCols(facts: DataFrame): Seq[Column] = facts.columns.toSeq.map(col)

  /** The whole cycle on a batch table ([[StreamTwin.run]]): return the
    * final view.
    */
  def maintainFromBatch(
      spark: SparkSession,
      facts: DataFrame,
      groupCols: Seq[String],
      measures: Measures,
      nFiles: Int = 3): DataFrame =
    StreamTwin.run(spark, "graft_agg_maint", facts, nFiles, allCols(facts)) {
      (dir, batch, batchId) =>
        appendBatch(batch, groupCols, measures, s"$dir/rollup", batchId)
    } { dir => readView(spark, s"$dir/rollup", groupCols, measures) }

  // ---- join-view maintenance (the AGGREGATE JOIN VIEW's stream twin) ----

  /** Incremental maintenance of an AGGREGATE JOIN VIEW — the streaming
    * twin of [[graft.plans.AggRewrite.registerJoin]]'s star-schema
    * rollup: FACT rows arrive in micro-batches, the DIMENSION is a
    * static broadcastable table, and the maintained view must equal
    * the bulk `facts ⋈ dim groupBy` at every point.
    *
    * Why this decomposes exactly: an inner equi-join distributes over
    * row-disjoint unions of the fact side —
    * `(⋃ batches) ⋈ dim = ⋃ (batch ⋈ dim)` — so each micro-batch joins
    * ONLY ITS OWN rows against the dim (a broadcast hash join, no
    * shuffle of history) and reduces to a partial rollup; the view
    * re-aggregates the partials with the same associative merge the
    * single-table twin uses. Per-batch work is O(batch) regardless of
    * history size — at 100 TB the alternative is re-joining the whole
    * fact table every refresh, which is exactly what warehouse
    * incremental-view-maintenance exists to avoid.
    */
  def appendJoinBatch(
      batch: DataFrame,
      dim: DataFrame,
      joinCond: Column,
      groupCols: Seq[String],
      measures: Measures,
      rollupDir: String,
      batchId: Long): Unit =
    agg(batch.join(broadcast(dim), joinCond).groupBy(groupCols.map(col): _*),
      measures.partial)
      .write
      .mode("overwrite")
      .parquet(s"$rollupDir/batch_id=$batchId")

  /** Re-aggregate the per-batch join partials (associative merge). */
  def readJoinView(spark: SparkSession, rollupDir: String,
      groupCols: Seq[String], measures: Measures): DataFrame =
    readView(spark, rollupDir, groupCols, measures)

  /** The whole join-view cycle on batch tables ([[StreamTwin.run]])
    * against the static dim, materialized once for every batch's join
    * and released once the view is materialized: return the final view.
    */
  def maintainJoinFromBatch(
      spark: SparkSession,
      facts: DataFrame,
      dim: DataFrame,
      joinCond: Column,
      groupCols: Seq[String],
      measures: Measures,
      nFiles: Int = 3): DataFrame = {
    val dimStatic = graft.operators.Materialize.materializeOnly(dim)
    // released explicitly: Dataset.unpersist is a CacheManager no-op for
    // checkpoint frames — the LogicalRDD-level release frees the blocks
    try StreamTwin.run(spark, "graft_aggjoin_maint", facts, nFiles, allCols(facts)) {
      (dir, batch, batchId) => appendJoinBatch(batch, dimStatic, joinCond, groupCols,
        measures, s"$dir/rollup", batchId)
    } { dir => readJoinView(spark, s"$dir/rollup", groupCols, measures) }
    finally graft.operators.Materialize.releaseOne(dimStatic)
  }

  // ---- join-view maintenance under DIM UPDATES (SCD refresh) ------------

  /** Join-view IVM that survives DIMENSION UPDATES (r18 verdict #6):
    * real star schemas get SCD-1 dim rewrites (a customer changes
    * segment, an order is re-prioritized), and a view whose partials
    * baked the OLD dim attributes in would silently serve them forever.
    *
    * The fix is WHERE the join happens: fact partials are keyed by the
    * JOIN KEY plus the fact-side group columns and never touch the dim
    * at ingestion time ([[appendKeyedBatch]] — same O(batch) per-batch
    * cost as [[appendJoinBatch]], minus the join). The dim join moves
    * to the READ/refresh side over |keyed partial groups| rows — at
    * 100 TB that is |distinct join keys × fact groups|, orders of
    * magnitude under the fact table, and broadcast-joinable against
    * any dimension.
    *
    * A dim update then refreshes the MATERIALIZED view by recomputing
    * ONLY the touched groups ([[refreshViewForDimUpdate]]): the
    * old-vs-new dim diff names the changed keys, the changed keys name
    * the dim-attribute groups they contributed to under EITHER version,
    * untouched view rows are carried over verbatim, and the touched
    * ones are re-derived from the keyed partials joined to the NEW dim.
    * Per-refresh cost is O(dim diff + touched partial groups) — the
    * fact table is never re-scanned, and the partials never rewritten.
    */
  def appendKeyedBatch(
      batch: DataFrame,
      factKey: String,
      factGroupCols: Seq[String],
      measures: Measures,
      rollupDir: String,
      batchId: Long): Unit =
    agg(batch.groupBy((factKey +: factGroupCols).map(col): _*), measures.partial)
      .write
      .mode("overwrite")
      .parquet(s"$rollupDir/batch_id=$batchId")

  /** Merge the keyed per-batch partials: one row per
    * (join key, fact group) — the dim-independent state of the view.
    */
  def readKeyedPartials(spark: SparkSession, rollupDir: String,
      factKey: String, factGroupCols: Seq[String], measures: Measures): DataFrame =
    agg(spark.read.parquet(rollupDir)
      .groupBy((factKey +: factGroupCols).map(col): _*), measures.merge)

  /** The full view over a dim version: keyed partials ⋈ broadcast(dim)
    * re-grouped by (dim attrs, fact groups). Exact because the merge is
    * closed over its own output schema and the dim key is unique (each
    * partial row matches exactly one dim row).
    */
  def viewOverDim(
      partials: DataFrame,
      dim: DataFrame,
      factKey: String,
      dimKey: String,
      dimGroupCols: Seq[String],
      factGroupCols: Seq[String],
      measures: Measures): DataFrame =
    agg(partials.join(broadcast(dim), partials(factKey) === dim(dimKey))
      .groupBy((dimGroupCols ++ factGroupCols).map(col): _*), measures.merge)

  /** Refresh a MATERIALIZED view for a dim update, touching only the
    * groups the update can have changed: rows of `view` whose dim
    * attributes no changed key contributed to (under either dim
    * version) are carried verbatim; the touched attribute groups are
    * recomputed from the keyed partials against the NEW dim. The fact
    * table is never read.
    */
  def refreshViewForDimUpdate(
      view: DataFrame,
      partials: DataFrame,
      oldDim: DataFrame,
      newDim: DataFrame,
      factKey: String,
      dimKey: String,
      dimGroupCols: Seq[String],
      factGroupCols: Seq[String],
      measures: Measures): DataFrame = {
    val attrs = dimGroupCols.map(col)
    // the SCD diff in ONE pass (r21, guide §3): the dim key is unique
    // per version (viewOverDim's stated precondition), so a single
    // full-outer self-join on the key classifies every row — changed =
    // key present on exactly one side, or present on both with any
    // attribute differing (null-safe compares throughout). The old
    // shape ran TWO exceptAll multiset aggregations, each a full
    // shuffle+count over both dim versions; this is one key-partitioned
    // join, and only the |diff| surviving rows materialize.
    val dimCols = oldDim.columns.toSeq
    // presence markers (not key-null tests): a NULL dim key is still a
    // real row of its version, and after the outer join the marker is
    // null exactly when that side is absent
    val oSide = oldDim.toDF(dimCols.map("__o_" + _): _*)
      .withColumn("__o_present", lit(true))
    val nSide = newDim.toDF(dimCols.map("__n_" + _): _*)
      .withColumn("__n_present", lit(true))
    val differs = dimCols
      .map(c => !(col("__o_" + c) <=> col("__n_" + c))).reduce(_ || _)
    val changed = oSide
      .join(nSide, col("__o_" + dimKey) <=> col("__n_" + dimKey), "full_outer")
      .filter(differs)
    def changedSide(prefix: String): DataFrame =
      changed.filter(col(prefix + "present").isNotNull)
        .select(dimCols.map(c => col(prefix + c).as(c)): _*)
    val changedOld = changedSide("__o_")
    val changedNew = changedSide("__n_")
    // every dim-attribute group a changed key contributed to, under
    // either version — the view rows outside this set are untouchable.
    // Membership checks use NULL-SAFE equality: a NULL dim attribute is
    // a legitimate GROUP BY group, and a plain equi-join would silently
    // classify its rows as untouched (anti) / never recompute them
    // (semi).
    val touchedAttrs = broadcast(
      changedOld.select(attrs: _*)
        .unionByName(changedNew.select(attrs: _*)).distinct()
        // fresh attribute ids: the union's output would otherwise carry
        // oldDim's exprIds, colliding with a view computed over the
        // same dim lineage
        .toDF(dimGroupCols.map("__touched_" + _): _*))
    def touchedCond(left: DataFrame) =
      dimGroupCols.map(c => left(c) <=> touchedAttrs("__touched_" + c))
        .reduce(_ && _)
    val kept = view.join(touchedAttrs, touchedCond(view), "left_anti")
    // recompute the touched groups: ALL new-dim keys in a touched
    // attribute group participate (unchanged keys sharing the group
    // still contribute their partials)
    val touchedDim = newDim.join(touchedAttrs, touchedCond(newDim), "left_semi")
    val recomputed = viewOverDim(partials, touchedDim, factKey, dimKey,
      dimGroupCols, factGroupCols, measures)
    kept.unionByName(recomputed)
  }

  /** The whole dim-update cycle on batch tables ([[StreamTwin.run]]):
    * stream the facts into KEYED partials (dim untouched), derive the
    * view over `dimV1`, apply the `dimV1 → dimV2` update by touched-group
    * refresh, and return the refreshed view — which must hash-match
    * the bulk `facts ⋈ dimV2 groupBy` (the `agg_stream_join_dim_update`
    * oracle).
    */
  def maintainJoinWithDimUpdate(
      spark: SparkSession,
      facts: DataFrame,
      dimV1: DataFrame,
      dimV2: DataFrame,
      factKey: String,
      dimKey: String,
      dimGroupCols: Seq[String],
      factGroupCols: Seq[String],
      measures: Measures,
      nFiles: Int = 3): DataFrame =
    StreamTwin.run(spark, "graft_aggdim_maint", facts, nFiles, allCols(facts)) {
      (dir, batch, batchId) => appendKeyedBatch(batch, factKey, factGroupCols, measures,
        s"$dir/rollup", batchId)
    } { dir =>
      val partials =
        readKeyedPartials(spark, s"$dir/rollup", factKey, factGroupCols, measures)
      // v1 is consumed exactly once (the refresh's carried-rows
      // anti-join), so it inlines into the refresh plan unmaterialized
      val v1 = viewOverDim(partials, dimV1, factKey, dimKey, dimGroupCols,
        factGroupCols, measures)
      refreshViewForDimUpdate(v1, partials, dimV1, dimV2, factKey,
        dimKey, dimGroupCols, factGroupCols, measures)
    }
}
