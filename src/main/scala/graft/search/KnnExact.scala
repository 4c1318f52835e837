package graft.search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Inline, Literal}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanOps
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, IntegerType, StructField, StructType}

import graft.functions.VectorFunctions._
import graft.plans.AnnIndexRewrite

/** Exact k-nearest-neighbor search — the reference's brute-force oracle
  * (`brute_force_search`, chromadb_acc_experiment.py:508-537): L2 distance
  * from the query to every collection row, take top-k.
  *
  * Spark-first shape (SURVEY.md §2.3 J1): every (query, row) pair is
  * scored by a codegen'd column expression in one pass over the
  * collection — the big side is never shuffled — and the per-query top-k
  * takes one of two plans:
  *
  *  - **Driver path** (the usual case): the query side, at most
  *    [[MaxDriverQueries]] rows, is collected and joined to the collection
  *    as an exploded literal, and [[TopK.topKOnDriver]] keeps a bounded
  *    heap per query in each task and merges the heaps on the driver. One
  *    job, no broadcast, no shuffle; the answer is a local frame, computed
  *    when this is called.
  *  - **Window path**: the query side is broadcast and cross-joined
  *    (BroadcastNestedLoopJoin), and top-k per query is a `row_number`
  *    window. Spark ≥3.5 pushes the `row_number <= k` filter into the
  *    window exchange (WindowGroupLimit), so only ~k rows per input
  *    partition are shuffled: O(k · partitions), not O(N). This is the
  *    plan `AnnIndexRewrite`'s batch rewrite matches, so it is kept
  *    whenever that rewrite's gate is open ([[AnnIndexRewrite.batchGateOpen]]),
  *    for a query side over the row bound, and for streaming frames.
  *
  * Both plans score with the same expressions and rank by Spark SQL's
  * ascending (score, id) order, so they answer with the same rows, schema
  * and score bits.
  *
  * For a single query vector, `ORDER BY dist LIMIT k` plans as
  * TakeOrderedAndProject (per-partition heap + driver merge, no shuffle).
  */
object KnnExact {

  /** Most query rows the driver path collects and ranks; a larger query
    * side keeps the window plan.
    */
  private[graft] val MaxDriverQueries = 1024

  /** Batch form: one row per (query, neighbor), `rk` 1..k per query.
    *
    * @param queries    small DataFrame of (qidCol, qEmbCol).
    * @param collection large DataFrame of (idCol, embCol).
    * @param scoreAsc   ascending scoring column builder, e.g. L2 distance
    *                   (ascending = nearer first).
    */
  def topKBy(
      queries: DataFrame,
      collection: DataFrame,
      k: Int,
      qidCol: String,
      idCol: String,
      scoreAsc: (Column, Column) => Column,
      qEmbCol: String = "qemb",
      embCol: String = "embedding",
      scoreName: String = "dist",
      pairFilter: Column = lit(true)): DataFrame = {
    val spark = collection.sparkSession
    graft.functions.VectorExpressions.ensureRegistered(spark)
    def scored(pairs: DataFrame): DataFrame =
      pairs.filter(pairFilter).withColumn(scoreName, scoreAsc(col(qEmbCol), col(embCol)))
    driverQueries(queries, collection, qEmbCol) match {
      case Some(qrows) =>
        // the query rows as a literal whose fields keep their column names,
        // so `pairFilter` and `scoreAsc` resolve as over the cross join
        val qs = Literal(new GenericArrayData(qrows.toArray[Any]),
          ArrayType(queries.schema, containsNull = false))
        val ranked = scored(collection.select(PlanOps.column(Inline(qs)), col("*")))
          .select(col(qidCol), col(idCol), col(scoreName))
        val s = ranked.schema
        TopK.frameOf(spark,
          StructType(Seq(s(0), s(1), StructField("rk", IntegerType, nullable = false), s(2))),
          TopK.topKOnDriver(ranked.queryExecution.toRdd, s, k))
      case None =>
        // Deterministic tie-break on id: numpy argsort in the reference is
        // stable; Spark sort is not — (score, id) ordering keeps both engines
        // and the DuckDB oracle in agreement (SURVEY.md §7.4).
        val w = Window.partitionBy(col(qidCol)).orderBy(col(scoreName).asc, col(idCol).asc)
        scored(broadcast(queries).crossJoin(collection))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= k)
          .select(col(qidCol), col(idCol), col("rk"), col(scoreName))
    }
  }

  /** The query rows, when the driver path may rank them: the batch
    * rewrite's gate is shut for every leaf of both sides, neither side
    * streams, and the query side has at most [[MaxDriverQueries]] rows
    * (a local query side collects without a job).
    */
  private def driverQueries(queries: DataFrame, collection: DataFrame,
      qEmbCol: String): Option[Array[InternalRow]] = {
    val qemb = queries.schema.find(f => SQLConf.get.resolver(f.name, qEmbCol))
    val leaves = Seq(queries, collection).flatMap(_.queryExecution.analyzed.collectLeaves())
    if (queries.isStreaming || collection.isStreaming ||
        qemb.forall(f => leaves.exists(AnnIndexRewrite.batchGateOpen(f.metadata, _)))) None
    else Some(queries.limit(MaxDriverQueries + 1).queryExecution.executedPlan.executeCollect())
      .filter(_.length <= MaxDriverQueries)
  }

  /** L2 top-k (the reference's metric). */
  def topK(
      queries: DataFrame,
      collection: DataFrame,
      k: Int,
      qidCol: String = "qid",
      idCol: String = "vec_id"): DataFrame =
    topKBy(queries, collection, k, qidCol, idCol, (q, c) => l2Fast(q, c))

  /** Cosine-similarity top-k (descending similarity ≡ ascending negated). */
  def topKCosine(
      queries: DataFrame,
      collection: DataFrame,
      k: Int,
      qidCol: String = "qid",
      idCol: String = "vec_id"): DataFrame =
    topKBy(queries, collection, k, qidCol, idCol, (q, c) => -cosineFast(q, c), scoreName = "negsim")
      .withColumn("sim", -col("negsim"))
      .drop("negsim")

  /** Max-inner-product top-k (dot product DESCENDING) — the retrieval
    * mode of two-tower / dual-encoder models, where score = q·x is not a
    * metric (no triangle inequality, not symmetric in scale), so metric
    * indexes cannot serve it directly; `ann_mips_top10` demonstrates the
    * Shrivastava & Li (NeurIPS 2014) augmented-L2 reduction that makes
    * any L2 index (IVF/HNSW/PQ) answer MIPS queries exactly.
    */
  def topKDot(
      queries: DataFrame,
      collection: DataFrame,
      k: Int,
      qidCol: String = "qid",
      idCol: String = "vec_id"): DataFrame =
    topKBy(queries, collection, k, qidCol, idCol,
      (q, c) => -graft.functions.VectorExpressions.dot(q, c), scoreName = "negip")
      .withColumn("ip", -col("negip"))
      .drop("negip")

  /** Cosine top-k restricted by a per-pair predicate over (query cols ×
    * collection cols) — e.g. hard-negative mining, where the candidate
    * must NOT share the query's class. The predicate runs between the
    * (query, row) expansion and the ranking, so excluded pairs never
    * reach the top-k heaps.
    */
  def topKCosineWhere(
      queries: DataFrame,
      collection: DataFrame,
      k: Int,
      pairFilter: Column,
      qidCol: String = "qid",
      idCol: String = "vec_id"): DataFrame =
    topKBy(queries, collection, k, qidCol, idCol, (q, c) => -cosineFast(q, c),
      scoreName = "negsim", pairFilter = pairFilter)
      .withColumn("sim", -col("negsim"))
      .drop("negsim")

  /** Radius (range) search: every (query, neighbor) pair within `radius`
    * L2 distance — threshold retrieval rather than top-k. No window and
    * no ordering shuffle at all: broadcast nested-loop + a codegen'd
    * distance filter, so it parallelizes perfectly over collection
    * partitions and output size is data-driven.
    */
  def rangeSearch(
      queries: DataFrame,
      collection: DataFrame,
      radius: Double,
      qidCol: String = "qid",
      idCol: String = "vec_id",
      qEmbCol: String = "qemb",
      embCol: String = "embedding"): DataFrame = {
    graft.functions.VectorExpressions.ensureRegistered(collection.sparkSession)
    broadcast(queries)
      .crossJoin(collection)
      .withColumn("dist", l2Fast(col(qEmbCol), col(embCol)))
      .filter(col("dist") <= radius)
      .select(col(qidCol), col(idCol), col("dist"))
  }

  /** Single-query form: no window, no shuffle — TakeOrderedAndProject. */
  def topKSingle(
      collection: DataFrame,
      queryVec: Seq[Float],
      k: Int,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    graft.functions.VectorExpressions.ensureRegistered(collection.sparkSession)
    val q = lit(queryVec.toArray)
    collection
      .withColumn("dist", l2Fast(q, col(embCol)))
      .select(col(idCol), col("dist"))
      .orderBy(col("dist").asc, col(idCol).asc)
      .limit(k)
  }
}
