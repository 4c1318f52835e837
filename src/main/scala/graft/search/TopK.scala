package graft.search

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, GenericInternalRow, InterpretedOrdering, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.graft.PlanOps
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType, StructField, StructType}

/** The per-query bounded top-k every driver-merged search ends with —
  * exact kNN ([[KnnExact]]) and every HNSW search ([[Hnsw]]) — in place of
  * a `row_number` window over (score, id). The shape of `RDD.takeOrdered`,
  * but per query: each task keeps at most k of its candidates per qid in a
  * bounded heap, and the driver merges the tasks' heaps as they finish.
  * One job, no shuffle; the driver holds O(|Q| · k) rows plus one task's
  * result, never all candidates — the distributed top-k of REPOSE (ICDE
  * 2021): a bounded local top-k per partition, then one small global merge.
  */
object TopK {

  /** One row of a search answer: query, vector id, 1-based rank, L2². */
  final case class Hit(qid: Long, id: Long, rk: Int, dist: Double)

  /** Per query, the k least `candidates` — rows (qid, id, score) of
    * `schema`, any orderable id and score types — in Spark SQL's ascending
    * order on (score, id): nulls first, -0.0 equal to 0.0, NaN last, ties
    * broken by id. That is the order a `row_number` window over
    * `ORDER BY score, id` ranks by, so the answer is that window's rows:
    * (qid, id, rk, score), ordered by (qid, rk). An RDD with no partitions
    * ranks to no rows.
    */
  def topKOnDriver(candidates: RDD[InternalRow], schema: StructType, k: Int): Array[InternalRow] = {
    if (k <= 0) return Array.empty
    val Seq(qidType, idType, scoreType) = schema.fields.toSeq.map(_.dataType)
    // Spark's own comparators, as TakeOrderedAndProjectExec ranks with them
    val byScoreThenId = new InterpretedOrdering(Seq(
      SortOrder(BoundReference(2, scoreType, nullable = true), Ascending),
      SortOrder(BoundReference(1, idType, nullable = true), Ascending)))
    val merged = new Heaps(k, qidType, byScoreThenId)
    candidates.sparkContext.runJob(candidates, (it: Iterator[InternalRow]) => {
      val local = new Heaps(k, qidType, byScoreThenId)
      it.foreach(local.offer)
      local.kept
    }, (_: Int, kept: Array[InternalRow]) => kept.foreach(merged.offer))
    val byQidThenRk = new InterpretedOrdering(Seq(
      SortOrder(BoundReference(0, qidType, nullable = true), Ascending),
      SortOrder(BoundReference(2, IntegerType, nullable = false), Ascending)))
    merged.ranked(idType, scoreType).sorted(byQidThenRk)
  }

  private val hitCandidates = StructType(Seq(
    StructField("qid", LongType), StructField("id", LongType), StructField("dist", DoubleType)))

  /** [[topKOnDriver]] over (qid, id, L2²) candidates, answered as hits. */
  def topKOnDriver(candidates: RDD[(Long, Long, Double)], k: Int): Array[Hit] =
    topKOnDriver(candidates.map { case (qid, id, d) => InternalRow(qid, id, d) }, hitCandidates, k)
      .map(r => Hit(r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))

  /** Rows of `schema` as a local frame: the answer is computed, so the
    * frame reads no source again.
    */
  def frameOf(spark: SparkSession, schema: StructType, rows: Array[InternalRow]): DataFrame =
    PlanOps.ofRows(spark, LocalRelation(DataTypeUtils.toAttributes(schema), rows.toSeq))

  /** Hits as the search frame every HNSW caller gets: (qid, id, rk, dist),
    * all non-null — the schema of a row_number top-k over the candidates.
    */
  def frameOf(spark: SparkSession, hits: Array[Hit], qidCol: String, idCol: String): DataFrame =
    frameOf(spark, StructType(Seq(
      StructField(qidCol, LongType, nullable = false),
      StructField(idCol, LongType, nullable = false),
      StructField("rk", IntegerType, nullable = false),
      StructField("dist", DoubleType, nullable = false))),
      hits.map(h => InternalRow(h.qid, h.id, h.rk, h.dist)))

  /** A bounded max-heap per qid: the head is the worst row kept so far.
    * Rows are copied when kept, as scans reuse their row buffers.
    */
  private final class Heaps(k: Int, qidType: DataType, ord: Ordering[InternalRow]) {
    private val byQid = new java.util.HashMap[Any, mutable.PriorityQueue[InternalRow]]()

    def offer(row: InternalRow): Unit = {
      val h = byQid.get(row.get(0, qidType))
      if (h == null) {
        val kept = row.copy()
        byQid.put(kept.get(0, qidType), mutable.PriorityQueue(kept)(ord))
      } else if (h.size < k) h.enqueue(row.copy())
      else if (ord.lt(row, h.head)) { h.dequeue(); h.enqueue(row.copy()) }
    }

    def kept: Array[InternalRow] = byQid.values.asScala.iterator.flatten.toArray

    def ranked(idType: DataType, scoreType: DataType): Array[InternalRow] =
      byQid.values.asScala.iterator.flatMap { h =>
        h.toArray.sorted(ord).iterator.zipWithIndex.map { case (r, i) =>
          new GenericInternalRow(Array[Any](
            r.get(0, qidType), r.get(1, idType), i + 1, r.get(2, scoreType)))
        }
      }.toArray
  }
}
