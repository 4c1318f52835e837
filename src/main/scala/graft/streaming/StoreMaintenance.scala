package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.index.VectorStore

/** Streaming CDC application onto a [[VectorStore]] collection — the
  * streaming twin of the delete/upsert mutation path
  * (`vector_store_delete_upsert`): a change feed arrives as micro-
  * batches of (id, document, embedding, _op) rows and each batch is
  * applied through the store's own copy-on-write rewrites (`_op = 'D'`
  * deletes by id, `_op = 'U'` upserts), so every crash-safety property
  * of the batch path (backup/swap/restore — VectorStoreSpec) holds
  * per micro-batch.
  *
  * Retry semantics: a micro-batch is AT-LEAST-ONCE ([[StreamTwin]]). One
  * batch's delete+upsert is idempotent (re-deleting removes nothing, re-
  * upserting replaces with the same rows), so a same-batch retry is
  * safe. A retry interleaved AFTER a later batch is safe only when
  * batches touch disjoint ids or carry monotone versions — the
  * `_seq`/`max_by` last-write-wins discipline `operators.CdcMerge`
  * implements; this object pins the store-application plumbing, the
  * ordering discipline is CdcMerge's contract.
  */
object StoreMaintenance {

  val cdcSchema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("document", StringType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("_op", StringType)))

  /** Apply one CDC micro-batch: deletes first (a 'D' and a 'U' for the
    * same id in one batch means replace — the upsert must win), then
    * upserts. Empty arms skip their rewrite — a rewrite is a full
    * collection pass and a no-op batch should cost nothing.
    */
  def applyCdcBatch(store: VectorStore, name: String, batch: DataFrame): Unit = {
    // No outer materialization (r22): delete() and upsert() each
    // materialize their incoming frame themselves before the swap, so
    // the old localCheckpoints here double-checkpointed every batch —
    // two extra jobs per micro-batch; the isEmpty probes are one cheap
    // limit-1 scan of the batch's single source file each.
    val dels = batch.filter(col("_op") === "D").select(col("id"))
    if (!dels.isEmpty) store.delete(name, dels)
    val ups = batch.filter(col("_op") === "U")
      .select(col("id"), col("document"), col("embedding"))
    if (!ups.isEmpty) store.upsert(name, ups)
  }

  /** Stream CDC-shaped parquet files under `srcDir` into the named
    * collection via [[applyCdcBatch]] ([[StreamTwin.drain]]).
    */
  def streamCdcApply(
      spark: SparkSession,
      srcDir: String,
      store: VectorStore,
      name: String,
      checkpointDir: String): StreamingQuery =
    StreamTwin.drain(spark, srcDir, checkpointDir, cdcSchema) {
      (batch, _) => applyCdcBatch(store, name, batch)
    }
}
