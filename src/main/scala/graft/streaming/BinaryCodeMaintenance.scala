package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.search.BinaryHash

/** Incremental binary-code maintenance — the streaming twin of
  * [[graft.search.BinaryHash]] (the same twin relationship
  * IndexMaintenance has to IvfIndex.assign). The thresholds are FROZEN
  * (computed once on the base corpus — the production posture
  * BinaryHash's Scaladoc documents: codes and search replay identically
  * from any frozen threshold vector), broadcast into every micro-batch
  * as literals, and each arriving batch of vectors is coded and
  * committed as an overwrite of its own `batch_id=N/` directory — the
  * same idempotent at-least-once-to-exactly-once commit shape as
  * IndexMaintenance.appendBatch.
  *
  * Equivalence contract (the `binary_stream_codes` CORRECTNESS row
  * hash-matches the BATCH oracle): coding is a per-row pure function of
  * the frozen thresholds, so the union of per-batch codes equals the
  * bulk batch coding REGARDLESS of how rows were split into
  * micro-batches.
  */
object BinaryCodeMaintenance {

  /** Code one micro-batch and commit it as a full overwrite of
    * `codesDir/batch_id=<batchId>/` (idempotent under micro-batch
    * retries — see the object doc).
    */
  def appendBatch(
      batch: DataFrame,
      thr: Array[Long],
      codesDir: String,
      batchId: Long): Unit = {
    batch.select(col("vec_id"),
      BinaryHash.codeWord("embedding", thr, 0).as("code_lo"),
      BinaryHash.codeWord("embedding", thr, 32).as("code_hi"))
      .write
      .mode("overwrite")
      .parquet(s"$codesDir/batch_id=$batchId")
  }

  /** The whole cycle on a batch table ([[StreamTwin.run]]): return the
    * final (vec_id, code_lo, code_hi).
    */
  def maintainFromBatch(
      spark: SparkSession,
      emb: DataFrame,
      thr: Array[Long],
      nFiles: Int = 2): DataFrame =
    // source projected to the consumed columns, hash-shattered on vec_id
    // (coding is per-row pure)
    StreamTwin.run(spark, "graft_bin_maint", emb.select(col("vec_id"), col("embedding")),
      nFiles, Seq(col("vec_id"))) {
      (dir, batch, batchId) => appendBatch(batch, thr, s"$dir/codes", batchId)
    } { dir =>
      spark.read.parquet(s"$dir/codes").select(col("vec_id"), col("code_lo"), col("code_hi"))
    }
}
