package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.textual.Bpe

/** Streaming tokenization against a FROZEN tokenizer — the production
  * shape for applying a trained BPE vocabulary to documents as they
  * arrive (the tokenizer never retrains per batch; it is versioned
  * corpus-level state, exactly like the frozen centroid codebook in
  * `IndexMaintenance`). Completes the streaming-twin rectangle: IVF
  * cells, dedup postings, HNSW segments, and now the tokenizer —
  * every index-like artifact this engine ships has an apply-on-stream
  * path.
  *
  * Shape: each micro-batch stream-static joins its documents against
  * the final word→symbols table from `Bpe.trainMerges` and appends
  * per-doc token/subtoken stats. Tokenization is per-doc pure, so the
  * union of per-batch outputs equals the batch result REGARDLESS of
  * how docs were split into batches (batching-invariance — the
  * `bpe_stream_tokenize` CORRECTNESS row hash-matches the same oracle
  * as the batch row). A micro-batch is at-least-once; each batch
  * overwrites its own `batch_id=N/` directory, so replays replace
  * rather than duplicate (the IndexMaintenance commit discipline).
  */
object TokenizeMaintenance {

  /** Commit one micro-batch's per-doc stats as a full overwrite of
    * `outDir/batch_id=<batchId>/` (idempotent under micro-batch
    * retries — see the object doc).
    */
  private def appendBatch(stats: DataFrame, outDir: String, batchId: Long): Unit =
    stats.write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")

  /** Both tokenizer stats transforms consume exactly (doc_id, text):
    * the source projection, and the hash-shatter key (tokenization is
    * per-doc pure, so any split is equivalent).
    */
  private val docCols = Seq(col("doc_id"), col("text"))

  /** Run the whole BPE cycle on a batch table ([[StreamTwin.run]]) and
    * return the unioned per-doc stats.
    */
  def maintainFromBatch(
      spark: SparkSession,
      docs: DataFrame,
      vocab: DataFrame,
      // 2 micro-batches: tokenization is per-doc pure, so batching
      // invariance holds by construction (spec-proven at 3 too) — two
      // batches exercise the append path at half the commit cost
      nFiles: Int = 2): DataFrame =
    StreamTwin.run(spark, "graft_tok_maint", docs.select(docCols: _*), nFiles, docCols) {
      (dir, batch, batchId) =>
        appendBatch(Bpe.tokenizeStats(batch, "text", "doc_id", vocab), s"$dir/out", batchId)
    } { dir =>
      spark.read.parquet(s"$dir/out").select(col("doc_id"), col("n_tokens"), col("n_subtokens"))
    }

  /** The UNIGRAM twin: stream documents against the frozen word→pieces
    * segmentation table (Viterbi under the trained unigram LM —
    * [[graft.textual.UnigramLm.segmentation]]), appending per-doc
    * word/piece stats per micro-batch. Segmentation is per-doc pure
    * under a frozen vocab, so the streamed union equals the batch
    * result regardless of the batch split — the same hash-match
    * contract as the BPE twin, completing the tokenizer-family
    * streaming symmetry.
    */
  def maintainUnigramFromBatch(
      spark: SparkSession,
      docs: DataFrame,
      seg: DataFrame,
      nFiles: Int = 2): DataFrame =
    StreamTwin.run(spark, "graft_tok_maint", docs.select(docCols: _*), nFiles, docCols) {
      (dir, batch, batchId) => appendBatch(
        graft.textual.UnigramLm.tokenizeStats(batch, "text", "doc_id", seg), s"$dir/out", batchId)
    } { dir =>
      spark.read.parquet(s"$dir/out")
        .select(col("doc_id"), col("n_words"), col("n_pieces"), col("pieces_per_word"))
    }
}
