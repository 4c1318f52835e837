package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery


/** Incremental ANN-index maintenance — the streaming twin of the IVF
  * build path (`search/IvfIndex.assign`). The reference builds its index
  * in one bulk pass (chromadb_speed_experiment.py batch-inserts into a
  * ChromaDB collection); a production corpus is APPENDED to, so the
  * index must absorb new vectors without rebuilding.
  *
  * Shape: the centroid codebook is FROZEN (trained once on the base
  * corpus, broadcast — retraining per batch would re-shuffle every
  * existing cell), and each arriving micro-batch of vectors is assigned
  * to its nearest cell and appended to the index table, laid out
  * `batch_id=N/cell=C/` so probes partition-prune on cell. Per-batch
  * work is O(batch × k) with no shuffle wider than the batch and the
  * stream carries no state.
  *
  * Retry semantics: a micro-batch is AT-LEAST-ONCE ([[StreamTwin]]) — a
  * crash after the write commits but before the checkpoint batch
  * commits re-runs the batch. The write is therefore an OVERWRITE of the batch's own
  * `batch_id=N/` directory: a re-run of batch N replaces the whole
  * subtree it wrote the first time (the frozen codebook makes the
  * re-run's content identical), so the sink is effectively exactly-once
  * — at a per-batch commit cost of one directory swap instead of a
  * table-wide dynamic-partition staging pass.
  * [[IndexMaintenanceSpec]] replays a batch against a committed index
  * to prove no duplication.
  *
  * Growth: one micro-batch appends ≥1 file per touched cell, so the
  * table accretes small files — the classic streaming-sink death at
  * 100 TB. [[compactIndex]] folds the batch history into one file per
  * cell; the compacted table answers the same probes identically
  * (equivalence pinned in IndexMaintenanceSpec).
  *
  * Equivalence contract (pinned in IndexMaintenanceSpec and the
  * `ann_index_stream_append` CORRECTNESS row): because assignment is
  * per-row and the codebook is frozen, the union of per-batch
  * assignments equals the bulk batch assignment REGARDLESS of how rows
  * were split into micro-batches.
  */
object IndexMaintenance {

  /** Assign one micro-batch to cells and commit it as a full overwrite
    * of the per-batch directory `indexDir/batch_id=<batchId>/` (cell
    * subdirs inside; batch_id surfaces as a discovered partition column
    * when the table root is read). Overwriting the batch's own directory
    * is the cheapest idempotent commit: a retry replaces the WHOLE
    * batch_id=N subtree — including cells the retry no longer touches —
    * without the table-wide staging/rename pass a dynamic partition
    * overwrite runs per micro-batch. Public so the retry-idempotency
    * contract is testable without crashing a real stream: calling this
    * twice with the same (batch, batchId) leaves the table exactly as
    * one call does.
    */
  def appendBatch(
      batch: DataFrame,
      centroids: DataFrame,
      indexDir: String,
      batchId: Long): Unit = {
    graft.search.IvfIndex.assign(batch, centroids)
      .select(col("vec_id"), col("embedding"), col("cell"))
      .write
      .mode("overwrite")
      .partitionBy("cell")
      .parquet(s"$indexDir/batch_id=$batchId")
  }

  /** Stream embeddings-shaped parquet files from `srcDir` and commit
    * each micro-batch's cell assignments (vec_id, embedding, batch_id,
    * cell) into the partitioned index table at `indexDir` via
    * [[appendBatch]]. `centroids` must be a small (cid, cemb) frame —
    * it is broadcast into every batch's assignment join. batch_id is
    * retained so tests can prove the incremental path actually ran more
    * than one batch (and it is the idempotency key — see object doc).
    * The stream schema is read from the source files' footers.
    */
  def streamIndexAppend(
      spark: SparkSession,
      srcDir: String,
      indexDir: String,
      checkpointDir: String,
      centroids: DataFrame): StreamingQuery =
    StreamTwin.drain(spark, srcDir, checkpointDir, spark.read.parquet(srcDir).schema) {
      (batch, batchId) => appendBatch(batch, centroids, indexDir, batchId)
    }

  /** Fold the streamed index's batch history into a compacted
    * cell-partitioned table: one file per cell, batch_id dropped (WHICH
    * batch a vector arrived in is lineage, not index content). The
    * result is byte-for-byte the layout [[graft.search.IvfIndex.writePartitioned]]
    * produces, so [[graft.search.IvfIndex.searchPartitioned]] probes it
    * with dynamic partition pruning unchanged. Returns the compacted
    * table's parquet file count.
    */
  def compactIndex(spark: SparkSession, indexDir: String, outDir: String): Int = {
    spark.read.parquet(indexDir)
      .drop("batch_id")
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(outDir)
    parquetFileCount(spark, outDir)
  }

  /** Parquet data files under a (possibly partitioned) table dir. */
  def parquetFileCount(spark: SparkSession, dir: String): Int = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(root, true)
    var n = 0
    while (it.hasNext) {
      if (it.next().getPath.getName.endsWith(".parquet")) n += 1
    }
    n
  }

  /** Run the whole maintenance cycle on a batch table ([[StreamTwin.run]])
    * and return the final (vec_id, cell, batch_id) assignments. The
    * caller projects away batch_id when determinism matters — WHICH
    * batch a vector landed in depends on the shatter split; its cell
    * does not.
    */
  def maintainFromBatch(
      spark: SparkSession,
      emb: DataFrame,
      centroids: DataFrame,
      // 2 micro-batches: cell assignment is batching-invariant (the
      // contract IndexMaintenanceSpec proves across batchings), so two
      // batches exercise the append path at half the per-batch commit
      // cost of four
      nFiles: Int = 2): DataFrame =
    // source projected to the consumed columns, hash-shattered on vec_id
    StreamTwin.run(spark, "graft_idx_maint", emb.select(col("vec_id"), col("embedding")),
      nFiles, Seq(col("vec_id"))) {
      (dir, batch, batchId) => appendBatch(batch, centroids, s"$dir/index", batchId)
    } { dir =>
      spark.read.parquet(s"$dir/index").select(col("vec_id"), col("cell"), col("batch_id"))
    }
}
