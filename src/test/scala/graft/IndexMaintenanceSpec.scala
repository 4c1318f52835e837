package graft

import org.apache.spark.sql.functions._

import graft.model.Tables
import graft.search.IvfIndex
import graft.streaming.IndexMaintenance

class IndexMaintenanceSpec extends GraftSpec {

  private lazy val emb = Tables.embeddings(spark, sfDir).cache()
  private lazy val cent = IvfIndex.seedCentroids(emb, 8).cache()

  test("streamed index append runs more than one micro-batch") {
    val idx = IndexMaintenance.maintainFromBatch(spark, emb, cent, nFiles = 3)
    val batches = idx.select("batch_id").distinct().count()
    assert(batches >= 2, s"expected multiple micro-batches, got $batches")
  }

  test("streamed index equals the bulk assignment regardless of batching") {
    val streamed = IndexMaintenance.maintainFromBatch(spark, emb, cent, nFiles = 4)
      .select(col("vec_id"), col("cell"))
    val bulk = IvfIndex.assign(emb, cent).select(col("vec_id"), col("cell"))
    assert(streamed.count() === emb.count(), "every vector indexed exactly once")
    assert(streamed.exceptAll(bulk).isEmpty && bulk.exceptAll(streamed).isEmpty)
  }

  test("re-running against the same checkpoint does not duplicate rows") {
    val base = GraftSpec.tempDir("graft_idx_idem")
    val srcDir = base.resolve("src").toString
    val indexDir = base.resolve("index").toString
    val ckptDir = base.resolve("ckpt").toString
    emb.repartition(2).write.parquet(srcDir)
    val q1 = IndexMaintenance.streamIndexAppend(spark, srcDir, indexDir, ckptDir, cent)
    try q1.processAllAvailable() finally q1.stop()
    // second run, same checkpoint: the file-source ledger already has
    // every input file, so no batch fires and no rows are appended
    val q2 = IndexMaintenance.streamIndexAppend(spark, srcDir, indexDir, ckptDir, cent)
    try q2.processAllAvailable() finally q2.stop()
    assert(spark.read.parquet(indexDir).count() === emb.count())
  }

  test("replaying a committed batch is idempotent (at-least-once retry)") {
    // foreachBatch retries re-run a batch AFTER its write committed; the
    // per-batch directory overwrite keyed on batch_id must replace, not
    // append. Simulate the retry by invoking the batch writer twice.
    val indexDir = GraftSpec.tempDir("graft_idx_retry").toString
    val half = emb.filter(col("vec_id") % 2 === 0)
    IndexMaintenance.appendBatch(half, cent, indexDir, batchId = 0L)
    IndexMaintenance.appendBatch(emb.filter(col("vec_id") % 2 === 1), cent, indexDir, batchId = 1L)
    val before = spark.read.parquet(indexDir)
    val beforeN = before.count()
    assert(beforeN === emb.count())
    // the retry: batch 0 runs again with identical content
    IndexMaintenance.appendBatch(half, cent, indexDir, batchId = 0L)
    val after = spark.read.parquet(indexDir)
    assert(after.count() === beforeN, "retried batch must overwrite its own partitions, not append")
    assert(after.select("vec_id").distinct().count() === beforeN)
  }

  test("compacted index has fewer files and answers probes identically") {
    val base = GraftSpec.tempDir("graft_idx_compact")
    val srcDir = base.resolve("src").toString
    val indexDir = base.resolve("index").toString
    val ckptDir = base.resolve("ckpt").toString
    val outDir = base.resolve("compact").toString
    emb.repartition(4).write.parquet(srcDir)
    val q = IndexMaintenance.streamIndexAppend(spark, srcDir, indexDir, ckptDir, cent)
    try q.processAllAvailable() finally q.stop()

    val filesBefore = IndexMaintenance.parquetFileCount(spark, indexDir)
    val filesAfter = IndexMaintenance.compactIndex(spark, indexDir, outDir)
    assert(filesAfter < filesBefore,
      s"compaction must shrink the file count (before=$filesBefore after=$filesAfter)")

    // same probe as ann_ivf_top5: 5 queries, nprobe=2, k=5 — the
    // compacted table must return the identical result set
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"))
    val assigned = IvfIndex.assign(emb, cent)
    val expected = IvfIndex.search(queries, assigned, cent, k = 5, nprobe = 2)
    val got = IvfIndex.searchPartitioned(spark, outDir, queries, cent, k = 5, nprobe = 2)
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
  }
}
