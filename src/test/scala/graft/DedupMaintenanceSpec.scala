package graft

import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.model.Tables
import graft.streaming.DedupMaintenance

class DedupMaintenanceSpec extends GraftSpec {

  private lazy val docs = Tables.documents(spark, sfDir).cache()
  private lazy val allPairs =
    Dedup.ngramJaccardPairs(docs, 3, 0.6).cache()

  test("streamed pair flags equal the batch all-pairs result (4 batches)") {
    val streamed = DedupMaintenance.maintainFromBatch(spark, docs, nFiles = 4)
    assert(streamed.exceptAll(allPairs).isEmpty && allPairs.exceptAll(streamed).isEmpty)
  }

  test("batching-invariant: a different split yields the same pair set") {
    val streamed = DedupMaintenance.maintainFromBatch(spark, docs, nFiles = 3)
    assert(streamed.exceptAll(allPairs).isEmpty && allPairs.exceptAll(streamed).isEmpty)
  }

  test("replaying a committed batch is idempotent and never self-pairs") {
    val base = GraftSpec.tempDir("graft_dedup_retry")
    val storeDir = base.resolve("store").toString
    val pairsDir = base.resolve("pairs").toString
    val half0 = docs.filter(col("doc_id") % 2 === 0)
    val half1 = docs.filter(col("doc_id") % 2 === 1)
    DedupMaintenance.appendBatch(half0, storeDir, pairsDir, batchId = 0L)
    DedupMaintenance.appendBatch(half1, storeDir, pairsDir, batchId = 1L)
    val before = spark.read.parquet(pairsDir)
      .select("id_a", "id_b", "jaccard").collect().toSet
    val storeBefore = spark.read.parquet(storeDir).count()
    // the retry: batch 1 re-runs AFTER its store write committed — the
    // batch_id < N read guard must keep it from pairing against itself
    DedupMaintenance.appendBatch(half1, storeDir, pairsDir, batchId = 1L)
    val after = spark.read.parquet(pairsDir)
      .select("id_a", "id_b", "jaccard").collect().toSet
    assert(after === before, "retried batch must replace its own flags, not add")
    assert(spark.read.parquet(storeDir).count() === storeBefore)
    assert(!after.exists(r => r.getLong(0) === r.getLong(1)), "no self-pairs")
  }

  test("compacted store has fewer files and flags a new batch identically") {
    val base = GraftSpec.tempDir("graft_dedup_compact")
    val storeDir = base.resolve("store").toString
    val pairsDir = base.resolve("pairs").toString
    val outDir = base.resolve("compact").toString
    (0 until 4).foreach { i =>
      DedupMaintenance.appendBatch(docs.filter(col("doc_id") % 4 === i),
        storeDir, pairsDir, batchId = i.toLong)
    }
    val filesBefore = graft.streaming.IndexMaintenance.parquetFileCount(spark, storeDir)
    val filesAfter = DedupMaintenance.compactStore(spark, storeDir, outDir, buckets = 2)
    assert(filesAfter < filesBefore,
      s"compaction must shrink the file count (before=$filesBefore after=$filesAfter)")
    val probe = Dedup.hashedPostings(docs.filter(col("doc_id") < 50), 3)
    val viaStore = Dedup.jaccardAcrossPostings(probe,
      spark.read.parquet(storeDir).select("id", "sz", "s"), 0.6)
    val viaCompact = Dedup.jaccardAcrossPostings(probe,
      spark.read.parquet(outDir), 0.6)
    assert(viaCompact.exceptAll(viaStore).isEmpty && viaStore.exceptAll(viaCompact).isEmpty)
  }

  test("store holds one posting set per batch and the union covers the corpus") {
    val base = GraftSpec.tempDir("graft_dedup_store")
    val storeDir = base.resolve("store").toString
    val pairsDir = base.resolve("pairs").toString
    DedupMaintenance.appendBatch(docs.filter(col("doc_id") < 250),
      storeDir, pairsDir, batchId = 0L)
    DedupMaintenance.appendBatch(docs.filter(col("doc_id") >= 250),
      storeDir, pairsDir, batchId = 1L)
    val store = spark.read.parquet(storeDir)
    assert(store.select("batch_id").distinct().count() === 2)
    val expected = Dedup.hashedPostings(docs, 3)
    val got = store.select("id", "sz", "s")
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
  }
}
