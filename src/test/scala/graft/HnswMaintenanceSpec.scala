package graft

import org.apache.spark.sql.functions._

import graft.eval.RecallAtK
import graft.model.Tables
import graft.search.{Hnsw, KnnExact}
import graft.streaming.HnswMaintenance

class HnswMaintenanceSpec extends GraftSpec {

  private lazy val emb = Tables.embeddings(spark, sfDir).cache()
  private lazy val queries = emb.filter(col("vec_id") < 5)
    .select(col("vec_id").as("qid"), col("embedding").as("qemb")).cache()

  private def recallOf(store: org.apache.spark.sql.DataFrame): Map[Long, Double] = {
    val gt = KnnExact.topK(queries, emb, 10)
    val approx = Hnsw.searchIndex(spark, queries, store, 10)
    RecallAtK.evaluate(gt, approx, Seq(10))
      .select(col("qid"), col("recall_10")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
  }

  test("streamed store holds every id exactly once and clears the recall floor") {
    val store = HnswMaintenance.maintainFromBatch(spark, emb, nFiles = 3)
    val n = emb.count()
    assert(store.count() === n, "every streamed vector must be in the store")
    assert(store.select("vec_id").distinct().count() === n, "no duplicate ids")
    val recalls = recallOf(store)
    assert(recalls.size === 5)
    recalls.foreach { case (qid, r) =>
      assert(r >= 0.9, s"streamed-index recall@10 for qid=$qid was $r (floor 0.9)")
    }
  }

  test("batching does not change the contract (1 batch == bulk routing)") {
    // one micro-batch = the whole corpus inserted ascending = exactly
    // the bulk build (same router, same insertion order) — the two
    // indexes must answer queries identically
    val streamed = HnswMaintenance.maintainFromBatch(spark, emb, nFiles = 1)
    val bulk = Hnsw.buildIndex(spark, emb)
    val a = Hnsw.searchIndex(spark, queries, streamed, 10)
    val b = Hnsw.searchIndex(spark, queries, bulk, 10)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "single-batch streamed index must search identically to the bulk build")
  }

  test("replayed batch is idempotent: membership and search unchanged") {
    val base = GraftSpec.tempDir("graft_hnsw_replay")
    val storeDir = base.resolve("store").toString
    try {
      val first = emb.filter(col("vec_id") < 300)
      val second = emb.filter(col("vec_id") >= 300)
      HnswMaintenance.appendBatch(first, storeDir)
      HnswMaintenance.appendBatch(second, storeDir)
      val once = Hnsw.searchIndex(spark, queries, spark.read.parquet(storeDir), 10)
        .collect().map(_.toSeq).toSeq
      val countOnce = spark.read.parquet(storeDir).count()
      // at-least-once replay of the LAST batch
      HnswMaintenance.appendBatch(second, storeDir)
      assert(spark.read.parquet(storeDir).count() === countOnce,
        "a replayed batch must not grow the store")
      val twice = Hnsw.searchIndex(spark, queries, spark.read.parquet(storeDir), 10)
        .collect().map(_.toSeq).toSeq
      assert(once === twice, "a replayed batch must not change search results")
    } finally {
      val p = new org.apache.hadoop.fs.Path(base.toString)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  test("interrupted segment swap recovers: no stored vector is lost") {
    // simulate a crash at the WORST point of the swap — after the live
    // dir was renamed to its backup, before the staged dir was renamed
    // in (the pre-fix delete+rename sequence loses the segment here).
    // The replayed append must restore the backup and keep every
    // previously stored id.
    val base = GraftSpec.tempDir("graft_hnsw_crash")
    val storeDir = base.resolve("store").toString
    try {
      val first = emb.filter(col("vec_id") < 300)
      HnswMaintenance.appendBatch(first, storeDir)
      val fs = new org.apache.hadoop.fs.Path(storeDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val live = new org.apache.hadoop.fs.Path(s"$storeDir/seg=0")
      val bak = new org.apache.hadoop.fs.Path(s"$storeDir/.seg=0.bak")
      assert(fs.exists(live))
      fs.rename(live, bak) // the crash point: live gone, backup present
      // the replay (at-least-once) re-appends a batch touching seg 0
      HnswMaintenance.appendBatch(emb.filter(col("vec_id") >= 300), storeDir)
      val stored = spark.read.parquet(storeDir)
        .select("vec_id").distinct().count()
      assert(stored === emb.count(),
        "recovery must restore the backed-up segment before rehydrating")
      assert(!fs.exists(bak), "a completed swap leaves no backup behind")
    } finally {
      val p = new org.apache.hadoop.fs.Path(base.toString)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  test("store metadata pins the router: mismatched parameters are rejected") {
    // segOf is a pure function of numGraphs — appending with a different
    // value would migrate only touched segments and duplicate ids. The
    // store persists (numGraphs, m, efConstruction) on first write and
    // every later append must match.
    val base = GraftSpec.tempDir("graft_hnsw_meta")
    val storeDir = base.resolve("store").toString
    try {
      HnswMaintenance.appendBatch(emb.filter(col("vec_id") < 100), storeDir,
        numGraphs = 8)
      val e = intercept[IllegalArgumentException] {
        HnswMaintenance.appendBatch(emb.filter(col("vec_id") >= 100), storeDir,
          numGraphs = 4)
      }
      assert(e.getMessage.contains("numGraphs=8"))
      // matching parameters still append fine after the rejected call
      HnswMaintenance.appendBatch(emb.filter(col("vec_id") >= 100), storeDir,
        numGraphs = 8)
      assert(spark.read.parquet(storeDir).select("vec_id").distinct().count()
        === emb.count())
    } finally {
      val p = new org.apache.hadoop.fs.Path(base.toString)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  test("append touches only the routed segments") {
    val base = GraftSpec.tempDir("graft_hnsw_touch")
    val storeDir = base.resolve("store").toString
    try {
      HnswMaintenance.appendBatch(emb, storeDir)
      val fs = new org.apache.hadoop.fs.Path(storeDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def mtimes(): Map[String, Long] =
        fs.listStatus(new org.apache.hadoop.fs.Path(storeDir))
          .map(s => s.getPath.getName -> s.getModificationTime).toMap
      val before = mtimes()
      Thread.sleep(1100) // FS mtime granularity
      // a batch that routes to ONE segment: an UNSEEN id whose murmur3
      // hash lands on seg 0 (computed with the same Spark hash())
      val vec = emb.select("embedding").head().getSeq[Float](0)
      val one = spark.range(1000000L, 1000100L)
        .select(col("id").as("vec_id"))
        .filter(pmod(hash(col("vec_id")), lit(8)) === 0)
        .limit(1)
        .withColumn("embedding", typedLit(vec))
      HnswMaintenance.appendBatch(one, storeDir)
      val after = mtimes()
      val changed = after.keySet.filter(k => before.get(k) != after.get(k))
      assert(changed === Set("seg=0"),
        s"only the routed segment directory may be rewritten, got $changed")
    } finally {
      val p = new org.apache.hadoop.fs.Path(base.toString)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }
}
