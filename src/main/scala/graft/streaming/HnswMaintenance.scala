package graft.streaming

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._


/** Incremental GRAPH-index maintenance — the streaming twin of the
  * HNSW build path (`search/Hnsw`), completing the maintenance
  * triangle next to the IVF-cell twin (`IndexMaintenance`) and the
  * dedup posting-store twin (`DedupMaintenance`): every index family
  * this engine ships has an append path that does not rebuild the
  * world per batch.
  *
  * Shape: the stored index is one adjacency table per SEGMENT
  * (`storeDir/seg=N/` — the layout `Hnsw.buildIndex` emits). Each
  * arriving micro-batch routes its vectors to segments by the same
  * id hash the bulk build uses, REHYDRATES only the touched segment
  * graphs (partition-pruned read), inserts the new nodes into the
  * live graph structure — HNSW's insert IS an online operation; this
  * is precisely why graph indexes power production vector stores —
  * and swaps the rewritten segments back in. Untouched segments are
  * never read or written, so per-batch cost is
  * O(touched-segment size + batch · efConstruction), not O(index).
  *
  * Retry semantics: a micro-batch is AT-LEAST-ONCE ([[StreamTwin]]). A
  * replayed batch re-reads the ALREADY-UPDATED store, finds its ids present, inserts
  * nothing, and swaps in content-identical segments — effectively
  * exactly once (a double-append in HnswMaintenanceSpec proves search
  * results and membership are unchanged). Segment swap is
  * crash-recoverable: live → .bak, staged → live, drop .bak — every
  * crash point leaves either the old or the new segment content on
  * disk, and the replay's recovery pass restores a stranded backup
  * before rehydrating (the spec kills a swap at the worst point and
  * proves no stored vector is lost).
  *
  * Equivalence contract: a graph grown incrementally is NOT
  * node-for-node the bulk-built graph (HNSW adjacency depends on
  * insertion order — true of every online HNSW). The contract is the
  * one that matters to a caller and the one the spec + the
  * `ann_hnsw_stream_append` CORRECTNESS row pin: the streamed index
  * contains every streamed id exactly once, and its search recall vs
  * the exact scan clears the same floor as the bulk index.
  */
object HnswMaintenance {

  /** Segment router — must stay in lockstep with what the store was
    * built with; pmod(hash(id), n) is Spark's own HashPartitioning
    * formula, so bulk-built (`Hnsw.buildIndex`) and streamed segments
    * route identically.
    */
  private def segOf(n: Int) = pmod(hash(col("vec_id")), lit(n))

  /** Store-shape metadata, persisted next to the segment dirs on first
    * write (`_graft_hnsw_meta` — underscore-prefixed so parquet readers
    * skip it) and VALIDATED on every subsequent append: the segment
    * router is a pure function of `numGraphs`, so an append with a
    * different value would migrate only the touched segments' rows and
    * silently duplicate/misplace ids across seg dirs. Graph knobs
    * (m/efConstruction) ride along because mixing them across batches
    * yields a graph no single parameterization describes.
    */
  private final case class StoreMeta(numGraphs: Int, m: Int, efConstruction: Int)

  private def metaPath(storeDir: String) = new Path(s"$storeDir/_graft_hnsw_meta")

  private def writeMeta(fs: org.apache.hadoop.fs.FileSystem, storeDir: String,
      meta: StoreMeta): Unit = {
    val out = fs.create(metaPath(storeDir), true)
    try out.write(s"${meta.numGraphs},${meta.m},${meta.efConstruction}\n"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def readMeta(fs: org.apache.hadoop.fs.FileSystem,
      storeDir: String): Option[StoreMeta] = {
    val p = metaPath(storeDir)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val txt =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      txt.split(',') match {
        case Array(n, m, ef) => Some(StoreMeta(n.toInt, m.toInt, ef.toInt))
        case _ => None
      }
    }
  }

  private def requireMeta(stored: StoreMeta, called: StoreMeta, storeDir: String): Unit =
    require(stored == called,
      s"HNSW store $storeDir was built with (numGraphs=${stored.numGraphs}, " +
        s"m=${stored.m}, efConstruction=${stored.efConstruction}) but this call " +
        s"passed (numGraphs=${called.numGraphs}, m=${called.m}, " +
        s"efConstruction=${called.efConstruction}); a mismatched router would " +
        "misplace ids across segments — pass the store's own parameters")

  /** Backup dir for a segment mid-swap — dot-prefixed so a parquet read
    * of the store root never picks a half-swapped backup up as data.
    */
  private def bakPath(storeDir: String, s: Int) = new Path(s"$storeDir/.seg=$s.bak")

  /** Crash recovery: a swap interrupted between backup-rename and
    * staged-rename leaves the live dir missing and the backup present —
    * restore the backup so the replayed batch rehydrates the previously
    * stored vectors instead of silently rebuilding from the batch alone.
    */
  private def recoverSeg(fs: org.apache.hadoop.fs.FileSystem, storeDir: String,
      s: Int): Unit = {
    val live = new Path(s"$storeDir/seg=$s")
    val bak = bakPath(storeDir, s)
    if (!fs.exists(live) && fs.exists(bak)) fs.rename(bak, live)
  }

  /** Fold one micro-batch of (vec_id, embedding) into the stored
    * index: rehydrate touched segments, insert unseen ids (ascending,
    * intra-batch duplicates dropped), stage the rewritten segments,
    * swap them in. Public so retry idempotency is testable without
    * crashing a real stream.
    */
  def appendBatch(
      batch: DataFrame,
      storeDir: String,
      numGraphs: Int = 8,
      m: Int = 16,
      efConstruction: Int = 100): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val fs = new Path(storeDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val called = StoreMeta(numGraphs, m, efConstruction)
    readMeta(fs, storeDir) match {
      case Some(stored) => requireMeta(stored, called, storeDir)
      case None => writeMeta(fs, storeDir, called)
    }
    val newRows = batch.select(col("vec_id"), col("embedding"))
      .dropDuplicates("vec_id")
      .withColumn("seg", segOf(numGraphs))
    // touched segment list: bounded by numGraphs, never data size
    val touched = newRows.select("seg").distinct().as[Int].collect().sorted
    if (touched.isEmpty) return
    touched.foreach(recoverSeg(fs, storeDir, _))
    val existingSegs = touched.filter(s => fs.exists(new Path(s"$storeDir/seg=$s")))
    val empty = spark.emptyDataset[(Int, Long, Array[Float], Array[Array[Long]])]
      .toDF("seg", "vec_id", "embedding", "nbrs")
    val existing =
      if (existingSegs.isEmpty) empty
      else spark.read.parquet(existingSegs.map(s => s"$storeDir/seg=$s"): _*)
        .withColumn("seg", segOf(numGraphs))
        .select(col("seg"), col("vec_id"), col("embedding"), col("nbrs"))
    val merged = existing.withColumn("stored", lit(true))
      .unionByName(newRows
        .withColumn("nbrs", lit(null).cast("array<array<bigint>>"))
        .withColumn("stored", lit(false))
        .select(col("seg"), col("vec_id"), col("embedding"), col("nbrs"), col("stored")))
    val rebuilt = merged
      .repartition(numGraphs, col("seg"))
      .as[(Int, Long, Array[Float], Array[Array[Long]], Boolean)]
      .mapPartitions { it =>
        it.toArray.groupBy(_._1).iterator.flatMap { case (seg, rows) =>
          val (stored, fresh) = rows.partition(_._5)
          val g = graft.search.Hnsw.graphFromAdjacency(
            stored.map { case (_, id, v, nb, _) => (id, v, nb) }, m, efConstruction)
          val present = mutable.HashSet.empty[Long]
          stored.foreach(r => present += r._2)
          fresh.sortBy(_._2).foreach { case (_, id, v, _, _) =>
            if (present.add(id)) g.insert(id, v)
          }
          g.export.map { case (id, v, nb) => (seg, id, v, nb) }
        }
      }
      .toDF("seg", "vec_id", "embedding", "nbrs")
    val staging = s"$storeDir/.staging"
    rebuilt.write.mode("overwrite").partitionBy("seg").parquet(staging)
    touched.foreach { s =>
      val live = new Path(s"$storeDir/seg=$s")
      val staged = new Path(s"$staging/seg=$s")
      if (fs.exists(staged)) {
        // stage/backup/swap — every crash point leaves a recoverable
        // copy of the previously stored segment (the bare delete+rename
        // this replaces could lose a segment between the two calls):
        //   1. drop any backup a COMPLETED earlier swap left behind
        //   2. live → .bak   (crash here: recoverSeg restores on replay)
        //   3. staged → live (crash here: live is the new content; the
        //      replay finds its ids present and swaps in an identical
        //      segment, the stale .bak is dropped at step 1)
        //   4. drop the backup
        val bak = bakPath(storeDir, s)
        if (fs.exists(bak)) fs.delete(bak, true)
        if (fs.exists(live)) fs.rename(live, bak)
        fs.rename(staged, live)
        fs.delete(bak, true)
      }
    }
    fs.delete(new Path(staging), true)
  }

  /** Run the whole maintenance cycle on a batch table
    * ([[StreamTwin.run]]) and return the final segment store as a
    * materialized (seg, vec_id, embedding, nbrs) frame — directly
    * searchable by `Hnsw.searchIndex`.
    */
  def maintainFromBatch(
      spark: SparkSession,
      emb: DataFrame,
      // 2 micro-batches: the recall/membership contract is proven per
      // batching in HnswMaintenanceSpec — same bench discipline as the
      // other streaming twins
      nFiles: Int = 2,
      numGraphs: Int = 8): DataFrame =
    // the shatter stays ROUND-ROBIN here on purpose (no shatter key):
    // HNSW adjacency depends on which batch each vector arrives in, so
    // the split is part of the demonstrated graph
    StreamTwin.run(spark, "graft_hnsw_maint", emb.select(col("vec_id"), col("embedding")),
      nFiles, Nil) {
      (dir, batch, _) => appendBatch(batch, s"$dir/store", numGraphs)
    } { dir =>
      spark.read.parquet(s"$dir/store")
        .select(col("seg"), col("vec_id"), col("embedding"), col("nbrs"))
    }
}
