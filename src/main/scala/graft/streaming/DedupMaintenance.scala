package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup

/** Incremental near-dup maintenance — the streaming twin of
  * [[graft.dedup.Dedup.ngramJaccardAgainst]] (the batch daily-ingest
  * shape). A production corpus is appended to continuously; re-pairing
  * the whole corpus against itself per ingest wave is the scale killer,
  * so the stream keeps the corpus as a STORED posting table and each
  * arriving micro-batch is shingled once, flagged against the store,
  * and folded into it.
  *
  * Per micro-batch N, with P = the batch's (id, sz, s) postings and
  * S = the union of postings from batches < N:
  *   1. cross pairs  = jaccardAcrossPostings(P, S)  — new × stored only,
  *      cost Σ_s df_new(s)·df_old(s), the old×old quadrant never runs;
  *   2. within pairs = jaccardWithinPostings(P)     — dups arriving in
  *      the same wave;
  *   3. both commit (normalized to id_a = least, id_b = greatest) as an
  *      overwrite of `pairsDir/batch_id=N/`, and P commits as an
  *      overwrite of `storeDir/batch_id=N/` — the same per-batch-
  *      directory idempotent commit as [[IndexMaintenance.appendBatch]]
  *      (a micro-batch is at-least-once; a replayed batch replaces its
  *      own subtrees, and the store read is pinned to batch_id < N so a
  *      retry never pairs a batch against its own half-committed
  *      postings).
  *
  * Equivalence contract (pinned in DedupMaintenanceSpec and the
  * `dedup_stream_maintain` CORRECTNESS row): each qualifying pair is
  * emitted EXACTLY once — by the micro-batch its later-arriving member
  * arrives in — so the union of per-batch pair sets equals the batch
  * all-pairs [[graft.dedup.Dedup.ngramJaccardPairs]] result REGARDLESS
  * of how (or in what order) documents were split into micro-batches.
  *
  * At 100 TB: the store is the posting table bucketed by shingle hash
  * `s`, so the per-batch cross join is bucket-pruned and co-located;
  * store growth is one cell-less directory per batch, folded by the
  * same small-files compaction discipline as the ANN index table.
  */
object DedupMaintenance {

  /** Flag one micro-batch against the stored postings and commit both
    * the pair flags and the batch's postings as idempotent per-batch
    * directory overwrites. Public so the retry contract is testable
    * without crashing a real stream.
    */
  def appendBatch(
      batch: DataFrame,
      storeDir: String,
      pairsDir: String,
      batchId: Long,
      n: Int = 3,
      threshold: Double = 0.6): Unit = {
    val spark = batch.sparkSession
    // The batch postings feed three consumers (the fused pair join ×2
    // sides, store write); localCheckpoint computes them once and
    // severs the re-read of the streaming source.
    val posts = graft.operators.Materialize.materializeOnly(
      Dedup.hashedPostings(batch, n))
    val store = readStore(spark, storeDir, beforeBatch = batchId)
    // ONE fused pair join (r21, guide §2.4): cross (new×stored) and
    // within (new×new, id<) pairs share the left side and the grouping,
    // so they ride one equi-join on the shingle hash with a residual
    // condition — store rows pair unconditionally (ids are globally
    // unique across batches, so a stored y can never also be a batch
    // row), batch rows pair under id_x < id_y. Halves the join +
    // aggregate machinery per micro-batch vs the old two-pass shape;
    // least/greatest normalization is the identity on within pairs.
    val ySide = posts.withColumn("st", lit(false))
      .unionByName(store.withColumn("st", lit(true)))
    val pairs = posts.as("x")
      .join(ySide.as("y"),
        col("x.s") === col("y.s") &&
          (col("y.st") || col("x.id") < col("y.id")))
      .groupBy(col("x.id").as("id_x"), col("y.id").as("id_y"))
      .agg(count(lit(1)).as("inter"),
        first(col("x.sz")).as("sz_x"), first(col("y.sz")).as("sz_y"))
      .withColumn("jac", col("inter").cast("double") /
        (col("sz_x") + col("sz_y") - col("inter")).cast("double"))
      .filter(col("jac") >= threshold)
      .select(least(col("id_x"), col("id_y")).as("id_a"),
        greatest(col("id_x"), col("id_y")).as("id_b"),
        round(col("jac"), 4).as("jaccard"))
    pairs.write.mode("overwrite").parquet(s"$pairsDir/batch_id=$batchId")
    posts.write.mode("overwrite").parquet(s"$storeDir/batch_id=$batchId")
    // the batch postings' blocks are dead once both writes committed —
    // release now instead of leaking one checkpoint per micro-batch (r22)
    graft.operators.Materialize.releaseOne(posts)
  }

  /** Stored postings from batches strictly before `beforeBatch` (the
    * retry guard: a replayed batch must not see its own postings).
    * Empty-store reads return an empty (id, sz, s) frame.
    */
  def readStore(spark: SparkSession, storeDir: String, beforeBatch: Long): DataFrame = {
    val root = new Path(storeDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root))
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("sz", org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("s", org.apache.spark.sql.types.LongType))))
    else
      spark.read.parquet(storeDir)
        .filter(col("batch_id") < beforeBatch)
        .select(col("id"), col("sz"), col("s"))
  }

  /** Fold the posting store's batch history into a compacted table
    * hash-partitioned on the shingle hash `s` — the bucketed-by-`s`
    * layout the 100 TB posture note promises (each future batch's
    * cross join then co-locates per bucket), and the small-files fold
    * (one file per bucket instead of one directory per batch). The
    * compacted table answers [[graft.dedup.Dedup.jaccardAcrossPostings]]
    * identically (pinned in DedupMaintenanceSpec). Returns the
    * compacted file count.
    */
  def compactStore(spark: SparkSession, storeDir: String, outDir: String,
                   buckets: Int = 32): Int = {
    spark.read.parquet(storeDir)
      .drop("batch_id")
      .repartition(buckets, col("s"))
      .write.mode("overwrite").parquet(outDir)
    IndexMaintenance.parquetFileCount(spark, outDir)
  }

  /** Run the whole maintenance cycle on a batch table
    * ([[StreamTwin.run]]) and return the union of per-batch pair flags
    * (id_a, id_b, jaccard) — by the equivalence contract, exactly the
    * all-pairs near-dup set.
    */
  def maintainFromBatch(
      spark: SparkSession,
      docs: DataFrame,
      // 2 micro-batches: the pair set is batching-invariant (the
      // equivalence contract DedupMaintenanceSpec proves across
      // batchings), so two batches exercise new×stored maintenance at
      // half the per-batch commit cost of four
      nFiles: Int = 2,
      n: Int = 3,
      threshold: Double = 0.6): DataFrame = {
    // shingling consumes exactly (doc_id, text): the source projection
    // and the hash-shatter key
    val docCols = Seq(col("doc_id"), col("text"))
    StreamTwin.run(spark, "graft_dedup_maint", docs.select(docCols: _*), nFiles, docCols) {
      (dir, batch, batchId) =>
        appendBatch(batch, s"$dir/store", s"$dir/pairs", batchId, n, threshold)
    } { dir =>
      spark.read.parquet(s"$dir/pairs").select(col("id_a"), col("id_b"), col("jaccard"))
    }
  }
}
