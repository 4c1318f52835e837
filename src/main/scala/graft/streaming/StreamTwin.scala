package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions.xxhash64
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** The one stream wiring the `*Maintenance` twins share. Each twin owns
  * only its per-batch commit (an idempotent overwrite of its own
  * `batch_id=N/` output, or the store's crash-safe rewrites) and its
  * read of the maintained result; the file source, the trigger and the
  * scratch-dir lifecycle live here.
  *
  * Retry semantics: foreachBatch is AT-LEAST-ONCE — a crash after a
  * batch's commit but before the checkpoint's commit-log entry re-runs
  * that batch on restart, over the same files. The twins' commits are
  * written to replace what an earlier attempt of the same batch wrote
  * ([[StreamTwinSpec]] crashes a drain there and restarts it).
  */
object StreamTwin {

  /** Drain the parquet files under `srcDir` (recursively; `*.parquet`
    * only, so `_SUCCESS` markers are skipped) through `perBatch`, one
    * file per micro-batch, and stop once the backlog present at start
    * is done (AvailableNow). `schema` is declared, never inferred.
    */
  def drain(spark: SparkSession, srcDir: String, checkpointDir: String,
      schema: StructType)(perBatch: (DataFrame, Long) => Unit): StreamingQuery =
    spark.readStream
      .schema(schema)
      .option("pathGlobFilter", "*.parquet")
      .option("recursiveFileLookup", "true")
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir)
      .writeStream
      .foreachBatch((batch: Dataset[Row], batchId: Long) => perBatch(batch.toDF(), batchId))
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Run `body` on a fresh local temp dir named after `prefix`; the dir
    * and everything under it are deleted when `body` returns or throws.
    */
  def scratch[T](spark: SparkSession, prefix: String)(body: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    try body(dir)
    finally {
      val p = new Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  /** The whole maintenance cycle on a batch table, in a scratch dir:
    * shatter `src` into `nFiles` source files (hash on `shatterBy`, or
    * round-robin when it is empty), drain them through
    * `perBatch(dir, batch, batchId)`, and return `result(dir)`
    * materialized before the dir is deleted. The stream schema is the
    * shattered frame's own (all-nullable, as a parquet round-trip
    * yields), so no footer-read job runs.
    */
  def run(spark: SparkSession, prefix: String, src: DataFrame, nFiles: Int,
      shatterBy: Seq[Column])(perBatch: (String, DataFrame, Long) => Unit)(
      result: String => DataFrame): DataFrame =
    scratch(spark, prefix) { dir =>
      val srcDir = s"$dir/src"
      val shattered =
        if (shatterBy.isEmpty) src.repartition(nFiles)
        else src.repartition(nFiles, xxhash64(shatterBy: _*))
      shattered.write.parquet(srcDir)
      val q = drain(spark, srcDir, s"$dir/ckpt", nullableSchema(src.schema)) {
        (batch, batchId) => perBatch(dir, batch, batchId)
      }
      try q.processAllAvailable() finally q.stop()
      graft.operators.Materialize(result(dir))
    }

  /** All-nullable copy of a schema — what a parquet round-trip yields
    * (StructType.asNullable is private[sql]).
    */
  private def nullableSchema(st: StructType): StructType =
    StructType(st.fields.map(_.copy(nullable = true)))
}
