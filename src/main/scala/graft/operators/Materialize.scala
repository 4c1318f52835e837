package graft.operators

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.internal.Logging
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The ONE materialization point for "compute this intermediate once,
  * then read it from N consumers": every lineage checkpoint in the
  * engine is made by [[materializeOnly]] (directly, or through [[apply]]
  * and [[pin]]) and released by [[releaseOne]], [[releaseTransients]] or
  * [[releaseAll]], so (a) the scale posture is a CONFIGURATION, not a
  * hard-coded `localCheckpoint` scattered across the operators, and
  * (b) the release technique lives in one place.
  *
  * Strategies (`spark.graft.materialize` session conf):
  *
  *  - `local` (default): `localCheckpoint(eager)` — executor-resident
  *    blocks, no lineage. The right local/bench trade: one
  *    materialization vs two executions of the dominant map work, no
  *    extra I/O. NOT fault-tolerant: an executor loss invalidates the
  *    blocks and the truncated lineage cannot recompute them.
  *  - `reliable`: `Dataset.checkpoint(eager)` to the SparkContext
  *    checkpoint dir (`spark.graft.materialize.dir` is applied to the
  *    context on first use when set) — the 100 TB posture for
  *    long-running jobs on preemptible executors: survives executor
  *    loss at the cost of writing the intermediate to reliable storage.
  *
  * Lifetimes: an untracked frame ([[materializeOnly]]) is released by
  * its caller with [[releaseOne]] (the iterative operators free each
  * round's copy as the next lands); a tracked transient ([[apply]],
  * [[track]]: per-query intermediates such as Dedup's shingle and
  * signature frames) lives until [[releaseTransients]] — Bench calls it
  * between suite passes so 5 passes do not stack ~20 checkpoints each;
  * a pinned frame ([[pin]]) lives for the session. `SparkEntry.clearCaches`
  * calls [[releaseAll]] next to `SharedFrames.clear`.
  *
  * Release: a plain `DataFrame.unpersist` is a CacheManager no-op for
  * checkpointed frames — the persisted object is the RDD behind the
  * LogicalRDD leaf, so that is what gets unpersisted; a reliable
  * checkpoint's `rdd-*` dir is deleted with it (Spark's own cleaner
  * leaves checkpoint files unless `spark.cleaner.referenceTracking.
  * cleanCheckpoints` is on). A failed release (e.g. the session already
  * stopped) is logged at WARN and skipped.
  */
object Materialize extends Logging {

  private val tracked =
    java.util.Collections.newSetFromMap(
      new java.util.concurrent.ConcurrentHashMap[DataFrame, java.lang.Boolean]())

  /** Session-lifetime materializations (frames a [[SharedFrames]] slot
    * reads from — releasing them between bench passes would strand the
    * slot's consumers on unrecomputable lineage). Released only by
    * [[releaseAll]] (clearCaches teardown), never by
    * [[releaseTransients]].
    */
  private val pinned =
    java.util.Collections.newSetFromMap(
      new java.util.concurrent.ConcurrentHashMap[DataFrame, java.lang.Boolean]())

  /** Materialize `df` eagerly under the configured strategy and
    * register it as a transient ([[releaseTransients]]).
    */
  def apply(df: DataFrame): DataFrame = track(materializeOnly(df))

  /** Materialize without tracking — for frames the caller releases
    * itself (pair with [[releaseOne]]) or whose lifetime ends with the
    * temp session. `eager = false` marks the cut and leaves its
    * materialization to the caller's next action (the iterative rounds
    * whose following `count()` is that job).
    */
  def materializeOnly(df: DataFrame, eager: Boolean = true): DataFrame = {
    val spark = df.sparkSession
    spark.conf.getOption("spark.graft.materialize").getOrElse("local") match {
      case "reliable" =>
        if (spark.sparkContext.getCheckpointDir.isEmpty) {
          val dir = spark.conf.getOption("spark.graft.materialize.dir")
            .getOrElse(java.nio.file.Files
              .createTempDirectory("graft_reliable_ckpt").toString)
          spark.sparkContext.setCheckpointDir(dir)
        }
        df.checkpoint(eager)
      case _ => df.localCheckpoint(eager)
    }
  }

  /** Register an already-materialized frame as a transient. */
  def track(df: DataFrame): DataFrame = {
    tracked.add(df)
    df
  }

  /** Materialize with SESSION lifetime (for shared-cache builders):
    * survives [[releaseTransients]], dropped by [[releaseAll]].
    */
  def pin(df: DataFrame): DataFrame = {
    val out = materializeOnly(df)
    pinned.add(out)
    out
  }

  /** Unpersist ONE materialized frame now (localCheckpoint blocks are
    * executor memory — free them the moment the last consumer is done
    * rather than at suite teardown; a reliable checkpoint's files go with
    * them). Safe on never-checkpointed frames (no LogicalRDD leaf → no-op).
    */
  def releaseOne(df: DataFrame): Unit = {
    tracked.remove(df)
    unpersistLeaves(df)
  }

  private def drain(set: java.util.Set[DataFrame]): Unit =
    set.forEach(df => if (set.remove(df)) unpersistLeaves(df))

  /** The one release loop: unpersist the RDD behind each LogicalRDD leaf
    * and delete its reliable checkpoint dir, if it has one.
    */
  private def unpersistLeaves(df: DataFrame): Unit =
    try df.queryExecution.analyzed.collectLeaves().foreach {
      case lr: LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
        lr.rdd.getCheckpointFile.foreach { f =>
          val dir = new Path(f)
          dir.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration).delete(dir, true)
        }
      case _ => ()
    } catch { case NonFatal(t) => logWarning("materialize: release failed", t) }

  /** Unpersist every PER-QUERY tracked frame (Bench's between-pass
    * hygiene — N passes must not stack N copies of every transient).
    * Holders must not use a frame after release — the truncated lineage
    * cannot recompute the blocks. Pinned (shared-cache) frames survive.
    */
  def releaseTransients(): Unit = drain(tracked)

  /** Unpersist everything — transients AND pinned shared-cache frames
    * (SparkEntry.clearCaches teardown).
    */
  def releaseAll(): Unit = { drain(tracked); drain(pinned) }
}
