package graft

import org.apache.spark.sql.SparkSession

/** Opinionated session factory: the configuration posture this engine
  * assumes at scale, applied consistently by Verify/Bench/tests.
  *
  * - shuffle partitions sized to cores (local) — the 200 default
  *   over-schedules small stages and under-splits big ones;
  * - AQE on, with skew-join splitting (runtime re-plan is the first
  *   line of defense against data skew; graft.operators.Salting is the
  *   second, for aggregation skew AQE can't touch);
  * - 128 MiB file split targets so scan partitions fit executor memory
  *   at high compression ratios;
  * - ANSI mode pinned on (Spark 4's default), so the fixed-point long
  *   accumulators of the money queries raise on overflow instead of
  *   wrapping to a wrong sum.
  */
object GraftSession {
  def builder(appName: String, cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Runtime row-level join pruning: inject a bloom filter built from
      // the smaller join side into the bigger side's scan. Irrelevant at
      // fixture scale, decisive on selective 100 TB fact-dim joins.
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", (128L * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.ui.enabled", "false")
}
