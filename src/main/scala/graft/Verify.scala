package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional extra args: restrict to named queries (dev spot-checks;
    // the driver always passes exactly two args → full surface).
    val only = args.drop(2).toSet
    val queries = if (only.isEmpty) SparkEntry.queries
      else SparkEntry.queries.view.filterKeys(only).toMap
    val oracles = if (only.isEmpty) SparkEntry.oracleSql
      else SparkEntry.oracleSql.view.filterKeys(only).toMap
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val spark = GraftSession.builder("graft-verify", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // cap RDD loggers at ERROR: releasing locally-checkpointed frames
    // WARNs unavoidably (see Bench) and the spam buries real warnings
    try org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)
    catch { case NonFatal(_) => () }
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // oracle_sql.json lands BEFORE the query loop (r18 verdict #1: the
    // driver's gate died mid-run and left `{}` — with the oracle map
    // written first, a killed Verify still leaves every finished query's
    // parquet + the full SQL map, so check_oracle can grade the prefix).
    val json = oracles
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Small fixed pool (Bench's discipline — shared-cache builders run
    // to completion first, because persist() does not dedupe in-flight
    // partition computation): cuts the driver gate's longest pole, the
    // sequential ~9-min query loop, ~3×. Per-query output dirs are
    // disjoint. SPARK_GRAFT_VERIFY_THREADS=1 restores the sequential loop.
    // Hardened parse (r20 ADVICE): a non-numeric value falls back to the
    // default instead of crashing the whole verify run.
    val threads = sys.env.get("SPARK_GRAFT_VERIFY_THREADS")
      .flatMap(_.toIntOption).getOrElse(4)
    val failures = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val inFlight = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    def runOne(name: String): Unit = {
      val fn = queries(name)
      inFlight.add(name)
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        failures.put(name, Option(e.getMessage).getOrElse(e.getClass.getName))
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      } finally inFlight.remove(name)
    }
    val prelude = SparkEntry.cacheBuilderQueries.toSeq.sorted.filter(queries.contains)
    prelude.foreach(runOne)
    val rest = queries.keys.toSeq.sorted.filterNot(prelude.contains)
    if (threads <= 1) rest.foreach(runOne)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
      rest.foreach(n => pool.execute(() => runOne(n)))
      pool.shutdown()
      // On timeout, kill the workers and RECORD the still-running
      // queries as failures (r19 ADVICE: a discarded awaitTermination
      // boolean let check_oracle grade half-written parquet dirs as
      // data corruption instead of a named failure). The bound is
      // env-tunable (seconds) so the straggler path is drivable in a
      // test without waiting out the 2 h default.
      val timeoutS = sys.env.get("SPARK_GRAFT_VERIFY_TIMEOUT_S")
        .flatMap(_.toLongOption).getOrElse(7200L)
      val done = pool.awaitTermination(timeoutS, java.util.concurrent.TimeUnit.SECONDS)
      if (!done) {
        pool.shutdownNow()
        // Record failures only for queries STILL in flight after the
        // workers have actually stopped (r20 ADVICE): shutdownNow only
        // interrupts, and a Spark write can complete after the sweep —
        // a fully-written result would then be graded as a named
        // failure while its parquet reads fine. A short second wait
        // lets interrupted workers unwind so the failure record and
        // the on-disk artifact agree; queries that finish during it
        // drop out of inFlight and stay green.
        pool.awaitTermination(30, java.util.concurrent.TimeUnit.SECONDS)
        import scala.jdk.CollectionConverters._
        inFlight.asScala.foreach { n =>
          failures.put(n, s"verify pool timeout: query still running at ${timeoutS}s")
          System.err.println(s"[verify] $n still running at pool timeout")
          // delete the partial output so check_oracle sees a missing
          // dir (named failure), never a half-written parquet graded
          // as data corruption
          try {
            val p = new org.apache.hadoop.fs.Path(s"$outDir/$n")
            p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
          } catch { case NonFatal(_) => () }
        }
      }
    }
    // Diagnosability sidecar (r17 verdict #1: the one driver flake was
    // unexplainable from the artifact): every planner counter, plus any
    // per-query exceptions, land next to oracle_sql.json — a false
    // rewrite_fired pin now names its decline path (fallbacks vs
    // droppedStale vs filteredSkippedApprox vs a thrown probe).
    val ann = graft.plans.AnnIndexRewrite
    val agg = graft.plans.AggRewrite
    val counters: Seq[(String, Long)] = Seq(
      "ann_fired" -> ann.fired.get(),
      "ann_firedFiltered" -> ann.firedFiltered.get(),
      "ann_filteredFallbacks" -> ann.filteredFallbacks.get(),
      "ann_filteredSkippedApprox" -> ann.filteredSkippedApprox.get(),
      "ann_firedBatch" -> ann.firedBatch.get(),
      "ann_firedBatchFiltered" -> ann.firedBatchFiltered.get(),
      "ann_batchFilteredFallbacks" -> ann.batchFilteredFallbacks.get(),
      "ann_droppedStale" -> ann.droppedStale.get(),
      "agg_fired" -> agg.fired.get(),
      "agg_fallbacks" -> agg.fallbacks.get(),
      "agg_droppedStale" -> agg.droppedStale.get(),
      "constraint_fired" -> graft.plans.ConstraintRewrite.fired.get(),
      "constraint_fallbacks" -> graft.plans.ConstraintRewrite.fallbacks.get(),
      "constraint_droppedStale" -> graft.plans.ConstraintRewrite.droppedStale.get())
    val failuresSorted = {
      import scala.jdk.CollectionConverters._
      failures.asScala.toSeq.sortBy(_._1)
    }
    val countersJson = counters.map { case (k, v) => s"${q(k)}: $v" }
      .mkString(",") + s""", ${q("failures")}: """ +
      failuresSorted.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/planner_counters.json"),
      "{" + countersJson + "}")
    SparkEntry.clearCaches()
    spark.stop()
  }
}
