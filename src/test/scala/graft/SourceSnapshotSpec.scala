package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions._

import graft.functions.VectorExpressions
import graft.model.Tables
import graft.plans.{AggRewrite, AnnIndexRewrite, ConstraintRewrite, PlannerPin}
import graft.search.{Hnsw, IvfIndex}

/** The shared source-staleness guard ([[graft.plans.SourceSnapshots]])
  * as each planner family sees it: a registration keeps firing while
  * only metadata files change, is dropped (and counted) once a data
  * file is added, and survives a transient listing failure — declined
  * for the check interval, re-fired after `resetPlanCaches`.
  */
class SourceSnapshotSpec extends GraftSpec {
  import spark.implicits._

  private val Interval = "spark.graft.staleness.intervalMs"

  /** One planner family: how to register over a source (its `flaky:`
    * path, its local directory and the frame read from it), the query
    * the registration answers, and the family's fire detector and hooks.
    */
  private case class Family(
      name: String,
      rule: Rule[LogicalPlan],
      register: (String, JPath, DataFrame) => Unit,
      query: DataFrame => DataFrame,
      fired: (String, LogicalPlan) => Boolean,
      droppedStale: AtomicLong,
      resetPlanCaches: () => Unit,
      clear: () => Unit)

  private lazy val qv: Array[Float] = Tables.embeddings(spark, sfDir)
    .filter($"vec_id" === 0).select("embedding").head().getSeq[Float](0).toArray

  private val families = Seq(
    Family("ANN index", AnnIndexRewrite,
      (src, _, emb) => {
        VectorExpressions.ensureRegistered(spark)
        val cent = IvfIndex.seedCentroids(emb, 4)
        val idx = Hnsw.buildRoutedIndex(spark, emb, cent).localCheckpoint(true)
        AnnIndexRewrite.register(src, AnnIndexRewrite.IndexSpec(idx, cent,
          nprobe = 4, efSearch = 4096, exhaustiveProbe = true))
      },
      emb => emb.select($"vec_id",
          VectorExpressions.l2Sq(typedLit(qv), $"embedding").as("dist2"))
        .orderBy($"dist2", $"vec_id").limit(10),
      (_, plan) => PlannerPin.annSpliced("vec_id")(plan),
      AnnIndexRewrite.droppedStale,
      () => AnnIndexRewrite.resetPlanCaches(),
      () => AnnIndexRewrite.clear()),
    Family("Agg MV", AggRewrite,
      (src, local, emb) => {
        val mvDir = local.resolveSibling("mv").toString
        emb.groupBy($"label").agg(count(lit(1)).as("n"))
          .write.mode("overwrite").parquet(mvDir)
        AggRewrite.register(src, AggRewrite.MvSpec(spark.read.parquet(mvDir),
          groupCols = Seq("label"), measures = Map("n" -> (("count", ""))),
          mvPath = Some(mvDir)))
      },
      emb => emb.groupBy($"label").agg(count(lit(1)).as("n")),
      (src, plan) => !PlannerPin.scansPath(plan, src),
      AggRewrite.droppedStale,
      () => AggRewrite.resetPlanCaches(),
      () => AggRewrite.clear()),
    Family("constraint claim", ConstraintRewrite,
      (src, _, _) => ConstraintRewrite.registerUnique(spark, src, "vec_id"),
      // a LEFT OUTER join to a verified-unique dim whose columns are
      // unused is droppable under uniqueness alone
      emb => spark.range(20).toDF("k")
        .join(emb, $"k" === $"vec_id", "left_outer")
        .groupBy($"k").agg(count(lit(1)).as("n")),
      (src, plan) => !PlannerPin.scansPath(plan, src),
      ConstraintRewrite.droppedStale,
      () => ConstraintRewrite.resetPlanCaches(),
      () => ConstraintRewrite.clear()))

  /** Copy the embeddings fixture into a private directory, read it ONCE
    * through the `flaky:` scheme while listing works (the relation's
    * file index is frozen, so later plans list only through the guard)
    * and hand the body (flaky path, local directory, frame).
    */
  private def withFlakySource[A](body: (String, JPath, DataFrame) => A): A = {
    spark.sparkContext.hadoopConfiguration.set("fs.flaky.impl", classOf[FlakyFs].getName)
    val base = GraftSpec.tempDir("graft_snap_src")
    try {
      val local = base.resolve("src.parquet")
      val seed = Tables.embeddings(spark, sfDir)
      seed.unpersist(true)
      seed.write.parquet(local.toString)
      val flaky = "flaky:" + local
      body(flaky, local, spark.read.parquet(flaky))
    } finally {
      FlakyFs.fail.set(false)
      val p = new org.apache.hadoop.fs.Path(base.toString)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  /** Add one more data file to a parquet directory (a copy of an
    * existing part under a new name): a change the exact plan would see.
    */
  private def addDataFile(dir: JPath): Unit = {
    val files = Files.list(dir)
    val part = try files.filter(_.getFileName.toString.startsWith("part-")).findFirst().get()
    finally files.close()
    Files.copy(part, dir.resolve("part-99999-added.snappy.parquet"))
  }

  families.foreach { f =>
    test(s"${f.name}: metadata rewrites keep it, a data file drops it, " +
        "a listing failure declines but keeps it") {
      f.clear()
      withFlakySource { (src, local, emb) =>
        f.register(src, local, emb)
        // a verdict, once taken, stands for the whole interval: every
        // re-check below is forced through resetPlanCaches
        spark.conf.set(Interval, "3600000")
        spark.experimental.extraOptimizations = Seq(f.rule)
        try {
          def fires(): Boolean = f.fired(src, f.query(emb).queryExecution.optimizedPlan)
          assert(fires(), "fresh registration fires")
          val dropped = f.droppedStale.get()

          // committers rewrite `_SUCCESS` and `.crc` files without
          // touching data: the listing fingerprint skips them
          Files.write(local.resolve("_SUCCESS"), "rewritten".getBytes(UTF_8))
          Files.write(local.resolve("._SUCCESS.crc"), "rewritten crc".getBytes(UTF_8))
          f.resetPlanCaches()
          assert(fires(), "metadata-only rewrites keep the registration firing")

          FlakyFs.fail.set(true)
          f.resetPlanCaches()
          assert(!fires(), "an unverifiable listing declines to the exact plan")
          FlakyFs.fail.set(false)
          assert(!fires(), "the unknown verdict stands for the interval")
          f.resetPlanCaches()
          assert(fires(), "after resetPlanCaches the kept registration fires again")
          assert(f.droppedStale.get() === dropped,
            "a transient failure must not drop the registration")

          addDataFile(local)
          f.resetPlanCaches()
          assert(!fires(), "a new data file makes the registration stale")
          assert(f.droppedStale.get() === dropped + 1, "the drop is counted once")
          f.resetPlanCaches()
          assert(!fires(), "the registration is gone, not just declined")
          assert(f.droppedStale.get() === dropped + 1)
        } finally {
          spark.conf.unset(Interval)
          spark.experimental.extraOptimizations = Nil
          f.clear()
        }
      }
    }
  }

  test("Agg join view: a data file added to the second source alone drops the view") {
    AggRewrite.clear()
    val base = GraftSpec.tempDir("graft_snap_join")
    val liDir = base.resolve("lineitem.parquet")
    val ordDir = base.resolve("orders.parquet")
    val mvDir = base.resolve("mv").toString
    try {
      Tables.lineitem(spark, sfDir).write.parquet(liDir.toString)
      Tables.orders(spark, sfDir).write.parquet(ordDir.toString)
      val li = spark.read.parquet(liDir.toString)
      val ord = spark.read.parquet(ordDir.toString)
      def q: DataFrame = li.join(ord, $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderpriority").agg(count(lit(1)).as("n"))
      q.write.parquet(mvDir)
      AggRewrite.registerJoin(liDir.toString, ordDir.toString,
        AggRewrite.JoinMvSpec(spark.read.parquet(mvDir),
          leftKey = "l_orderkey", rightKey = "o_orderkey",
          groupCols = Seq("o_orderpriority"),
          measures = Map("n" -> (("count", ""))), mvPath = Some(mvDir)))
      spark.conf.set(Interval, "3600000")
      spark.experimental.extraOptimizations = Seq(AggRewrite)
      def fires(): Boolean = PlannerPin.aggSpliced(Seq(liDir.toString, ordDir.toString))(
        q.queryExecution.optimizedPlan)
      assert(fires(), "fresh join view: neither source is scanned")
      val dropped = AggRewrite.droppedStale.get()
      addDataFile(ordDir)
      AggRewrite.resetPlanCaches()
      assert(!fires(), "the orders change alone makes the view stale")
      assert(AggRewrite.droppedStale.get() === dropped + 1)
      AggRewrite.resetPlanCaches()
      assert(!fires(), "the view is gone, not just declined")
    } finally {
      spark.conf.unset(Interval)
      spark.experimental.extraOptimizations = Nil
      AggRewrite.clear()
      val p = new org.apache.hadoop.fs.Path(base.toString)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }
}
