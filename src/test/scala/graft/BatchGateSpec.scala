package graft

import java.util.concurrent.{Callable, Executors, TimeUnit}

import org.apache.spark.sql.Row

/** The batch-ANN opt-in under concurrency. Six `ann_planner_*_multi`
  * queries opt their query frame into the batch rewrite with
  * `AnnIndexRewrite.batchOptIn`; four siblings run the same ranking
  * window over the same registered table without the mark, so the
  * 64 MiB scan-size gate keeps them exact. Verify and Bench run queries
  * from a thread pool on ONE shared session, so the opt-in must belong
  * to each plan: this spec runs both groups interleaved on a 4-thread
  * pool and pins that every opt-in row carries rewrite_fired=true, that
  * no sibling plan carries the candidate-id splice, and that every
  * query's rows equal a sequential run's.
  */
class BatchGateSpec extends GraftSpec {

  private val optIn = Seq(
    "ann_planner_rewrite_multi", "ann_planner_filtered_multi",
    "ann_planner_cosine_multi", "ann_planner_cosine_filtered_multi",
    "ann_planner_ip_multi", "ann_planner_ip_filtered_multi")
  private val siblings = Seq(
    "knn_exact_multi", "ann_filtered_top10", "knn_cosine_top10", "knn_dot_top10")

  /** The query's rows, and whether its optimized plan carries the ANN
    * candidate-id splice (the opt-in queries materialize eagerly, so
    * their plans read as already executed: their own pin is the
    * rewrite_fired column).
    */
  private def run(n: String): (Seq[Row], Boolean) = {
    val df = SparkEntry.queries(n)(spark, sfDir)
    val spliced = graft.plans.PlannerPin.annSpliced("vec_id")(df.queryExecution.optimizedPlan)
    (df.collect().toSeq, spliced)
  }

  test("concurrent opt-in and unmarked batch queries match a sequential run") {
    // the shared test session has no GraftSession extensions — install
    // the ANN rule for the duration (the PlannerPinSpec pattern)
    spark.experimental.extraOptimizations = Seq(graft.plans.AnnIndexRewrite)
    val pool = Executors.newFixedThreadPool(4)
    try {
      // the opt-in queries run first, so the L2, cosine and ip planner
      // indexes are all registered before any sibling plans
      val sequential = (optIn ++ siblings).map(n => n -> run(n)._1).toMap
      val interleaved = optIn.zipAll(siblings, "", "")
        .flatMap { case (a, b) => Seq(a, b) }.filter(_.nonEmpty)
      val futures = (interleaved ++ interleaved).map { n =>
        pool.submit(new Callable[(String, (Seq[Row], Boolean))] {
          def call(): (String, (Seq[Row], Boolean)) = (n, run(n))
        })
      }
      futures.foreach { f =>
        val (n, (rows, spliced)) = f.get(10, TimeUnit.MINUTES)
        assert(rows.nonEmpty, s"$n: produced rows")
        if (optIn.contains(n))
          assert(rows.forall(_.getAs[Boolean]("rewrite_fired")),
            s"$n: every row pins rewrite_fired=true while siblings plan concurrently")
        else
          assert(!spliced, s"$n: an unmarked sibling keeps the exact plan")
        assert(rows === sequential(n), s"$n: concurrent rows equal the sequential run's")
      }
    } finally {
      pool.shutdownNow()
      spark.experimental.extraOptimizations = Nil
    }
  }
}
