package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.model.Tables
import graft.streaming.{AggMaintenance, DedupMaintenance, IndexMaintenance, StreamTwin}

/** The shared stream harness: a twin's drain survives a crash between
  * its batch commit and the checkpoint commit, and the cycle leaves no
  * scratch dir behind.
  */
class StreamTwinSpec extends GraftSpec {

  private lazy val docs = Tables.documents(spark, sfDir).select("doc_id", "text").cache()

  private lazy val facts = Tables.lineitem(spark, sfDir)
    .select("l_returnflag", "l_linestatus", "l_orderkey", "l_quantity")

  /** Shatter `src` into 3 files, drain them through `commit` with a
    * crash injected right after batch 1's commit (before the checkpoint
    * records it), then restart the drain on the same checkpoint. Returns
    * the batch ids the restarted drain ran.
    */
  private def crashAndRestart(base: String, src: DataFrame, shatterBy: Seq[Column])(
      commit: (DataFrame, Long) => Unit): Seq[Long] = {
    val srcDir = s"$base/src"
    val ckpt = s"$base/ckpt"
    src.repartition(3, xxhash64(shatterBy: _*)).write.parquet(srcDir)
    assert(IndexMaintenance.parquetFileCount(spark, srcDir) === 3)
    val schema = spark.read.parquet(srcDir).schema
    val crashed = StreamTwin.drain(spark, srcDir, ckpt, schema) { (batch, batchId) =>
      commit(batch, batchId)
      if (batchId == 1L) throw new IllegalStateException("injected crash after commit")
    }
    val err = intercept[Exception](try crashed.processAllAvailable() finally crashed.stop())
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage.contains("injected crash")), err.toString)
    val restarted = StreamTwin.drain(spark, srcDir, ckpt, schema)(commit)
    try restarted.processAllAvailable() finally restarted.stop()
    restarted.recentProgress.filter(_.numInputRows > 0).map(_.batchId).toSeq
  }

  test("dedup twin: a restart after a crash between commit and checkpoint is exact") {
    StreamTwin.scratch(spark, "graft_twin_restart") { base =>
      val storeDir = s"$base/store"
      val pairsDir = s"$base/pairs"
      val replayed = crashAndRestart(base, docs, Seq(col("doc_id"), col("text"))) {
        (batch, batchId) => DedupMaintenance.appendBatch(batch, storeDir, pairsDir, batchId)
      }
      assert(replayed === Seq(1L, 2L), "the restart must re-run batch 1, then run batch 2")
      val pairs = spark.read.parquet(pairsDir).select("id_a", "id_b", "jaccard")
      val expected = Dedup.ngramJaccardPairs(docs, 3, 0.6)
      assert(pairs.count() === pairs.distinct().count(), "no pair may be flagged twice")
      assert(pairs.exceptAll(expected).isEmpty && expected.exceptAll(pairs).isEmpty)
      val store = spark.read.parquet(storeDir).select("id", "sz", "s")
      assert(store.count() === Dedup.hashedPostings(docs, 3).count(),
        "the replayed batch must replace its postings, not add a second copy")
    }
  }

  test("agg rollup twin: a restart after a crash between commit and checkpoint is exact") {
    val keys = Seq("l_returnflag", "l_linestatus")
    val measures = AggMaintenance.Measures(
      partial = Seq(count(lit(1)).as("n"), sum(col("l_orderkey")).as("sum_ok"),
        min(col("l_quantity")).as("min_qty"), max(col("l_quantity")).as("max_qty")),
      merge = Seq(sum(col("n")).as("n"), sum(col("sum_ok")).as("sum_ok"),
        min(col("min_qty")).as("min_qty"), max(col("max_qty")).as("max_qty")))
    def rows(df: DataFrame) = df.select("l_returnflag", "l_linestatus", "n", "sum_ok",
      "min_qty", "max_qty").collect().map(_.toSeq).sortBy(_.take(2).mkString("|")).toSeq
    StreamTwin.scratch(spark, "graft_twin_restart") { base =>
      val rollupDir = s"$base/rollup"
      val replayed = crashAndRestart(base, facts, facts.columns.toSeq.map(col)) {
        (batch, batchId) => AggMaintenance.appendBatch(batch, keys, measures, rollupDir, batchId)
      }
      assert(replayed === Seq(1L, 2L), "the restart must re-run batch 1, then run batch 2")
      val view = AggMaintenance.readView(spark, rollupDir, keys, measures)
      val direct = facts.groupBy(keys.map(col): _*)
        .agg(measures.partial.head, measures.partial.tail: _*)
      val got = rows(view)
      assert(got.map(_.take(2)).distinct.size === got.size, "one view row per group")
      assert(got === rows(direct), "the restarted view must equal the direct groupBy")
    }
  }

  /** Temp-dir entries whose names start with `prefix`. */
  private def scratchDirs(prefix: String): Set[String] =
    Option(new java.io.File(System.getProperty("java.io.tmpdir")).list())
      .map(_.filter(_.startsWith(prefix)).toSet).getOrElse(Set.empty)

  test("run returns a materialized result and leaves no scratch dir, on success and failure") {
    val prefix = "graft_twin_spec_cycle"
    val before = scratchDirs(prefix)
    val src = docs.select("doc_id")
    val out = StreamTwin.run(spark, prefix, src, 2, Seq(col("doc_id"))) {
      (dir, batch, batchId) => batch.write.parquet(s"$dir/out/batch_id=$batchId")
    } { dir => spark.read.parquet(s"$dir/out") }
    assert(scratchDirs(prefix) === before, "a finished cycle must delete its scratch dir")
    // readable after the dir is gone: the result was materialized first
    assert(out.select("doc_id").distinct().count() === src.count())
    assert(out.select("batch_id").distinct().count() === 2L)
    graft.operators.Materialize.releaseOne(out)

    intercept[Exception] {
      StreamTwin.run(spark, prefix, src, 2, Seq(col("doc_id"))) {
        (_, _, _) => throw new IllegalStateException("injected batch failure")
      } { dir => spark.read.parquet(s"$dir/out") }
    }
    assert(scratchDirs(prefix) === before, "a failed cycle must delete its scratch dir too")
  }
}

