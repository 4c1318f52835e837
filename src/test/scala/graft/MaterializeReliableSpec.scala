package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.CheckpointDirs
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD

import graft.dedup.{Clusters, Dedup}
import graft.index.VectorStore
import graft.model.Tables
import graft.operators.{Coreset, Materialize}
import graft.textual.{Bpe, UnigramLm}

/** The iterative operators under `spark.graft.materialize=reliable`:
  * every lineage cut they make goes through `Materialize`, so the conf
  * must switch them to reliable checkpoints, and the results must equal
  * a `local` run of the same inputs.
  */
class MaterializeReliableSpec extends GraftSpec {
  import spark.implicits._

  private lazy val ckptDir = GraftSpec.tempDir("graft_reliable_spec").toString

  private def checkpointDirs: Set[Path] =
    spark.sparkContext.getCheckpointDir.map(new Path(_)).toSeq.flatMap { d =>
      val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(d)) Nil
      else fs.listStatus(d).map(_.getPath).filter(_.getName.startsWith("rdd-")).toSeq
    }.toSet

  /** Run `body` under the reliable strategy and `check` its result with
    * the `rdd-*` dirs it wrote under the context checkpoint dir; then
    * delete those dirs and restore the default strategy and the
    * context's checkpoint dir (the first reliable use in a JVM sets it,
    * from `spark.graft.materialize.dir` when given).
    */
  private def reliably[T](body: => T)(check: (T, Set[Path]) => Unit): Unit =
    CheckpointDirs.restoring(spark.sparkContext) {
      spark.conf.set("spark.graft.materialize", "reliable")
      spark.conf.set("spark.graft.materialize.dir", ckptDir)
      try {
        val before = checkpointDirs
        val out = body
        val written = checkpointDirs -- before
        try check(out, written)
        finally written.foreach(p =>
          p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true))
      } finally {
        spark.conf.unset("spark.graft.materialize")
        spark.conf.unset("spark.graft.materialize.dir")
      }
    }

  private def checkpointedLeaf(df: DataFrame): Boolean = {
    val leaves = df.queryExecution.analyzed.collectLeaves().collect { case lr: LogicalRDD => lr }
    leaves.nonEmpty && leaves.forall(_.rdd.getCheckpointFile.isDefined)
  }

  private def pairsOf(df: DataFrame): Seq[(Long, Long)] =
    df.select("id_a", "id_b").as[(Long, Long)].collect().toSeq.sorted

  test("Clusters' star contraction labels match local and sit on a reliable checkpoint") {
    // chain + triangle + pair; maxDriverEdges = 0 forces the distributed rounds
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L)).toDF("id_a", "id_b")
    def run = Clusters.connectedComponents(pairs, maxDriverEdges = 0)
    val local = run.as[(Long, Long)].collect().toMap
    reliably(run) { (labels, written) =>
      assert(checkpointedLeaf(labels), "the returned labels must read a reliable checkpoint")
      assert(written.nonEmpty)
      assert(labels.as[(Long, Long)].collect().toMap === local)
      assert(local(5L) === 1L && local(12L) === 10L && local(21L) === 20L)
    }
  }

  test("Bpe.trainMerges learns the same merges and word table as local") {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val (localMerges, localWords) = Bpe.trainMerges(spark, docs, "text", 4)
    val localTable = localWords.as[(String, Long, String)].collect().toSeq.sorted
    reliably(Bpe.trainMerges(spark, docs, "text", 4)) {
      case ((merges, words), written) =>
        assert(checkpointedLeaf(words), "the final word table must read a reliable checkpoint")
        assert(written.nonEmpty)
        assert(merges === localMerges)
        assert(words.as[(String, Long, String)].collect().toSeq.sorted === localTable)
    }
    Materialize.releaseOne(localWords)
  }

  test("UnigramLm.train fits the same vocab as local") {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    def run = UnigramLm.train(spark, docs, "text", vocabSize = 48)
    val local = run
    reliably(run) { (vocab, written) =>
      assert(written.nonEmpty, "the word table must be a reliable checkpoint")
      assert(vocab === local)
    }
  }

  test("Coreset.kcenter picks the same points as local") {
    val emb = Tables.embeddings(spark, sfDir).filter($"vec_id" < 200)
    val local = Coreset.kcenter(spark, emb, 5)
    reliably(Coreset.kcenter(spark, emb, 5)) { (picks, written) =>
      assert(written.size >= 5, "each pick's distance table must be a reliable checkpoint")
      assert(picks === local)
    }
  }

  test("VectorStore upsert then delete leave the same collection as local") {
    def records(ids: Range, tag: String) = spark.createDataFrame(
      java.util.Arrays.asList(ids.map { i =>
        Row(s"p$i", s"$tag $i", Array(i.toFloat, (i * 2).toFloat), Row(s"f$i.pdf", i, 100))
      }: _*), graft.model.Schemas.collection)
    def run: Seq[(String, String)] = {
      val store = new VectorStore(spark, GraftSpec.tempDir("graft_store_reliable").toString)
      store.add("c", records(0 until 6, "v1"))
      store.upsert("c", records(4 until 9, "v2"))
      store.delete("c", Seq("p1", "p5", "p8").toDF("id"))
      store.collection("c").select("id", "document").as[(String, String)].collect().toSeq.sorted
    }
    val local = run
    assert(local.map(_._1) === Seq("p0", "p2", "p3", "p4", "p6", "p7"))
    reliably(run) { (state, written) =>
      assert(written.size >= 2, "upsert's rows and delete's ids must be reliable checkpoints")
      assert(state === local)
    }
  }

  test("Dedup.minHash finds the same pairs as local") {
    val docs = Tables.documents(spark, sfDir)
    val local = pairsOf(Dedup.minHash(docs, 3, 0.6))
    reliably(pairsOf(Dedup.minHash(docs, 3, 0.6))) { (pairs, written) =>
      assert(written.nonEmpty, "the shingle sets must be a reliable checkpoint")
      assert(pairs === local)
    }
    Materialize.releaseTransients()
  }
}
