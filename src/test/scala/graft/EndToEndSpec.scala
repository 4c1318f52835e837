package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.embed.TfIdfEmbedder
import graft.eval.RecallAtK
import graft.index.CollectionCatalog
import graft.ingest.{CollectionBuilder, PdfIngest}
import graft.search.{KnnExact, LshIndex}

/** Capstone: the reference's full lifecycle in one flow — document files
  * → per-page extraction (E3 ingest) → clean+embed base table →
  * cumulative prefix collections → exact + approximate search (E1) →
  * recall evaluation (E2). Everything a reference user does, end to end,
  * on this engine's API.
  */
class EndToEndSpec extends GraftSpec {
  import spark.implicits._

  test("files -> pages -> base table -> prefix collections -> search -> recall") {
    // 1. a tiny corpus of multi-page "documents"
    val dir = GraftSpec.tempDir("graft_e2e")
    val docsDir = dir.toString
    (0 until 6).foreach { i =>
      val pages = (0 until 4).map(p => s"doc$i page$p " + ("tok" + (i % 3) + " ") * 20)
      Files.writeString(Paths.get(docsDir, f"doc$i%02d.txt"), pages.mkString("\n\n"))
    }

    // 2. E3: extract pages, clean, sequence, embed, checkpoint
    val pages = PdfIngest.ingestDirectory(spark, docsDir, "*.txt")
      .withColumn("doc_id", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("pdf_name", "page_num")).cast("long") - 1)
    assert(pages.count() === 24)
    val embedder = TfIdfEmbedder.fit(pages, "text", 32)
    val basePath = dir.toString + "/base"
    val base = CollectionBuilder.buildBase(spark, pages, embedder, basePath)
      .withColumnRenamed("doc_id", "vec_id")
    assert(base.count() === 24)

    // 3. cumulative prefix collections + catalog round-trip
    val counts = CollectionCatalog.cumulativeCounts(base, step = 10).collect()
    assert(counts.map(_.getLong(2)).toSeq === Seq(10L, 20L, 24L))
    val view = CollectionCatalog.prefixView(base, 20)
    assert(view.count() === 20)

    // 4. E1: exact search over a prefix collection
    val queries = base.filter($"vec_id" < 2).select($"vec_id".as("qid"), $"embedding".as("qemb"))
    val gt = KnnExact.topK(queries, view, k = 5)
    assert(gt.count() === 10)
    // self is rank 1 at distance 0 (query vectors come from the view)
    assert(gt.filter($"rk" === 1 && $"dist" === 0.0).count() === 2)

    // 5. E2: approximate search + recall against the exact oracle
    val idx = LshIndex.fit(view, numHashTables = 8, bucketLength = 2.0)
    val approx = idx.topK(queries, view, k = 5, radius = 5.0)
    val recall = RecallAtK.evaluate(gt, approx, Seq(5))
      .agg(avg($"recall_5")).head().getDouble(0)
    assert(recall >= 0.6, s"end-to-end recall@5 = $recall")
  }
}
