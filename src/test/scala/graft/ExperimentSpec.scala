package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.bench.{RecallExperiment, SpeedExperiment}
import graft.embed.TfIdfEmbedder
import graft.index.CollectionCatalog
import graft.ingest.CollectionBuilder
import graft.model.Tables

/** End-to-end lifecycle tests for the reference's three entry points
  * (SURVEY.md §3): E1 speed benchmark, E2 recall benchmark, E3 build.
  */
class ExperimentSpec extends GraftSpec {
  import spark.implicits._

  private lazy val base = CollectionCatalog
    .seqFromId(Tables.embeddings(spark, sfDir), "vec_id").cache()
  private lazy val queries = Tables.embeddings(spark, sfDir)
    .filter($"vec_id" < 2).select($"vec_id".as("qid"), $"embedding".as("qemb")).cache()

  test("E1 speed experiment: timings per (collection, query, run) + stats + sinks") {
    val out = GraftSpec.tempDir("graft_speed").toString
    val timings = SpeedExperiment.run(spark, base, queries, step = 250, topK = 5, numRuns = 2)
    // 2 collections x 2 queries x 2 runs
    assert(timings.count() === 8)
    assert(timings.filter($"search_ms" <= 0).count() === 0)
    val perQ = SpeedExperiment.perQueryStats(timings)
    assert(perQ.count() === 4)
    assert(perQ.columns.toSet.contains("std_samp_v")) // A4: SAMPLE stddev
    val perC = SpeedExperiment.perCollectionStats(timings)
    assert(perC.count() === 2)
    SpeedExperiment.save(perQ, perC, out)
    assert(spark.read.json(s"$out/speed_results_json").count() === 4)
    assert(spark.read.option("header", "true").csv(s"$out/speed_summary_csv").count() === 2)
  }

  test("E2 recall experiment: recall@5/@10 per collection vs exact oracle") {
    val recalls = RecallExperiment.run(spark, base, queries, step = 250)
    assert(recalls.count() === 4) // 2 collections x 2 queries
    val ok = recalls.filter($"recall_10".between(0.0, 1.0) && $"recall_5".between(0.0, 1.0))
    assert(ok.count() === 4)
    val stats = RecallExperiment.perCollectionStats(recalls)
    assert(stats.count() === 2)
    assert(stats.columns.toSet.contains("std_recall_10")) // A5: POPULATION stddev
    // LSH at this config should stay in the reference's observed band
    assert(stats.agg(min($"mean_recall_10")).head().getDouble(0) >= 0.6)
  }

  test("E2 guard: empty base yields an empty frame, and partial-collection names match counts") {
    val empty = base.filter($"vec_id" < 0)
    val recalls = RecallExperiment.run(spark, empty, queries, step = 250)
    assert(recalls.count() === 0)
    assert(recalls.columns.toSet ===
      Set("qid", "recall_5", "recall_10", "collection", "num_documents"))
    // partial final collection: name pages == num_documents (ADVICE r01)
    val partial = RecallExperiment.run(spark, base.filter($"vec_id" < 300), queries, step = 250)
    val names = partial.select($"collection", $"num_documents").distinct()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    names.foreach { case (name, nDocs) =>
      val parsed = name.split("_").last.stripSuffix("pages").toLong
      assert(parsed === nDocs, s"$name label disagrees with num_documents=$nDocs")
    }
  }

  test("experiment sidecar artifacts: JSON/CSV/parquet sinks + the four reference PNGs") {
    val out = GraftSpec.tempDir("graft_artifacts").toString
    val (perQuery, perColl, recallStats) = graft.bench.ExperimentArtifacts
      .writeAll(spark, sfDir, out, maxVectors = 400, nQueries = 2, numRuns = 2)
    // 400 vectors / step 100 = 4 collections; 2 queries each
    assert(perQuery.count() === 8)
    assert(perColl.count() === 4)
    assert(recallStats.count() === 4)
    // parquet twins round-trip with the same schema
    val pq = spark.read.parquet(s"$out/speed_per_collection_parquet")
    assert(pq.columns.toSet === perColl.columns.toSet)
    assert(pq.count() === 4)
    assert(spark.read.parquet(s"$out/recall_stats_parquet").count() === 4)
    assert(spark.read.json(s"$out/speed_results_json").count() === 8)
    assert(spark.read.option("header", "true").csv(s"$out/recall_summary_csv").count() === 4)
    // S11: the four PNGs exist, carry the PNG signature, decode to the
    // declared canvas
    Seq("search_speed_by_pages.png", "search_speed_by_collection.png",
      "recall_by_pages.png", "recall_by_collection.png").foreach { name =>
      val f = new java.io.File(s"$out/$name")
      assert(f.exists() && f.length() > 1000, s"$name missing or trivially small")
      val sig = java.nio.file.Files.readAllBytes(f.toPath).take(8)
      assert(sig.sameElements(Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)),
        s"$name is not a PNG")
      val img = javax.imageio.ImageIO.read(f)
      assert(img.getWidth === 900 && img.getHeight === 540, s"$name wrong canvas")
    }
  }

  test("E3 build: checkpointed base table, resume point, plan, skip-existing") {
    val out = GraftSpec.tempDir("graft_base").toString + "/base"
    val docs = Tables.documents(spark, sfDir).limit(120)
    val embedder = TfIdfEmbedder.fit(docs, "text", 32)
    val built = CollectionBuilder.buildBase(spark, docs, embedder, out)
    assert(built.columns.toSet === Set("doc_id", "seq", "text", "embedding"))
    val n = built.count()
    assert(n === 120)
    // second call loads the checkpoint (no rebuild): same contents
    val again = CollectionBuilder.buildBase(spark, docs, embedder, out)
    assert(again.select("doc_id").except(built.select("doc_id")).count() === 0)

    assert(CollectionBuilder.resumePoint(spark,
      Seq("collection_0001_100pages", "collection_0002_200pages", "garbage")) === 200L)
    assert(CollectionBuilder.resumePoint(spark, Seq.empty) === 0L)
    assert(CollectionBuilder.planCollections(250, 100) === Seq(1 -> 100L, 2 -> 200L, 3 -> 250L))
    assert(CollectionBuilder.skipExisting(spark,
      Seq("a", "b", "c"), Seq("b")) === Seq("a", "c"))
  }
}
