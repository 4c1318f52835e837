package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.ingest.{ManifestIngest, PdfIngest, TextPayloadExtractor}
import graft.operators.Salting

class IngestSpec extends GraftSpec {
  import spark.implicits._

  test("S4: binaryFile scan -> page extraction -> posexplode with reference id scheme") {
    val dir = GraftSpec.tempDir("graft_pdf")
    Files.writeString(Paths.get(dir.toString, "paper1.txt"),
      "page one text\n\npage two text\n\n   \n\npage three")
    Files.writeString(Paths.get(dir.toString, "paper2.txt"), "only page")
    val pages = PdfIngest.ingestDirectory(spark, dir.toString, "*.txt")
    val rows = pages.orderBy("id").collect()
    // blank "page" filtered (F1); ids are {stem}_page_{n}, 1-based
    val ids = rows.map(_.getString(0)).toSeq
    assert(ids.contains("paper1_page_1") && ids.contains("paper2_page_1"))
    assert(!ids.exists(_.contains(".txt")))
    val p1 = rows.filter(_.getString(1) == "paper1")
    assert(p1.map(r => r.getString(3)).toSet === Set("page one text", "page two text", "page three"))
    // page numbering preserves position even with the filtered blank page
    assert(p1.map(_.getInt(2)).toSet === Set(1, 2, 4))
  }

  test("S4: extractor failure yields empty-string placeholder, not a crash") {
    val pages = TextPayloadExtractor.extractPages("x", Array[Byte](0x41, 0x0a, 0x0a, 0x42))
    assert(pages === Seq("A", "B"))
  }

  test("S2: manifest clean (F2) + version strip (C6) + skip-existing (J4)") {
    val manifest = Seq("2301.00001v2", "  ", "2301.00002", null, "2301.00001v3", "2301.00003")
      .toDF("arxiv_id")
    val cleaned = ManifestIngest.cleanManifest(manifest)
    assert(cleaned.as[String].collect().toSet === Set("2301.00001", "2301.00002", "2301.00003"))
    val existing = Seq("2301.00002").toDF("id")
    val pending = ManifestIngest.pendingDownloads(cleaned, existing)
    assert(pending.as[String].collect().toSet === Set("2301.00001", "2301.00003"))
  }

  test("S2: per-row fetch errors become status rows; A8 tallies + capped samples") {
    val pending = Seq("a", "b", "c", "d").toDF("id")
    val fetch: String => Array[Byte] = {
      case "b" => throw new RuntimeException("404")
      case id  => id.getBytes("UTF-8")
    }
    val results = ManifestIngest.fetchAll(spark, pending, fetch)
    val byStatus = results.groupBy("status").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byStatus === Map("ok" -> 3L, "error" -> 1L))
    val stats = ManifestIngest.fetchStats(results.toDF()).collect()
    val err = stats.find(_.getString(0) == "error").get
    assert(err.getLong(1) === 1L)
    assert(err.getSeq[String](2) === Seq("b"))
  }

  test("salted aggregation equals the unsalted groupBy") {
    val events = graft.model.Tables.events(spark, sfDir)
    val salted = Salting.saltedSumCount(events, Seq("event_type"), "value",
      saltFrom = Seq("event_id"), saltBuckets = 8)
      .select($"event_type", round($"sum_value", 4).as("s"), $"count")
    val plain = events.groupBy($"event_type")
      .agg(round(sum($"value"), 4).as("s"), count(lit(1)).as("count"))
    assert(salted.except(plain).count() === 0 && plain.except(salted).count() === 0)

    val saltedD = Salting.saltedCountDistinct(events, Seq("event_type"), "user_id", 8)
    val plainD = events.groupBy($"event_type")
      .agg(count_distinct($"user_id").as("n_distinct_user_id"))
    assert(saltedD.except(plainD).count() === 0 && plainD.except(saltedD).count() === 0)
  }

  test("typed collection facade round-trips the storage schema") {
    import graft.model.{Schemas, VectorRecord}
    val rows = java.util.Arrays.asList(
      org.apache.spark.sql.Row("p1_1", "hello", Array(1.0f, 2.0f),
        org.apache.spark.sql.Row("a.pdf", 1, 3)),
      org.apache.spark.sql.Row("p1_2", "world", Array(3.0f, 4.0f),
        org.apache.spark.sql.Row("a.pdf", 2, 3)))
    val df = spark.createDataFrame(rows, Schemas.collection)
    val ds = graft.index.CollectionCatalog.typed(df)
    val recs = ds.collect().sortBy(_.id)
    assert(recs.map(_.id).toSeq === Seq("p1_1", "p1_2"))
    assert(recs.head === VectorRecord("p1_1", "hello", Array(1.0f, 2.0f), "a.pdf", 1, 3)
      .copy(embedding = recs.head.embedding)) // array equality checked below
    assert(recs.head.embedding.toSeq === Seq(1.0f, 2.0f))
    assert(recs.map(_.pageNum).toSeq === Seq(1, 2))
    // typed lambdas compile and run distributed
    assert(ds.filter(_.pageNum == 2).count() === 1)
  }
}
