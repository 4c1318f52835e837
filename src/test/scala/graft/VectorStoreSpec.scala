package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.index.VectorStore

class VectorStoreSpec extends GraftSpec {
  import spark.implicits._

  private def records(ids: Range) = {
    val rows = ids.map { i =>
      Row(s"p$i", s"doc $i", Array(i.toFloat, (i * 2).toFloat), Row(s"f$i.pdf", i, 100))
    }
    spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), graft.model.Schemas.collection)
  }

  /** Spark jobs `body` starts ([[SparkWork]]). */
  private def jobsOf(body: => Unit): Int = SparkWork.of(spark)(body).jobs

  /** (name, length, modification time) of every file under `dir`. */
  private def files(dir: String): Set[(String, Long, Long)] = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p)
      .map(st => (st.getPath.getName, st.getLen, st.getModificationTime)).toSet
  }

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("client lifecycle: create / add / count / list / delete") {
    val wh = GraftSpec.tempDir("graft_store").toString
    val store = new VectorStore(spark, wh)
    assert(store.listCollections() === Seq.empty)

    store.getOrCreateCollection("col_a")
    assert(store.count("col_a") === 0)
    // idempotent get_or_create keeps existing rows
    store.add("col_a", records(0 until 10))
    store.getOrCreateCollection("col_a")
    assert(store.count("col_a") === 10)
    // appends accumulate (the reference's batched add)
    store.add("col_a", records(10 until 25))
    assert(store.count("col_a") === 25)

    store.getOrCreateCollection("col_b")
    assert(store.listCollections() === Seq("col_a", "col_b"))
    assert(store.deleteCollection("col_b"))
    assert(store.listCollections() === Seq("col_a"))
  }

  test("query returns self at rank 1 with documents attached") {
    val wh = GraftSpec.tempDir("graft_store_q").toString
    val store = new VectorStore(spark, wh)
    store.add("c", records(0 until 30))
    val queries = Seq((3L, Array(3.0f, 6.0f)), (7L, Array(7.0f, 14.0f)))
      .toDF("qid", "qemb")
    val res = store.query("c", queries, k = 3)
    assert(res.count() === 6)
    val self = res.filter($"rk" === 1).select($"qid", $"id", $"document", $"dist")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(self.toSeq === Seq((3L, "p3", "doc 3", 0.0), (7L, "p7", "doc 7", 0.0)))
  }

  test("approximate query recall against the exact result") {
    val wh = GraftSpec.tempDir("graft_store_ann").toString
    val store = new VectorStore(spark, wh)
    store.add("c", records(0 until 50))
    val queries = Seq((5L, Array(5.0f, 10.0f))).toDF("qid", "qemb")
    val exact = store.query("c", queries, k = 5).select($"qid", $"id", $"rk")
    val approx = store.queryApprox("c", queries, k = 5, radius = 20.0)
      .select($"qid", $"vec_id".as("id"), $"rk")
    val recall = graft.eval.RecallAtK.evaluate(exact, approx, Seq(5), idCol = "id")
      .agg(avg($"recall_5")).head().getDouble(0)
    assert(recall >= 0.8, s"approx recall@5 = $recall")
  }

  test("where-filtered query, get by ids, and peek") {
    val wh = GraftSpec.tempDir("graft_store").toString
    val store = new VectorStore(spark, wh)
    store.getOrCreateCollection("col_w")
    store.add("col_w", records(0 until 10))
    val q = Seq((0L, Array(3.0f, 6.0f))).toDF("qid", "qemb")
    // unfiltered: p3 is the exact match
    assert(store.query("col_w", q, 1).select("id").as[String].head() === "p3")
    // where excludes p3 → nearest survivor wins
    val filtered = store.query("col_w", q, 1, where = Some(col("id") =!= "p3"))
      .select("id").as[String].head()
    assert(filtered === "p2" || filtered === "p4")
    assert(store.get("col_w", Seq("p1", "p7")).select("id").as[String].collect().sorted
      === Array("p1", "p7"))
    assert(store.peek("col_w", 3).select("id").as[String].collect()
      === Array("p0", "p1", "p2"))
    store.deleteCollection("col_w")
  }

  test("delete(where/ids) and upsert: copy-on-write semantics, exact final state") {
    val wh = GraftSpec.tempDir("graft_store_mut").toString
    val store = new VectorStore(spark, wh)
    store.add("c", records(0 until 20))
    // predicate delete returns the removed count and keeps the rest
    assert(store.delete("c", col("id").isin("p3", "p4", "p5")) === 3L)
    assert(store.count("c") === 17)
    // id-list delete form
    assert(store.delete("c", Seq("p0", "p99")) === 1L, "absent ids delete nothing")
    assert(store.count("c") === 16)
    // upsert replaces an existing id (p7) and re-inserts a deleted one
    // (p4) — both arms in one call
    store.upsert("c", records(4 to 4).withColumn("document", lit("patched4"))
      .union(records(7 to 7).withColumn("document", lit("patched7"))))
    assert(store.count("c") === 17)
    val docs = store.get("c", Seq("p4", "p7")).select($"id", $"document")
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(docs === Map("p4" -> "patched4", "p7" -> "patched7"))
    assert(store.get("c", Seq("p3")).count() === 0, "deleted id stays gone")
    store.deleteCollection("c")
  }

  test("upsert rejects a batch with duplicate ids (reference-client contract)") {
    // Two rows for one id in a single upsert would leave which-wins to
    // row order; the reference client errors on duplicate ids in one
    // request, so the facade does too — and the collection is untouched.
    val wh = GraftSpec.tempDir("graft_store_dup").toString
    val store = new VectorStore(spark, wh)
    store.add("c", records(0 until 5))
    val dup = records(3 to 3).withColumn("document", lit("first"))
      .union(records(3 to 3).withColumn("document", lit("second")))
    val e = intercept[IllegalArgumentException](store.upsert("c", dup))
    assert(e.getMessage.contains("duplicate ids"))
    assert(store.count("c") === 5, "a rejected upsert must not mutate the collection")
    assert(store.get("c", Seq("p3")).select($"document").head().getString(0) === "doc 3")
    store.deleteCollection("c")
  }

  test("rewrite crash between renames: backup restores the full collection") {
    val wh = GraftSpec.tempDir("graft_store_crash").toString
    val store = new VectorStore(spark, wh)
    store.add("c", records(0 until 12))
    // simulate the worst crash point: live renamed to .bak, staging
    // never promoted — the live dir is GONE
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(wh)
    val fs = root.getFileSystem(conf)
    fs.rename(new org.apache.hadoop.fs.Path(root, "c"),
      new org.apache.hadoop.fs.Path(root, "c.bak"))
    // every entry point must restore the backup, not create-empty over it
    store.getOrCreateCollection("c")
    assert(store.count("c") === 12, "recovery must restore the pre-rewrite rows")
    // and a post-recovery mutation works normally
    assert(store.delete("c", Seq("p0")) === 1L)
    assert(store.count("c") === 11)
    store.deleteCollection("c")
  }

  test("streaming CDC apply: >1 micro-batch drained, per-batch replay is idempotent") {
    val base = GraftSpec.tempDir("graft_store_cdc")
    val store = new VectorStore(spark, base.resolve("wh").toString)
    store.add("c", records(0 until 20))
    val srcDir = base.resolve("src").toString
    records(0 until 5).select($"id", $"document", $"embedding")
      .withColumn("_op", lit("D")).coalesce(1).write.parquet(s"$srcDir/b0")
    records(10 until 12).select($"id", lit("patched").as("document"), $"embedding")
      .withColumn("_op", lit("U")).coalesce(1).write.parquet(s"$srcDir/b1")
    val q = graft.streaming.StoreMaintenance.streamCdcApply(
      spark, srcDir, store, "c", base.resolve("ckpt").toString)
    try q.processAllAvailable() finally q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
      "one file per trigger must produce at least two non-empty micro-batches")
    assert(store.count("c") === 15)
    val patched = store.get("c", Seq("p10", "p11")).select($"document")
      .collect().map(_.getString(0)).toSeq
    assert(patched === Seq("patched", "patched"))
    assert(store.get("c", Seq("p0", "p4")).count() === 0)
    // at-least-once: re-applying one batch leaves the state unchanged
    val replay = spark.read.parquet(s"$srcDir/b1")
    graft.streaming.StoreMaintenance.applyCdcBatch(store, "c", replay)
    assert(store.count("c") === 15)
    assert(store.get("c", Seq("p10")).select($"document").head().getString(0) === "patched")
    store.deleteCollection("c")
  }

  test("upsert is crash-atomic: a failure before the swap loses nothing") {
    val wh = GraftSpec.tempDir("graft_store_atomic").toString
    val store = new VectorStore(spark, wh)
    store.add("c", records(0 until 10))
    // A records frame whose evaluation throws mid-write: under a
    // two-step (rewrite-then-append) upsert the anti-join rewrite would
    // already have deleted the old versions before the append failed;
    // the single-rewrite upsert must leave the collection untouched.
    val boom = udf((id: String) =>
      if (id == "p7") throw new RuntimeException("injected") else s"new $id")
    val bad = records(5 until 10).withColumn("document", boom($"id"))
    intercept[Exception](store.upsert("c", bad))
    assert(store.count("c") === 10, "failed upsert must not change row count")
    assert(store.get("c", Seq("p7")).select($"document").head().getString(0)
      === "doc 7", "old version of every replaced id must survive a failed upsert")
    store.deleteCollection("c")
  }

  test("delete(where): NULL predicate rows are KEPT, not deleted") {
    val wh = GraftSpec.tempDir("graft_store_null").toString
    val store = new VectorStore(spark, wh)
    store.add("c", records(0 until 3))
    // a row with null metadata: any metadata predicate is NULL for it
    store.add("c", Seq(("pX", "no meta", Array(9.0f, 9.0f)))
      .toDF("id", "document", "embedding"))
    assert(store.delete("c", $"metadata.pdf_name" === "f1.pdf") === 1L,
      "only the definitively-matching row is deleted")
    assert(store.get("c", Seq("pX")).count() === 1,
      "the null-metadata row must be kept (chromadb where semantics)")
    assert(store.count("c") === 3)
    store.deleteCollection("c")
  }

  test("deleteCollection purges crash scratch; list hides .bak/.staging") {
    val wh = GraftSpec.tempDir("graft_store_scratch").toString
    val store = new VectorStore(spark, wh)
    store.add("c", records(0 until 4))
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(wh)
    val fs = root.getFileSystem(conf)
    // simulate a mid-rewrite crash leaving both scratch dirs behind
    fs.mkdirs(new org.apache.hadoop.fs.Path(root, "c.staging"))
    val bak = new org.apache.hadoop.fs.Path(root, "c.bak")
    fs.mkdirs(bak)
    store.collection("c").limit(2).write.parquet(bak.toString + "/part")
    assert(store.listCollections() === Seq("c"),
      "scratch dirs are internal state, not collections")
    store.deleteCollection("c")
    assert(store.listCollections() === Seq.empty)
    // the stale .bak must not resurrect the deleted collection
    store.getOrCreateCollection("c")
    assert(store.count("c") === 0,
      "a deleted collection must come back empty, not recovered from stale .bak")
    store.deleteCollection("c")
  }

  test("add without a metadata column stores null metadata") {
    val wh = GraftSpec.tempDir("graft_store_nm").toString
    val store = new VectorStore(spark, wh)
    val bare = Seq(("p0", "doc 0", Array(1.0f, 2.0f)))
      .toDF("id", "document", "embedding")
    store.add("c", bare)
    val got = store.collection("c")
    assert(got.count() === 1)
    assert(got.filter($"metadata".isNull).count() === 1)
  }

  test("query against an empty collection returns no rows") {
    val wh = GraftSpec.tempDir("graft_store_empty").toString
    val store = new VectorStore(spark, wh)
    store.getOrCreateCollection("void")
    val queries = Seq((1L, Array(1.0f, 2.0f))).toDF("qid", "qemb")
    assert(store.query("void", queries, k = 5).count() === 0)
  }

  test("invalid collection names are rejected") {
    val store = new VectorStore(spark, "/tmp/graft_wh_unused")
    intercept[IllegalArgumentException](store.count("../escape"))
  }

  test("collection declares the schema every stored file carries") {
    val wh = GraftSpec.tempDir("graft_store_schema").toString
    val store = new VectorStore(spark, wh)
    // mergeSchema reads every footer, so a file written with any other
    // type would surface here (or fail the merge)
    def inferred = spark.read.option("mergeSchema", "true").parquet(s"$wh/c").schema
    store.getOrCreateCollection("c")
    assert(store.collection("c").schema === inferred, "fresh collection")
    store.add("c", records(0 until 10))
    assert(store.collection("c").schema === inferred, "after add")
    store.upsert("c", records(5 until 12).withColumn("document", lit("patched")))
    assert(store.collection("c").schema === inferred, "after upsert")
    assert(store.delete("c", Seq("p0")) === 1L)
    assert(store.collection("c").schema === inferred, "after delete")
    store.deleteCollection("c")
  }

  test("resolving a collection starts no Spark job") {
    val wh = GraftSpec.tempDir("graft_store_read").toString
    val store = new VectorStore(spark, wh)
    store.add("c", records(0 until 10))
    assert(jobsOf(store.collection("c")) === 0)
    assert(jobsOf(store.get("c", Seq("p1"))) === 0, "get builds its frame without a job")
    store.deleteCollection("c")
  }

  test("add on an existing collection starts only its append write's jobs") {
    val base = GraftSpec.tempDir("graft_store_addjobs")
    val store = new VectorStore(spark, base.resolve("wh").toString)
    store.add("c", records(0 until 10))
    val batch = records(10 until 20)
    val write = jobsOf(batch.write.parquet(base.resolve("bare").toString))
    assert(write >= 1)
    assert(jobsOf(store.add("c", batch)) === write)
    assert(store.count("c") === 20)
    store.deleteCollection("c")
  }

  test("add casts a LONG metadata.page_num to the declared INT, values equal") {
    val wh = GraftSpec.tempDir("graft_store_cast").toString
    val store = new VectorStore(spark, wh)
    val longMeta = StructType(Seq(
      StructField("pdf_name", StringType), StructField("page_num", LongType),
      StructField("total_pages", LongType)))
    val schema = StructType(Seq(
      StructField("id", StringType), StructField("document", StringType),
      StructField("embedding", ArrayType(FloatType)), StructField("metadata", longMeta)))
    val rows = (0 until 5).map(i =>
      Row(s"p$i", s"doc $i", Array(i.toFloat, 1.0f), Row(s"f$i.pdf", 1000L + i, 2000L)))
    store.add("c", spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema))
    val got = store.collection("c").select($"id", $"metadata.page_num", $"metadata.total_pages")
    assert(got.schema("page_num").dataType === IntegerType)
    assert(got.as[(String, Int, Int)].collect().sortBy(_._1).toSeq ===
      (0 until 5).map(i => (s"p$i", 1000 + i, 2000)))
    store.deleteCollection("c")
  }

  test("upsert leaves no persisted RDD beyond those present before it") {
    val wh = GraftSpec.tempDir("graft_store_rdds").toString
    val store = new VectorStore(spark, wh)
    store.add("c", records(0 until 10))
    val before = persisted
    store.upsert("c", records(5 until 15).withColumn("document", lit("new")))
    assert(store.count("c") === 15)
    // ids, not counts: the ContextCleaner may drop unrelated RDDs between
    // the two snapshots
    assert((persisted -- before).isEmpty, "upsert leaked a persisted RDD")
    intercept[IllegalArgumentException](
      store.upsert("c", records(1 to 1).union(records(1 to 1))))
    assert((persisted -- before).isEmpty, "a rejected upsert leaked a persisted RDD")
    store.deleteCollection("c")
  }

  test("upsert rejects a null or duplicate id; the collection's files stay unchanged") {
    val wh = GraftSpec.tempDir("graft_store_reject").toString
    val store = new VectorStore(spark, wh)
    store.add("c", records(0 until 5))
    val before = files(s"$wh/c")
    val nullId = records(1 to 1).withColumn("id", lit(null).cast("string"))
      .union(records(7 to 7))
    val dupId = records(2 to 2).withColumn("document", lit("a"))
      .union(records(2 to 2).withColumn("document", lit("b")))
    Seq("null id" -> nullId, "duplicate id" -> dupId).foreach { case (what, batch) =>
      intercept[IllegalArgumentException](store.upsert("c", batch))
      assert(files(s"$wh/c") === before, s"a batch with a $what rewrote the collection")
      assert(store.count("c") === 5, what)
    }
    assert(store.get("c", Seq("p2")).select($"document").as[String].collect() === Array("doc 2"))
    store.deleteCollection("c")
  }
}
