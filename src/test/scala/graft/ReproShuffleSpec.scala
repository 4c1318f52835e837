package graft

import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._

import graft.model.Tables
import graft.operators.ReproShuffle

class ReproShuffleSpec extends GraftSpec {

  test("assign: every doc gets exactly one (shard, pos); positions are dense per shard") {
    val docs = Tables.documents(spark, sfDir)
    val out = ReproShuffle.assign(docs, "doc_id", 8).select("doc_id", "shard", "pos")
    assert(out.count() == docs.count())
    val perShard = out.groupBy("shard")
      .agg(count(lit(1)).as("n"), max(col("pos")).as("maxp"), min(col("pos")).as("minp"))
      .collect()
    assert(perShard.length == 8, "all 8 shards should be populated")
    perShard.foreach { r =>
      assert(r.getAs[Long]("minp") == 1L && r.getAs[Long]("maxp") == r.getAs[Long]("n"),
        s"positions must be dense 1..n per shard: $r")
    }
    // deterministic under repartitioning
    val again = ReproShuffle.assign(docs.repartition(13), "doc_id", 8)
      .select("doc_id", "shard", "pos")
    assert(out.exceptAll(again).isEmpty && again.exceptAll(out).isEmpty)
  }

  test("write: one directory per shard, maxRecordsPerFile bounds every file") {
    val docs = Tables.documents(spark, sfDir)
    val dir = GraftSpec.tempDir("graft_shuffle").toString
    ReproShuffle.write(docs, "doc_id", 4, dir, maxRecordsPerFile = 50L)
    val back = spark.read.parquet(dir)
    assert(back.count() == docs.count())
    assert(back.select("shard").distinct().count() == 4)
    // small-files/huge-files control: no parquet file holds > 50 records
    val perFile = back.groupBy(input_file_name()).count().collect()
    assert(perFile.nonEmpty)
    perFile.foreach(r => assert(r.getLong(1) <= 50L, s"file over maxRecordsPerFile: $r"))
    // round-trip keeps the assignment: (doc_id, shard, pos) identical
    val expect = ReproShuffle.assign(docs, "doc_id", 4).select("doc_id", "shard", "pos")
    val got = back.select(col("doc_id"), col("shard").cast("long").as("shard"), col("pos"))
    assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty)
  }

  test("hash is ANSI-safe for huge ids and spreads ids congruent mod 2^20") {
    import spark.implicits._
    // The pre-r8 hash (id * 2654435761 % 2^20) collided EVERY id in this
    // congruence class into one h (periodic strided epoch order past ~1M
    // rows) and threw ARITHMETIC_OVERFLOW under ANSI for ids >= ~3.5e9.
    val ids = (0L until 64L).map(i => 7L + i * ReproShuffle.HashMod) ++
      Seq(5000000000L, (1L << 62) + 11L)
    val df = ids.toDF("id")
    val out = ReproShuffle.assign(df, "id", 8).select("id", "shard", "pos")
    assert(out.count() == ids.length) // no overflow on 62-bit ids
    val nShards = out.select("shard").distinct().count()
    assert(nShards >= 6, s"congruent-mod-2^20 ids must spread over shards, got $nShards of 8")
    val nHashes = ReproShuffle.assign(df, "id", 8)
      .select(col("pos")).distinct().count() // dense ranks ⇒ ties broke by id only if h collided
    assert(nHashes >= 1)
  }

  test("hash split: stable under corpus growth, ratios near 90/5/5, deterministic") {
    import graft.operators.HashSplit
    val docs = Tables.documents(spark, sfDir)
    val full = HashSplit.assign(docs, "doc_id").select("doc_id", "split")
    // the property that motivates hashing over randomSplit: restricting
    // the corpus to a subset must not move any surviving doc's split
    val subset = HashSplit.assign(docs.filter(col("doc_id") % 3 =!= 0), "doc_id")
      .select("doc_id", "split")
    assert(subset.join(full, Seq("doc_id"))
      .filter(subset("split") =!= full("split")).isEmpty)
    // ratio sanity: train within a loose band of 90% (small-n binomial)
    val n = full.count().toDouble
    val train = full.filter(col("split") === "train").count().toDouble
    assert(train / n > 0.8 && train / n < 0.97, s"train frac ${train / n}")
    assert(full.select("split").distinct().count() == 3)
    // deterministic under repartitioning
    val again = HashSplit.assign(docs.repartition(7), "doc_id").select("doc_id", "split")
    assert(full.exceptAll(again).isEmpty && again.exceptAll(full).isEmpty)
  }

  test("leakage-safe split keeps every near-dup cluster inside one split") {
    import graft.operators.HashSplit
    val docs = Tables.documents(spark, sfDir)
    val pairs = graft.dedup.Dedup.ngramJaccardPairs(docs, 3, 0.6)
    val labels = graft.dedup.Clusters.connectedComponents(pairs)
      .withColumnRenamed("id", "doc_id")
    val rep = docs.select(col("doc_id")).join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("rep_id"))
    val split = rep
      .withColumn("bucket", ReproShuffle.portableHash(col("rep_id")) % lit(100L))
      .withColumn("split", HashSplit.splitLabel(col("bucket"), 90, 5))

    // the invariant the query exists for: no cluster straddles splits
    val straddlers = split.groupBy(col("rep_id"))
      .agg(countDistinct(col("split")).as("n_splits"))
      .filter(col("n_splits") > 1)
    assert(straddlers.isEmpty)

    // and the invariant is non-vacuous: the fixture has multi-doc
    // clusters, i.e. docs whose split is decided by ANOTHER doc's id
    val clustered = split.filter(col("doc_id") =!= col("rep_id")).count()
    assert(clustered > 0, "fixture should contain near-dup clusters")
  }

  test("observe: pipeline quality metrics ride the main pass for free") {
    val docs = Tables.documents(spark, sfDir)
    val obs = Observation("quality")
    val cleaned = docs.observe(obs,
      count(lit(1)).as("n_rows"),
      sum(when(length(trim(col("text"))) === 0, 1L).otherwise(0L)).as("n_empty"),
      avg(col("n_chars")).as("avg_chars"))
      .filter(length(trim(col("text"))) > 0)
    val kept = cleaned.count()
    val m = obs.get
    assert(m("n_rows").asInstanceOf[Long] == docs.count())
    assert(m("n_rows").asInstanceOf[Long] - m("n_empty").asInstanceOf[Long] == kept)
    assert(m("avg_chars").asInstanceOf[Double] > 0)
  }
}
