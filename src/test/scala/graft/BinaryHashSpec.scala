package graft

import org.apache.spark.sql.functions._

import graft.model.Tables
import graft.search.BinaryHash

/** Binary sign hashing: threshold determinism, packing correctness,
  * and the Hamming-coarse → exact-re-rank search contract.
  */
class BinaryHashSpec extends GraftSpec {

  private lazy val emb = Tables.embeddings(spark, sfDir)
  private lazy val thr = BinaryHash.thresholds(emb, "embedding", 64)

  test("thresholds: lower medians, partition-invariant, one per dim") {
    assert(thr.length === 64)
    val again = BinaryHash.thresholds(emb.repartition(7), "embedding", 64)
    assert(thr.toSeq === again.toSeq, "the k-th smallest value is partition-proof")
    // lower median property: for every dim, the count of values <= thr
    // is >= ceil(n/2) and the count of values < thr is < ceil(n/2)
    val n = emb.count()
    val mid = (n + 1) / 2
    val q = emb.select(posexplode(BinaryHash.quantized("embedding")).as(Seq("d", "q")))
    val le = q.filter(col("q") <= element_at(
        typedLit(thr.toSeq), col("d") + 1))
      .groupBy("d").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert((0 until 64).forall(d => le(d) >= mid),
      "at least ceil(n/2) values sit at or below the lower median")
  }

  test("packing: words are 32-bit non-negative, bits match the sign rule") {
    val row = emb.orderBy("vec_id")
      .select(col("embedding"),
        BinaryHash.codeWord("embedding", thr, 0).as("lo"),
        BinaryHash.codeWord("embedding", thr, 32).as("hi"))
      .head()
    val e = row.getSeq[Float](0)
    val (lo, hi) = (row.getLong(1), row.getLong(2))
    assert(lo >= 0L && lo < (1L << 32) && hi >= 0L && hi < (1L << 32))
    for (d <- 0 until 64) {
      val qd = math.floor(e(d).toDouble * BinaryHash.QScale + 0.5).toLong
      val bit = if (d < 32) (lo >> d) & 1L else (hi >> (d - 32)) & 1L
      assert(bit === (if (qd > thr(d)) 1L else 0L),
        s"bit $d must encode q > thr")
    }
    // the split is balanced: roughly half the corpus bits are set
    val rate = emb.select(
      (BinaryHash.hamming(BinaryHash.codeWord("embedding", thr, 0), lit(0L)) +
        BinaryHash.hamming(BinaryHash.codeWord("embedding", thr, 32), lit(0L)))
        .cast("double").as("bits"))
      .agg(avg(col("bits"))).head().getDouble(0) / 64.0
    assert(rate > 0.3 && rate < 0.7, s"median thresholds balance the bits (rate=$rate)")
  }

  test("streaming twin: per-batch codes equal the bulk coding, retries idempotent") {
    val batch = emb.select(col("vec_id"),
      BinaryHash.codeWord("embedding", thr, 0).as("code_lo"),
      BinaryHash.codeWord("embedding", thr, 32).as("code_hi"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val streamed = graft.streaming.BinaryCodeMaintenance
      .maintainFromBatch(spark, emb, thr, nFiles = 3)
    try {
      val got = streamed.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
      assert(got.toSeq === batch.toSeq,
        "micro-batch split must not change any code (per-row pure function)")
    } finally streamed.unpersist(true)
    // retry idempotency: committing the same batch twice leaves one copy
    val base = GraftSpec.tempDir("graft_bin_retry")
    try {
      val dir = base.resolve("codes").toString
      val one = emb.limit(10)
      graft.streaming.BinaryCodeMaintenance.appendBatch(one, thr, dir, 0L)
      graft.streaming.BinaryCodeMaintenance.appendBatch(one, thr, dir, 0L)
      assert(spark.read.parquet(dir).count() === 10,
        "a foreachBatch retry overwrites its own batch directory, never duplicates")
    } finally {
      val p = new org.apache.hadoop.fs.Path(base.toString)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  test("banded near-dup: every planted pair found, no random pair passes") {
    val rows = SparkEntry.queries("dedup_binary_hamming")(spark, sfDir).collect()
    val n = emb.count()
    assert(rows.length === n,
      "exactly one surviving pair per planted near-dup")
    assert(rows.forall(r => r.getLong(1) == r.getLong(0) + 1000000L),
      "every pair is (v, v+1e6) — no random pair within hamming 12")
    assert(rows.forall(_.getLong(2) <= 12L))
  }

  test("wide bands + flip-1 multi-probe find the identical pair set") {
    val narrow = SparkEntry.queries("dedup_binary_hamming")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val wide = SparkEntry.queries("dedup_binary_hamming_wide")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(wide === narrow,
      "the band-width/multi-probe knob changes candidate volume, never the result")
  }

  test("hamming search: self-match at distance 0, re-rank orders by true L2") {
    val rows = SparkEntry.queries("ann_binary_hamming_top10")(spark, sfDir).collect()
    assert(rows.length === 10)
    val self = rows.find(_.getLong(0) == 0L)
    assert(self.isDefined, "the query vector's own code survives the coarse pass")
    assert(self.get.getLong(1) === 0L && self.get.getDouble(2) === 0.0)
    val dists = rows.map(_.getDouble(2)).toSeq
    assert(dists === dists.sorted, "output is ordered by the exact re-rank distance")
  }
}
