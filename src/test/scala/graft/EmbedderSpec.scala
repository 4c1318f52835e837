package graft

import org.apache.spark.sql.functions._

import graft.embed.TfIdfEmbedder
import graft.functions.VectorFunctions
import graft.model.Tables
import graft.multimodal.Multimodal

class EmbedderSpec extends GraftSpec {
  import spark.implicits._

  test("tf-idf embedder: unit norm, fixed dim, deterministic") {
    val docs = Tables.documents(spark, sfDir).limit(50).cache()
    val m = TfIdfEmbedder.fit(docs, "text", 64)
    val out = m.embed(docs, "text", "emb").cache()
    assert(out.filter(size($"emb") =!= 64).count() === 0)
    val norms = out.select(VectorFunctions.norm($"emb").as("n")).collect().map(_.getDouble(0))
    assert(norms.forall(n => math.abs(n - 1.0) < 1e-5))
    // refit + re-embed is bit-identical (determinism is a feature: the
    // oracle-test methodology depends on it, SURVEY.md §7.3)
    val out2 = TfIdfEmbedder.fit(docs, "text", 64).embed(docs, "text", "emb")
    assert(out.select("doc_id", "emb").except(out2.select("doc_id", "emb")).count() === 0)
    // persisted model reloads and reproduces the same embeddings (M1)
    val path = GraftSpec.tempDir("graft_emb").toString + "/model"
    m.save(path)
    val reloaded = graft.embed.TfIdfEmbedderModel.load(path)
    val out3 = reloaded.embed(docs, "text", "emb")
    assert(out.select("doc_id", "emb").except(out3.select("doc_id", "emb")).count() === 0)
  }

  test("w2v: seeded fit is bit-identical; doc embeddings average in-vocab vectors") {
    import graft.embed.W2vEmbedder
    val docs = Tables.documents(spark, sfDir)
    val m1 = W2vEmbedder.fit(docs)
    val m2 = W2vEmbedder.fit(docs)
    val v1 = m1.vectors.collect().map(r => (r.getString(0), r.getSeq[Double](1))).sortBy(_._1)
    assert(v1.toSeq === m2.vectors.collect()
      .map(r => (r.getString(0), r.getSeq[Double](1))).sortBy(_._1).toSeq,
      "two seeded fits must be bit-identical (oracle freezing depends on it)")
    assert(v1.forall(_._2.length === 16))
    // a one-word doc's embedding IS that word's vector (mean of one)
    val vocabWord = v1.head._1
    val single = Seq((1L, vocabWord)).toDF("doc_id", "text")
    val e = m1.embed(single, "text", "emb").select("emb").head().getSeq[Double](0)
    assert(e.toSeq === v1.head._2.toSeq)
    // a doc with NO in-vocabulary token gets the zero vector, not null
    val oov = Seq((2L, "zzzz_not_in_vocab qqqq_neither")).toDF("doc_id", "text")
    val z = m1.embed(oov, "text", "emb").select("emb").head().getSeq[Double](0)
    assert(z.forall(_ == 0.0) && z.length === 16)
    // two-word doc = elementwise mean of the two word vectors
    val w2 = v1(1)
    val pair = Seq((3L, s"$vocabWord ${w2._1}")).toDF("doc_id", "text")
    val p = m1.embed(pair, "text", "emb").select("emb").head().getSeq[Double](0)
    val expect = v1.head._2.zip(w2._2).map { case (a, b) => (a + b) / 2.0 }
    assert(p.zip(expect).forall { case (a, b) => math.abs(a - b) < 1e-12 })
  }

  test("w2v: maxTrainRows bounds the serial fit input IN CODE, determinism unchanged") {
    import graft.embed.W2vEmbedder
    val docs = Tables.documents(spark, sfDir) // 60 docs at sf0.001
    val n = docs.count()
    // cap BELOW the corpus: the training frame the serial stage sees
    // must hold at most `cap` rows — the r14 verdict's scale-killer
    // (coalesce(1) over a full 100 TB corpus) is now structurally
    // impossible, not a docs-only promise
    val cap = (n / 2).max(1L)
    val bounded = W2vEmbedder.trainingTokens(docs, "text", "doc_id", cap)
    assert(bounded.count() <= cap, s"fit input must be <= $cap rows")
    assert(bounded.rdd.getNumPartitions === 1,
      "the determinism contract (one sorted partition) survives the cap")
    // the capped selection is itself deterministic: same rows every call
    val ids1 = bounded.select("doc_id").collect().map(_.getLong(0)).toSeq
    val ids2 = W2vEmbedder.trainingTokens(docs, "text", "doc_id", cap)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(ids1 === ids2, "hash-sampled cap must pick the SAME rows every run")
    assert(ids1 === ids1.sorted, "single partition stays id-sorted under the cap")
    // a capped fit still trains end-to-end and is bit-identical re-run
    val m1 = W2vEmbedder.fit(docs, maxTrainRows = cap)
    val m2 = W2vEmbedder.fit(docs, maxTrainRows = cap)
    assert(m1.vectors.collect().map(r => (r.getString(0), r.getSeq[Double](1))).sortBy(_._1).toSeq
      === m2.vectors.collect().map(r => (r.getString(0), r.getSeq[Double](1))).sortBy(_._1).toSeq)
    // above-corpus cap (the default regime at fixture scale): the frame
    // is the FULL corpus — embed_w2v's frozen oracle stays untouched
    assert(W2vEmbedder.trainingTokens(docs, "text", "doc_id", n + 1).count() === n)
  }

  test("multimodal: metadata digests match and the decode stub is deterministic") {
    val docs = Tables.documents(spark, sfDir).limit(20)
    val media = Multimodal.withPayload(docs, "doc_id", "text")
    val meta = Multimodal.metadata(media)
    val checked = meta.join(docs, meta("id") === docs("doc_id"))
      .filter(sha2(encode($"text", "UTF-8"), 256) =!= $"sha256")
    assert(checked.count() === 0)
    val f1 = Multimodal.extractFeatures(spark, media).collect().sortBy(_.id)
    val f2 = Multimodal.extractFeatures(spark, media).collect().sortBy(_.id)
    assert(f1.map(_.features.toSeq).toSeq === f2.map(_.features.toSeq).toSeq)
    assert(f1.forall(_.features.length === Multimodal.DecodeStub.featureDim))
    // histogram features sum to ~1 (normalized by length)
    assert(f1.forall(f => math.abs(f.features.sum - 1.0f) < 1e-3))
  }
}
