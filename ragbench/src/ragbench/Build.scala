package ragbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.{Clusters, Dedup}
import graft.embed.{TfIdfEmbedder, TfIdfEmbedderModel}
import graft.index.VectorStore
import graft.ingest.{CollectionBuilder, DocumentIngest, PdfIngest, SimplePdfExtractor}
import graft.search.Hnsw
import graft.textual.TextAnalysis

/** collection_build: the reference's create_collections write path with a
  * curation step, one pass per operation. Generated PDFs (with planted
  * empty pages, control characters, and exact and near-duplicate pages) go
  * through PdfIngest with the SimplePdf extractor and DocumentIngest.clean;
  * then TextAnalysis.qualityFeatures, Dedup.exact, Dedup.minHash and
  * Dedup.ngramJaccardPairs over the exact-dedup survivors and
  * Clusters.connectedComponents keep one page per duplicate cluster. The
  * kept pages are embedded with the model trained at set-up and appended to
  * a VectorStore collection per cumulative step of
  * CollectionBuilder.planCollections, with an HNSW index built after each;
  * one upsert batch, one delete batch and read-after-write probes close the
  * pass. Few large jobs, shuffle-heavy joins in dedup, and the write side of
  * the index and search layers rag_serve reads.
  */
final class Build(spark: SparkSession, opts: Opts) extends Workload {
  import Build._

  private var passNo = 0
  private var train: Input = _
  private var warm: Seq[Input] = Nil
  private var model: TfIdfEmbedderModel = _
  private val answers = new java.util.concurrent.ConcurrentLinkedQueue[Answer]()
  private var annRecall, dupRecall = 0.0

  /** The PDFs and rewrite texts of pass `i`, made from the seed and the pass
    * number only and written where the pass reads them.
    */
  private def input(i: Int, pdfs: Int, digest: Gen.Digest): Input = {
    val seed = opts.seed * 1000003L + i
    val dir = new File(opts.work, s"build-in-$i")
    dir.mkdirs()
    val c = Gen.pdfs(seed, pdfs, PagesPerPdf, pdfs * 2 / 3, pdfs, EditRate, digest)
    c.pdfs.foreach(p => Files.write(new File(dir, p.name + ".pdf").toPath, p.bytes))
    Input(dir, c, Gen.queries(seed, Upserts + Probes, digest))
  }

  /** Writes the training corpus and the warm-up passes' PDFs; the digest
    * covers these, which every run makes the same way. The timed passes
    * make theirs, from the seed and the pass number, as they go.
    */
  def prepare(): Gen.Digest = {
    val d = new Gen.Digest
    train = input(0, TrainPdfs, d)
    warm = (1 to WarmUpPasses).map(input(_, Pdfs, d))
    passNo = WarmUpPasses
    d
  }

  override def setupRounds: Int = 5

  /** Set-up trains the run's embedding model, the analog of the reference
    * loading its SBERT model once per run: the PDFs of a training corpus
    * are extracted and cleaned, and the TF-IDF embedder is fit on their
    * pages. Every pass embeds with this model.
    */
  def setup(round: Int, tracer: Tracer): Unit =
    model = tracer.span("embed", "fit") { TfIdfEmbedder.fit(extract(train.dir), "text", Serve.Dim) }

  /** Untimed passes of full size, so the timed passes start warm: a fresh
    * JVM's first pass runs far slower while it compiles.
    */
  override def warmUp(): Unit = {
    val ops = new Ops
    Bench.deleteTree(train.dir)
    warm.zipWithIndex.foreach { case (in, i) =>
      try pass(i + 1, in, Tracer.off(spark), ops) finally Bench.deleteTree(in.dir)
    }
    answers.clear()
    if (ops.failed.get() > 0) throw new IllegalStateException(s"warm-up pass failed: ${ops.failureLog.mkString("; ")}")
  }

  /** PDF pages of a directory, extracted and cleaned; `doc_id` is the page
    * id ([[Gen.pageId]]), so `seq` orders pages by PDF, then page.
    */
  private def extract(src: File): DataFrame =
    DocumentIngest.clean(PdfIngest.ingestDirectory(spark, src.getPath, "*.pdf", SimplePdfExtractor)
      .withColumn("doc_id", substring(col("pdf_name"), 2, 6).cast("long") * 100 + col("page_num")))

  private def key(s: String): String = s.filterNot(c => c <= ' ' || c == 0x7f)

  /** One build pass; returns the number of pages it read. Read-after-write
    * probes are part of the pass; the reads the benchmark makes only to check
    * (page texts, counts after each write, ids) run off the clock; ANN
    * answers are checked after the window against brute force.
    */
  private def pass(passes: Int, in: Input, tracer: Tracer, ops: Ops): Long = {
    import spark.implicits._
    val Materialize = graft.operators.Materialize
    val dir = new File(opts.work, s"build-pass-$passes").getPath
    def check(ok: Boolean, what: => String): Unit = if (!ok) ops.failCheck("pass", what)

    // ---- ingest: every non-empty page, control characters stripped
    val pages = tracer.span("ingest", "extract") { Materialize.materializeOnly(extract(in.dir)) }
    val nKept = tracer.offClock {
      val want = in.corpus.pdfs.flatMap(p => p.expected.zipWithIndex.collect {
        case (text, k) if text.nonEmpty => s"${p.name}_page_${k + 1}" -> text
      }).toMap
      val kept = pages.select("id", "text").as[(String, String)].collect()
      tracer.count("ingest.pages_extracted", in.corpus.pdfs.length * PagesPerPdf)
      tracer.count("ingest.pages_kept", kept.length)
      check(kept.length == want.size, s"kept ${kept.length} pages, expected ${want.size}")
      val bad = kept.filterNot { case (id, t) => want.get(id).exists(w => key(w) == key(t)) }
      check(bad.isEmpty, s"${bad.length} pages differ from their source, e.g. ${bad.headOption.map(_._1)}")
      kept.length
    }

    // ---- curation: quality features, exact then near-duplicate dedup, one
    // page kept per duplicate cluster
    val scored = tracer.span("textual", "quality") {
      Materialize.materializeOnly(TextAnalysis.qualityFeatures(pages.select("doc_id", "text"), "text"))
    }
    tracer.offClock {
      val q = scored.agg(count(lit(1)), min("quality_score"), max("quality_score"), min("n_tokens"))
        .as[(Long, Double, Double, Long)].head()
      tracer.count("textual.rows", q._1)
      check(q._1 == nKept, s"quality rows ${q._1}, expected $nKept")
      check(q._2 >= 0 && q._3 <= 1 && q._4 > 0, s"quality features out of range: $q")
    }
    Materialize.releaseOne(scored)

    val (groups, survivors) = tracer.span("dedup", "exact") {
      val exact = Materialize.materializeOnly(Dedup.exact(pages))
      val g = exact.filter(col("n_dupes") > 1).select("kept_id", "n_dupes").as[(Long, Long)].collect()
      val s = Materialize.materializeOnly(pages.select("doc_id", "text")
        .join(exact.select(col("kept_id").as("doc_id")), Seq("doc_id"), "left_semi"))
      Materialize.releaseOne(exact)
      (g, s)
    }
    val planted = in.corpus.exactGroups.map(g => (g.min, g.size.toLong)).sorted
    check(groups.toSeq.sorted == planted,
      s"exact-duplicate groups ${groups.length} differ from the ${planted.length} planted")
    val mh = tracer.span("dedup", "minhash") {
      Dedup.minHash(survivors, Shingle, Threshold).select("id_a", "id_b").as[(Long, Long)].collect()
    }
    val ng = tracer.span("dedup", "ngram") {
      Dedup.ngramJaccardPairs(survivors, Shingle, Threshold).select("id_a", "id_b").as[(Long, Long)].collect()
    }
    val pairs = (mh ++ ng).distinct
    tracer.count("dedup.candidate_pairs", mh.length + ng.length)
    tracer.count("dedup.confirmed_pairs", pairs.length)
    // ngramJaccardPairs is exact over all pairs, so every pair MinHash
    // confirms must be among its pairs
    val missing = mh.toSet -- ng.toSet
    check(missing.isEmpty, s"${missing.size} MinHash pairs are not exact n-gram pairs")
    val labels = tracer.span("dedup", "clusters") {
      Clusters.connectedComponents(pairs.toSeq.toDF("id_a", "id_b")).as[(Long, Long)].collect().toMap
    }
    val dropped = labels.collect { case (id, label) if id != label => id }.toSeq
    val curated = tracer.span("dedup", "clusters.keep") {
      Materialize.materializeOnly(pages.join(survivors.select("doc_id"), Seq("doc_id"), "left_semi")
        .join(dropped.toDF("doc_id"), Seq("doc_id"), "left_anti"))
    }
    Materialize.releaseOne(survivors)
    Materialize.releaseOne(pages)
    val curatedSeqs = tracer.offClock {
      val seqs = curated.select("seq").as[Long].collect()
      val expect = nKept - groups.map(_._2 - 1).sum - dropped.size
      check(seqs.length == expect, s"curated ${seqs.length} pages, expected $expect")
      seqs
    }

    // ---- embed and write the collection in cumulative steps
    val embedded = tracer.span("embed", "embed") {
      Materialize.materializeOnly(model.embed(curated, "text", "embedding")
        .select(col("id"), col("text").as("document"), col("embedding"), col("seq"),
          struct(col("pdf_name"), col("page_num").cast("int").as("page_num"),
            lit(PagesPerPdf).as("total_pages")).as("metadata")))
    }
    tracer.count("embed.rows", curatedSeqs.length)
    Materialize.releaseOne(curated)

    val store = new VectorStore(spark, s"$dir/warehouse")
    val maxSeq = curatedSeqs.max
    var total = 0L
    var lastIndex = ""
    var prevEnd = 0L
    CollectionBuilder.planCollections(maxSeq, (maxSeq + Steps - 1) / Steps).foreach { case (step, end) =>
      val batch = embedded.filter(col("seq") > prevEnd && col("seq") <= end).drop("seq")
      tracer.span("index", "add") { store.add(Name, batch) }
      total = curatedSeqs.count(_ <= end)
      tracer.offClock {
        val n = store.count(Name)
        check(n == total, s"step $step: count $n after adds, expected $total")
      }
      lastIndex = s"$dir/hnsw-$step"
      tracer.span("search", "build") {
        Hnsw.buildIndex(spark, store.collection(Name).select(vecId, col("embedding")), numGraphs = Serve.Segments)
          .write.mode("overwrite").parquet(lastIndex)
      }
      prevEnd = end
    }
    // the ids the upsert and delete below pick from
    val ids = tracer.offClock {
      val docs = embedded.select("id", "document").as[(String, String)].collect()
      if (tracer.on) {
        val files = new File(s"$dir/warehouse/$Name").listFiles().filter(_.getName.startsWith("part-"))
        tracer.count("index.part_files", files.length)
        tracer.count("index.stored_bytes", files.map(_.length).sum.toDouble)
        tracer.count("index.user_bytes", docs.map(_._2.getBytes("UTF-8").length + 4 * Serve.Dim).sum.toDouble)
      }
      docs.map(_._1).sorted
    }
    Materialize.releaseOne(embedded)

    // ---- ANN probes over the last step's index; checked after the window
    val probeTexts = in.rewrites.drop(Upserts).map(_.text).toSeq
    val probeVecs = tracer.span("embed", "query") {
      model.embed(probeTexts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("qid", "text"), "text", "qemb")
        .select("qid", "qemb").as[(Long, Array[Float])].collect().sortBy(_._1)
    }
    val annHits = tracer.span("search", "ann") {
      Hnsw.searchIndex(spark, probeVecs.toSeq.toDF("qid", "qemb"), spark.read.parquet(lastIndex), Serve.K,
        numGraphs = Serve.Segments)
        .select("qid", "rk", "vec_id", "dist").as[(Long, Int, Long, Double)].collect()
    }
    tracer.count("search.results", annHits.length)
    answers.add(Answer(lastIndex, probeVecs,
      annHits.groupBy(_._1).map { case (q, rs) => q -> Stats.inRankOrder(rs.map(r => (r._2, r._3, r._4)).toSeq) },
      Stats.dupRecall(in.corpus.nearPairs, labels)))

    // ---- upsert: rewrite the first pages' text and add as many new pages
    val olds = ids.take(Upserts / 2)
    val news = (1 to Upserts - olds.length).map(i => f"n$passes%03d_page_$i")
    val upIds = olds ++ news
    val upTexts = upIds.zip(in.rewrites.take(Upserts).map(_.text)).toMap
    val upRows = tracer.span("embed", "embed") {
      model.embed(upIds.toSeq.map(id => (id, upTexts(id))).toDF("id", "text"), "text", "embedding")
        .select(col("id"), col("text").as("document"), col("embedding"))
    }
    tracer.span("index", "upsert") { store.upsert(Name, upRows) }
    val afterUpsert = total + news.length
    tracer.offClock {
      val n = store.count(Name)
      check(n == afterUpsert, s"count $n after upsert, expected $afterUpsert")
    }
    val seen = tracer.span("index", "read") {
      store.get(Name, upIds.toSeq).select("id", "document").as[(String, String)].collect().toMap
    }
    check(seen == upTexts, s"read-after-upsert saw ${seen.size} of ${upIds.length} rows with their new text")

    // ---- delete: the last pages, none of them upserted
    val gone = ids.filter(id => !upTexts.contains(id)).takeRight(Deletes).toSeq
    val removed = tracer.span("index", "delete") { store.delete(Name, gone) }
    check(removed == gone.length, s"delete removed $removed rows, expected ${gone.length}")
    tracer.offClock {
      val left = store.count(Name)
      check(left == afterUpsert - gone.length, s"count $left after delete, expected ${afterUpsert - gone.length}")
    }

    // ---- read-after-write: each new page finds itself at distance 0, and no
    // deleted page comes back
    val qs = tracer.offClock {
      upRows.filter(col("id").isin(news.take(3): _*))
        .select(col("id"), col("embedding").as("qemb"))
        .as[(String, Array[Float])].collect().toSeq
    }
    val probe = tracer.span("search", "exact") {
      store.query(Name, qs.zipWithIndex.map { case ((_, v), i) => (i.toLong, v) }.toDF("qid", "qemb"), Serve.K)
        .select("qid", "id", "dist").as[(Long, String, Double)].collect()
    }
    tracer.count("search.results", probe.length)
    qs.zipWithIndex.foreach { case ((id, _), i) =>
      val hits = probe.filter(_._1 == i)
      check(hits.exists(h => h._2 == id && h._3 == 0.0), s"probe for new page $id did not find it")
      check(!hits.exists(h => gone.contains(h._2)), s"probe for $id returned a deleted page")
    }
    nKept.toLong
  }

  def measure(seconds: Double, tracer: Tracer, ops: Ops): Window =
    Bench.passLoop(seconds, ops, tracer, () => { passNo += 1; passNo })(input(_, Pdfs, new Gen.Digest)) { (i, in) =>
      try pass(i, in, tracer, ops)
      finally tracer.offClock(Bench.deleteTree(in.dir))
    }

  /** Quality is the lower of two shares: planted near-duplicate page pairs
    * that ended in one cluster, and recall@10 of the ANN probes against
    * brute force over the vectors the index was built from.
    */
  def finish(ops: Ops, tracer: Tracer): Double = {
    import spark.implicits._
    val done = Iterator.continually(answers.poll()).takeWhile(_ != null).toSeq
    require(done.nonEmpty, "no build pass completed")
    val recalls = done.flatMap { a =>
      val rows = spark.read.parquet(a.indexPath)
        .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
      val vectorOf = rows.toMap
      a.queries.map { case (qid, qv) =>
        val ref = Stats.bruteTopK(qv, rows, Serve.K)
        val got = a.ann.getOrElse(qid, Nil)
        val problems = Stats.checkTopK(qv, got, vectorOf, ref, Serve.K, exact = false)
        if (problems.nonEmpty) ops.failCheck("pass", s"ann probe $qid: ${problems.take(3).mkString("; ")}")
        Stats.recallAtK(ref.map(_._1), got.map(_._1), Serve.K)
      }
    }
    annRecall = recalls.sum / recalls.size
    dupRecall = done.map(_.dupRecall).sum / done.size
    math.min(annRecall, dupRecall)
  }

  override def detail(ops: Ops): Seq[String] =
    Seq(f"ann probe recall@10 = $annRecall%.4f; planted near-duplicate pairs clustered = $dupRecall%.4f")
}

object Build {
  val Pdfs = 20
  val TrainPdfs = 100
  val WarmUpPasses = 1
  val PagesPerPdf = 20
  val EditRate = 0.03
  val Shingle = 3
  val Threshold = 0.7
  val Steps = 4
  val Upserts = 40
  val Deletes = 20
  val Probes = 20
  val Name = "pages"
  private val IdPattern = """^d(\d+)_page_(\d+)$"""
  private val vecId = (regexp_extract(col("id"), IdPattern, 1).cast("long") * 100 +
    regexp_extract(col("id"), IdPattern, 2).cast("long") + 1).as("vec_id")

  final case class Input(dir: File, corpus: Gen.PdfCorpus, rewrites: Array[Gen.Query])

  final case class Answer(indexPath: String, queries: Array[(Long, Array[Float])],
                          ann: Map[Long, Seq[(Long, Double)]], dupRecall: Double)
}
