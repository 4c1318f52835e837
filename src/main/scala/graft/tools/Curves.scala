package graft.tools

import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.dedup.Dedup
import graft.operators.Materialize
import graft.search.{IvfIndex, KnnExact, RpLsh}

/** Reproduce the reference's qualitative curves (BASELINE.md):
  * brute-force scan latency grows ~linearly with collection size while
  * the indexed path stays flatter, and approximate recall degrades with
  * scale. Prints markdown tables; docs/CURVES.md holds a captured run.
  *
  * The latency A/B is the 100 TB-correct analog of the reference's
  * HNSW-vs-numpy comparison: a full parquet scan + distance ranking
  * versus an IVF probe against a cell-PARTITIONED copy of the same data
  * (nprobe cells → partition pruning → the scan reads a fraction of the
  * bytes). Both sides read from disk — no cache asymmetry.
  *
  * Collection sizes are scaled by replicating the fixture embeddings
  * (vec_id remapped to stay unique) — replication only feeds the LATENCY
  * curve; the recall curve uses true prefix collections of the
  * un-replicated table (duplicated vectors would make recall
  * degenerate).
  */
object Curves {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // optional section filter: any of {ann, recall, dedup}; default all
    val sections: Set[String] =
      if (args.isEmpty) Set("ann", "recall", "dedup", "bpe", "flac", "w2v") else args.toSet
    val spark = GraftSession.builder("graft-curves", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val base = graft.model.Tables.embeddings(spark, sfDir).select($"vec_id", $"embedding")
    val nBase = base.count()
    val q = base.filter($"vec_id" === 0).head().getSeq[Float](1).toSeq
    val queries1 = Seq((0L, q.toArray)).toDF("qid", "qemb")
    val work = java.nio.file.Files.createTempDirectory("graft_curves").toString
    val numCells = 16
    val nprobe = 2

    def timeMs(f: => Unit, runs: Int = 5): Double = {
      f // warm-up, excluded (reference discipline, sp:457-462)
      val ts = (1 to runs).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
      }.sorted
      ts(runs / 2) // median
    }

    if (sections("ann")) {
    // HNSW rides the same A/B: a STORED graph index (built once,
    // excluded from query time — the reference excludes HNSW insert
    // cost the same way) searched from parquet like the others.
    println(s"| n_vectors | exact full-scan ms | ivf probe ms (nprobe=$nprobe/$numCells) | hnsw stored-index ms | hnsw in-mem walk µs (1 seg = n/16) |")
    println("|---|---|---|---|---|")
    var lastIdxPath: String = null
    var lastCent: org.apache.spark.sql.DataFrame = null
    Seq(8, 32, 128, 512).foreach { mult =>
      val coll = base.crossJoin(spark.range(mult))
        .select(($"vec_id" * mult + $"id").as("vec_id"), $"embedding")
      val plainPath = s"$work/plain_$mult"
      coll.write.mode("overwrite").parquet(plainPath)
      val cent = IvfIndex.seedCentroids(spark.read.parquet(plainPath), numCells)
        .cache()
      cent.count()
      val assigned = IvfIndex.assign(spark.read.parquet(plainPath), cent)
      val idxPath = s"$work/ivf_$mult"
      IvfIndex.writePartitioned(assigned, idxPath)
      val hnswPath = s"$work/hnsw_$mult"
      graft.search.Hnsw.buildIndex(spark, spark.read.parquet(plainPath), numGraphs = 16)
        .write.mode("overwrite").parquet(hnswPath)
      val n = spark.read.parquet(plainPath).count()

      val exactMs = timeMs {
        KnnExact.topKSingle(spark.read.parquet(plainPath), q, 10)
          .write.format("noop").mode("overwrite").save()
      }
      val ivfMs = timeMs {
        IvfIndex.searchPartitioned(spark, idxPath, queries1, cent, k = 10, nprobe = nprobe)
          .write.format("noop").mode("overwrite").save()
      }
      val hnswMs = timeMs {
        graft.search.Hnsw.searchIndex(spark, queries1, spark.read.parquet(hnswPath),
          k = 10, numGraphs = 16)
          .write.format("noop").mode("overwrite").save()
      }
      // the reference's regime — a RESIDENT graph answering queries
      // in-process: load ONE segment's stored adjacency and time the
      // bare walk (this is what the 2.3→3.9ms-over-58× flat HNSW curve
      // in BASELINE.md measures; the distributed column above includes
      // index load + job scheduling, amortized in a long-lived service)
      val segRows = spark.read.parquet(hnswPath).filter($"seg" === 0)
        .select($"vec_id", $"embedding", $"nbrs")
        .as[(Long, Array[Float], Array[Array[Long]])].collect()
      val g0 = graft.search.Hnsw.graphFromAdjacency(segRows, 16, 100)
      val qv = q.toArray
      g0.search(qv, 10, 128) // warm
      val t0 = System.nanoTime()
      var rep = 0
      while (rep < 100) { g0.search(qv, 10, 128); rep += 1 }
      val walkUs = (System.nanoTime() - t0) / 100e3
      println(f"| ${n}%d | $exactMs%.0f | $ivfMs%.0f | $hnswMs%.0f | $walkUs%.0f |")
      lastIdxPath = idxPath; lastCent = cent
    }

    // nprobe sweep — the tunable the reference exposes as HNSW
    // ef_search: latency on the largest replicated collection (probed
    // fraction = nprobe/numCells of the bytes), recall on the TRUE
    // un-replicated base (duplicated vectors would make recall
    // degenerate). One table so the tradeoff reads in one glance.
    val baseIdx = s"$work/ivf_base"
    val baseCent = IvfIndex.seedCentroids(base, numCells).cache()
    baseCent.count()
    IvfIndex.writePartitioned(IvfIndex.assign(base, baseCent), baseIdx)
    val sweepQueries = base.filter($"vec_id" < 5).select($"vec_id".as("qid"), $"embedding".as("qemb"))
    val gtBase = KnnExact.topK(sweepQueries, base, 10).cache()
    gtBase.count()
    println(s"\n| nprobe (of $numCells cells) | probe ms @1M | recall@10 (base, n=$nBase) |")
    println("|---|---|---|")
    Seq(1, 2, 4, 8).foreach { np =>
      val ms = timeMs {
        IvfIndex.searchPartitioned(spark, lastIdxPath, queries1, lastCent, k = 10, nprobe = np)
          .write.format("noop").mode("overwrite").save()
      }
      val approx = IvfIndex.searchPartitioned(spark, baseIdx, sweepQueries, baseCent, k = 10, nprobe = np)
      val rec = graft.eval.RecallAtK.evaluate(gtBase, approx, Seq(10))
        .agg(avg($"recall_10")).head().getDouble(0)
      println(f"| $np%d | $ms%.0f | $rec%.2f |")
    }
    }

    if (sections("recall")) {
    // recall vs true prefix size (no replication). HNSW rides the same
    // table: the graph walk's recall on the data where hash banding
    // degrades is exactly the qualitative gap the reference's HNSW
    // numbers show (flat ~0.8-1.0 where its brute-force A/B degrades).
    val queries5 = base.filter($"vec_id" < 5).select($"vec_id".as("qid"), $"embedding".as("qemb"))
    println("\n| prefix size | rp-lsh recall@10 | hnsw recall@10 |")
    println("|---|---|---|")
    Seq(250L, 500L, 1000L, 2000L).filter(_ <= nBase).foreach { sz =>
      val view = base.filter($"vec_id" < sz)
      val gt = KnnExact.topK(queries5, view, 10)
      val approx = RpLsh.topK(queries5, view, 10, numTables = 8, dim = 64, w = 0.5)
      val rec = graft.eval.RecallAtK.evaluate(gt, approx, Seq(10))
        .agg(avg($"recall_10")).head().getDouble(0)
      val hnsw = graft.search.Hnsw.topK(spark, queries5, view, 10)
      val hrec = graft.eval.RecallAtK.evaluate(gt, hnsw, Seq(10))
        .agg(avg($"recall_10")).head().getDouble(0)
      println(f"| $sz%d | $rec%.2f | $hrec%.2f |")
    }

    // efSearch sweep — HNSW's own recall/cost knob, the LITERAL
    // parameter the reference tunes as ef_search (chromadb's hnsw:ef).
    // Recall from the distributed path; walk cost from one resident
    // full-collection graph (the reference's in-process regime).
    val gtFull = KnnExact.topK(queries5, base, 10).cache()
    gtFull.count()
    val fullRows = base.as[(Long, Array[Float])].collect()
    val gFull = graft.search.Hnsw.buildGraph(fullRows.iterator, 16, 100)
    println(s"\n| efSearch | hnsw recall@10 (n=$nBase, 8 segs) | in-mem walk µs (1 graph, n=$nBase) |")
    println("|---|---|---|")
    Seq(8, 16, 32, 64, 128).foreach { ef =>
      val approx = graft.search.Hnsw.topK(spark, queries5, base, 10, efSearch = ef)
      val rec = graft.eval.RecallAtK.evaluate(gtFull, approx, Seq(10))
        .agg(avg($"recall_10")).head().getDouble(0)
      gFull.search(q.toArray, 10, ef) // warm
      val t0 = System.nanoTime()
      var rep = 0
      while (rep < 200) { gFull.search(q.toArray, 10, ef); rep += 1 }
      val walkUs = (System.nanoTime() - t0) / 200e3
      println(f"| $ef%d | $rec%.2f | $walkUs%.0f |")
    }
    }

    // Dedup pair-generation cost vs corpus size. Growth corpus: ×m
    // replication with a per-replica SUFFIX on every token, so replica
    // groups share no shingles — duplication STRUCTURE constant,
    // per-shingle df constant. That is the growing-web-corpus regime
    // (more documents, stable shingle-frequency distribution), where
    // Σ_s df(s)² — the co-occurrence join's true cost — grows linearly
    // in n. The measured wall-time exponent is the claim.
    if (sections("dedup")) {
    val docsBase = graft.model.Tables.documents(spark, sfDir).select($"doc_id", $"text")
    println("\n| n_docs | ngram-jaccard ms | pairs | minhash-lsh ms | pairs |")
    println("|---|---|---|---|---|")
    Seq(1, 4, 16).foreach { m =>
      val corpus =
        if (m == 1) docsBase
        else docsBase.crossJoin(spark.range(m).select($"id".as("rep")))
          .select(($"doc_id" * m + $"rep").as("doc_id"),
            array_join(
              transform(split($"text", " "), t => concat(t, lit("_"), $"rep".cast("string"))),
              " ").as("text"))
      val corpusPath = s"$work/docs_$m"
      corpus.write.mode("overwrite").parquet(corpusPath)
      val c = spark.read.parquet(corpusPath)
      val nd = c.count()
      var jPairs = 0L
      val jMs = timeMs({ jPairs = Dedup.ngramJaccardPairs(c, 3, 0.6).count() }, runs = 3)
      var mPairs = 0L
      val mMs = timeMs({ mPairs = Dedup.minHash(c, 3, 0.6).count() }, runs = 3)
      println(f"| $nd%d | $jMs%.0f | $jPairs%d | $mMs%.0f | $mPairs%d |")
    }

    // Stop-shingle df cap A/B: append one boilerplate sentence to EVERY
    // document — ~a dozen shingles with df = n_docs, each contributing
    // df² co-occurrence rows uncapped (the skew bomb the cap exists
    // for). Capped, those postings drop; carried sizes stay exact, so
    // Jaccard only under-counts on boilerplate overlap (a dedup filter
    // never ADMITS a worse pair because of the cap).
    val boiler = " common footer boilerplate line repeated verbatim on every single page of this corpus"
    val boiledPath = s"$work/docs_boiled"
    docsBase.select($"doc_id", concat($"text", lit(boiler)).as("text"))
      .write.mode("overwrite").parquet(boiledPath)
    val boiled = spark.read.parquet(boiledPath)
    def timeOnceMs(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
    }
    println("\n| variant (boilerplate-injected corpus) | ngram-jaccard ms | pairs |")
    println("|---|---|---|")
    var pU = 0L
    val msU = timeOnceMs { pU = Dedup.ngramJaccardPairs(boiled, 3, 0.6).count() }
    println(f"| uncapped | $msU%.0f | $pU%d |")
    var pC = 0L
    val msC = timeOnceMs {
      pC = Dedup.ngramJaccardPairs(boiled, 3, 0.6, maxDocFrequency = 256).count()
    }
    println(f"| df ≤ 256 | $msC%.0f | $pC%d |")
    }

    // BPE training cost vs corpus size: replication grows the corpus
    // but NOT the word vocabulary, and merges are learned over the
    // vocab — so only the initial word-count pass should track corpus
    // size while the 8 merge rounds stay ~flat. The measurable form of
    // the frequency-table trick's scale claim.
    if (sections("bpe")) {
      val docsBase = graft.model.Tables.documents(spark, sfDir).select($"doc_id", $"text")
      def onceMs(f: => Unit): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
      }
      println("\n| variant | n_docs | vocab | count-words ms | 8-merge-rounds ms | tokenize ms |")
      println("|---|---|---|---|---|---|")
      // (corpus ×m, vocab unchanged) vs (corpus ×m AND vocab ×m via
      // suffixed tokens): same data volume at ×16, different vocab —
      // whichever axis the round cost follows is the real driver
      Seq(("corpus x1", 1, false), ("corpus x4", 4, false),
        ("corpus x16", 16, false), ("corpus+vocab x16", 16, true))
        .foreach { case (label, m, suffix) =>
        val corpus =
          if (m == 1) docsBase
          else {
            val rep = docsBase.crossJoin(spark.range(m).select($"id".as("rep")))
            if (!suffix) rep.select(($"doc_id" * m + $"rep").as("doc_id"), $"text")
            else rep.select(($"doc_id" * m + $"rep").as("doc_id"),
              array_join(
                transform(split($"text", " "), t => concat(t, lit("_"), $"rep".cast("string"))),
                " ").as("text"))
          }
        val p = s"$work/bpe_${m}_$suffix"
        corpus.write.mode("overwrite").parquet(p)
        val c = spark.read.parquet(p)
        val nd = c.count()
        var vocab = 0L
        val countMs = onceMs {
          vocab = graft.textual.Bpe.wordFrequencies(c, "text").count()
        }
        var words: org.apache.spark.sql.DataFrame = null
        val trainMs = onceMs {
          words = graft.textual.Bpe.trainMerges(spark, c, "text", 8)._2
        }
        val tokMs = onceMs {
          graft.textual.Bpe.tokenizeStats(c, "text", "doc_id", words).count()
        }
        Materialize.releaseOne(words)
        // trainMs includes the count pass it starts from; report the
        // rounds-only residual so the flat part is visible
        println(f"| $label%s | $nd%d | $vocab%d | $countMs%.0f | ${math.max(trainMs - countMs, 0)}%.0f | $tokMs%.0f |")
      }
    }

    if (sections("bpe_merges")) {
      // MERGE-COUNT axis (the round-12 ask): a realistic tokenizer
      // carries hundreds-to-thousands of merges, not the oracle-replay
      // 8. The scale claim to verify: per-merge cost stays FLAT as the
      // merge count grows — each round is one vocab-sized pair-count
      // shuffle + a 1-row TakeOrdered argmax, independent of how many
      // rounds preceded it (the Materialize cut per round prevents
      // lineage growth from re-deriving earlier rounds).
      val base = graft.model.Tables.documents(spark, sfDir).select($"doc_id", $"text")
      // the raw fixture's pair vocabulary exhausts in the low hundreds
      // of merges; the suffixed variant (every token ×4 lexical
      // variants — the existing bpe section's vocab axis) keeps the
      // merge supply alive well past 256 so the long-horizon marginal
      // cost is measurable
      val rich = base.crossJoin(spark.range(8).select($"id".as("rep")))
        .select(($"doc_id" * 8 + $"rep").as("doc_id"),
          array_join(
            transform(split($"text", " "), t => concat(t, lit("_"), $"rep".cast("string"))),
            " ").as("text"))
      Seq(("fixture", base, Seq(8, 32, 128, 256)),
          ("vocab x8", rich, Seq(64, 256, 512))).foreach { case (label, docs, msSeq) =>
        println(s"\n[$label]")
        println("| merges | learned | wall s | s/merge | marginal s/merge |")
        println("|---|---|---|---|---|")
        var prev: Option[(Int, Double)] = None
        msSeq.foreach { m =>
          val t0 = System.nanoTime()
          val (ms, words) = graft.textual.Bpe.trainMerges(spark, docs, "text", m)
          val wall = (System.nanoTime() - t0) / 1e9
          Materialize.releaseOne(words)
          val marginal = prev.map { case (pm, pw) => (wall - pw) / (ms.length - pm) }
          println(f"| $m | ${ms.length} | $wall%.1f | ${wall / math.max(ms.length, 1)}%.3f " +
            s"| ${marginal.map(x => f"$x%.3f").getOrElse("-")} |")
          prev = Some((ms.length, wall))
        }
      }
    }

    if (sections("sq8")) {
      // SQ8's two claims, measured: (a) ranking quality — recall@10 of
      // the uint8 fixed-point distance vs the exact float scan; (b)
      // storage — parquet bytes of the code table vs the float table.
      graft.functions.VectorExpressions.ensureRegistered(spark)
      val st = base.select(posexplode($"embedding").as(Seq("d", "v")))
        .groupBy("d").agg(min($"v").as("lo"), max($"v").as("hi"))
        .collect().map(r => (r.getInt(0), r.getFloat(1).toDouble, r.getFloat(2).toDouble))
        .sortBy(_._1)
      val loCol = array(st.map(t => lit(t._2)): _*)
      val rngCol = array(st.map(t => lit(t._3 - t._2)): _*)
      val sfpCol = array(st.map { t =>
        val sc = (t._3 - t._2) / 255.0
        lit(math.floor(sc * sc * 1e12 + 0.5).toLong)
      }: _*)
      def codesOf(e: org.apache.spark.sql.Column) =
        transform(sequence(lit(0), lit(63)), d =>
          when(element_at(rngCol, d + 1) === 0.0, lit(0L))
            .otherwise(floor((element_at(e, d + 1).cast("double") -
              element_at(loCol, d + 1)) / element_at(rngCol, d + 1) * lit(255.0)
              + lit(0.5)).cast("long")))
      // storage layout = biased int8 (code − 128), the usual SQ8 disk
      // form — unbiased 0..255 overflows signed tinyint
      val xCodes = base.select($"vec_id",
        transform(codesOf($"embedding"), c => (c - 128).cast("byte")).as("code"))
      val fpPath = s"$work/sq8_float"; val cPath = s"$work/sq8_codes"
      base.write.mode("overwrite").parquet(fpPath)
      xCodes.write.mode("overwrite").parquet(cPath)
      def dirBytes(p: String): Long = {
        val root = new org.apache.hadoop.fs.Path(p)
        val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val it = fs.listFiles(root, true)
        var n = 0L
        while (it.hasNext) { val f = it.next(); if (f.getPath.getName.endsWith(".parquet")) n += f.getLen }
        n
      }
      val queries5 = base.filter($"vec_id" < 5).select($"vec_id".as("qid"), $"embedding".as("qemb"))
      val qCodes = base.filter($"vec_id" < 5)
        .select($"vec_id".as("qid"), codesOf($"embedding").as("qc"))
      val approx = broadcast(qCodes)
        .crossJoin(base.select($"vec_id", codesOf($"embedding").as("xc")))
        .withColumn("sfp", sfpCol)
        .withColumn("dist_fp", expr(
          "aggregate(sequence(0, 63), cast(0 as bigint), (acc, d) -> " +
            "acc + (element_at(qc, d + 1) - element_at(xc, d + 1)) * " +
            "(element_at(qc, d + 1) - element_at(xc, d + 1)) * element_at(sfp, d + 1))"))
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy($"qid")
            .orderBy($"dist_fp".asc, $"vec_id".asc)))
        .filter($"rk" <= 10).select($"qid", $"vec_id", $"rk")
      val gt = KnnExact.topK(queries5, base, 10)
      val rec = graft.eval.RecallAtK.evaluate(gt, approx, Seq(10))
        .agg(avg($"recall_10")).head().getDouble(0)
      println(f"\n| n | float parquet B | sq8 parquet B | ratio | sq8 recall@10 |")
      println("|---|---|---|---|---|")
      val (fb, cb) = (dirBytes(fpPath), dirBytes(cPath))
      println(f"| $nBase | $fb | $cb | ${fb.toDouble / cb}%.2f | $rec%.2f |")

      // compaction fan-out: stored-index search latency at 8 vs 2
      // segments (same k, same exhaustive-enough ef)
      val idx8 = Materialize.materializeOnly(graft.search.Hnsw.buildIndex(spark, base, numGraphs = 8))
      val idx2 = Materialize.materializeOnly(graft.search.Hnsw.compactIndex(spark, idx8, toGraphs = 2))
      def searchMs(idx: org.apache.spark.sql.DataFrame, n: Int) = timeMs {
        graft.search.Hnsw.searchIndex(spark, queries1, idx, k = 10, numGraphs = n)
          .write.format("noop").mode("overwrite").save()
      }
      println("\n| segments | search ms (5-run median) |")
      println("|---|---|")
      println(f"| 8 | ${searchMs(idx8, 8)}%.0f |")
      println(f"| 2 | ${searchMs(idx2, 2)}%.0f |")
    }

    if (sections("flac")) {
      // FLAC codec: compression ratio + single-thread codec throughput
      // by signal class (the decode path is what multimodal_audio_flac
      // pays per row; scan-parallel, so per-core throughput IS the
      // scale number).
      println()
      println("| signal (16-bit mono, 1 s @ 48 kHz) | flac bytes | ratio vs PCM | encode ms | decode ms |")
      println("|---|---|---|---|---|")
      val n = 48000
      val signals: Seq[(String, Array[Short])] = Seq(
        "constant" -> Array.fill(n)(1234.toShort),
        "linear ramp" -> Array.tabulate(n)(i => ((i * 7) % 30000).toShort),
        "sine 440 Hz" -> Array.tabulate(n)(i =>
          (math.sin(2 * math.Pi * 440 * i / 48000.0) * 12000).toShort),
        "sine + small noise" -> Array.tabulate(n) { i =>
          (math.sin(2 * math.Pi * 440 * i / 48000.0) * 12000 +
            ((i * 2654435761L >>> 16) % 65) - 32).toShort },
        "full-range noise" -> Array.tabulate(n)(i =>
          (((i * 2654435761L) >>> 13) % 65536 - 32768).toShort))
      signals.foreach { case (label, s) =>
        var bytes: Array[Byte] = null
        val encMs = timeMs { bytes = graft.multimodal.Flac.flacBytes(48000, 1, s) }
        val decMs = timeMs { graft.multimodal.Flac.decode(bytes) }
        val ratio = (n * 2).toDouble / bytes.length
        println(f"| $label%s | ${bytes.length}%d | ${ratio}%.2fx | $encMs%.1f | $decMs%.1f |")
      }
    }
    // Recall of the ANN families over the LEARNED (Word2Vec) document
    // embeddings — the r13 verdict's ask: hashed TF-IDF can't exhibit
    // semantic neighborhood structure, so the recall curves are re-run
    // against the learned space (16-dim, L2-normalized doc means).
    if (sections("w2v")) {
      val docs = graft.model.Tables.documents(spark, sfDir)
      val model = graft.embed.W2vEmbedder.fit(docs)
      val nrm = org.apache.spark.sql.functions.sqrt(
        graft.functions.VectorExpressions.dotD($"emb", $"emb"))
      val demb = model.embed(docs.select($"doc_id", $"text"), "text", "emb")
        .select($"doc_id".as("vec_id"),
          org.apache.spark.sql.functions.transform($"emb",
            x => (x / nrm).cast("float")).as("embedding"))
        .transform(Materialize.materializeOnly(_))
      val nDocs = demb.count()
      val qs = demb.filter($"vec_id" < 5)
        .select($"vec_id".as("qid"), $"embedding".as("qemb"))
      val gt = KnnExact.topK(qs, demb, 10)
      def meanRecall(ret: org.apache.spark.sql.DataFrame): Double =
        graft.eval.RecallAtK.evaluate(gt, ret, Seq(10))
          .agg(org.apache.spark.sql.functions.avg($"recall_10")).head().getDouble(0)
      val rp = RpLsh.topK(qs, demb, 10, numTables = 8, dim = 16, w = 0.5)
      val hnsw = graft.search.Hnsw.topK(spark, qs, demb, 10,
        numGraphs = 8, efSearch = 128)
      println(s"| index over learned w2v doc space (n=$nDocs, 16d, L2-normalized) | recall@10 |")
      println("|---|---|")
      println(f"| RP-LSH (T=8, w=0.5) | ${meanRecall(rp)}%.2f |")
      println(f"| HNSW (m=16, ef=128, 8 segments) | ${meanRecall(hnsw)}%.2f |")
    }
    spark.stop()
  }
}
