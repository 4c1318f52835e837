package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.eval.RecallAtK
import graft.functions.TextFunctions

/** Property-based checks (SURVEY.md §5): recall ∈ [0,1] and recall(x,x)=1;
  * Jaccard symmetry and bounds. Cases come from ScalaCheck generators
  * (fixed seed — deterministic CI); evaluation goes through the actual
  * column expressions. Batched into one DataFrame per law so the 20
  * cases cost one job, not twenty.
  */
class PropertySpec extends GraftSpec {
  import spark.implicits._

  private val idArrays: Gen[List[Long]] =
    Gen.chooseNum(0, 12).flatMap(n => Gen.listOfN(n, Gen.chooseNum(0L, 20L))).map(_.distinct)

  private def cases[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  test("property: uint8 quantization error is bounded by (scale/2)^2") {
    // round-to-nearest code ⇒ per-element |err| ≤ scale/2 ⇒ mse ≤ scale²/4
    val rows = SparkEntry.queries("embedding_quantize")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val scale = (r.getAs[Double]("v_max") - r.getAs[Double]("v_min")) / 255.0
      val bound = scale * scale / 4.0 + 1e-9
      assert(r.getAs[Double]("mse_r8") <= bound,
        s"vec ${r.get(0)}: mse ${r.getAs[Double]("mse_r8")} > bound $bound")
      assert(r.getAs[Long]("q_min") >= 0L && r.getAs[Long]("q_max") <= 255L)
    }
  }

  test("property: chunking covers every token; stride-aligned prefixes reconstruct the doc") {
    // On random whitespace documents: (a) chunk starts are exactly
    // 0, stride, ... below the token count; (b) concatenating each
    // chunk's first `stride` tokens (all of the last chunk) rebuilds
    // the original token sequence — no token lost, none duplicated
    // outside the declared overlap.
    val texts: Gen[String] = Gen.chooseNum(0, 40)
      .flatMap(n => Gen.listOfN(n, Gen.oneOf("alpha", "beta", "gamma", "delta", "eps")))
      .map(_.mkString(" "))
    val docs = cases(texts, 30).zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val size = 7
    val stride = 5
    val out = graft.textual.TextAnalysis.chunkTokens(docs, "text", size, stride)
      .orderBy("doc_id", "chunk_id").collect()
    val byDoc = out.groupBy(_.getAs[Long]("doc_id"))
    val docToks = docs.collect().map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[String]("text").trim.split("\\s+").filter(_.nonEmpty)).toMap
    docToks.foreach { case (id, toks) =>
      val chunks = byDoc.getOrElse(id, Array.empty).sortBy(_.getAs[Long]("chunk_id"))
      if (toks.isEmpty) assert(chunks.isEmpty, s"doc $id: empty doc must emit no chunks")
      else {
        assert(chunks.map(_.getAs[Long]("chunk_id")).toSeq ===
          (0 until (toks.length + stride - 1) / stride).map(_.toLong),
          s"doc $id: starts must be every $stride tokens below ${toks.length}")
        val rebuilt = chunks.flatMap { c =>
          val ts = c.getAs[String]("chunk_text").split(" ").filter(_.nonEmpty)
          if (c.getAs[Long]("chunk_id") == chunks.length - 1) ts else ts.take(stride)
        }
        assert(rebuilt.toSeq === toks.toSeq, s"doc $id: stride prefixes must rebuild the doc")
      }
    }
  }

  test("property: connected-components labels are idempotent") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (9L, 4L), (4L, 7L), (20L, 21L)).toDF("id_a", "id_b")
    val labels = graft.dedup.Clusters.connectedComponents(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // feeding (id, label) edges back in must reproduce the same labels
    val again = graft.dedup.Clusters.connectedComponents(
        labels.toSeq.toDF("id_a", "id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(labels.forall { case (id, lbl) => again(id) == lbl })
  }

  test("property: recall within [0,1]; self-recall is 1 (0 when empty)") {
    val ks = Gen.chooseNum(1, 15)
    val data = cases(Gen.zip(idArrays, idArrays, ks), 20)
    val rows = data.toDF("gt", "ret", "k")
    val checked = (1 to 15).foldLeft(rows) { (df, k) =>
      df.withColumn(s"r_$k",
        when(col("k") === k, RecallAtK.recall(col("gt"), col("ret"), k)))
        .withColumn(s"self_$k",
          when(col("k") === k, RecallAtK.recall(col("gt"), col("gt"), k)))
    }
    checked.collect().foreach { row =>
      val k = row.getAs[Int]("k")
      val r = row.getAs[Double](s"r_$k")
      val self = row.getAs[Double](s"self_$k")
      assert(r >= 0.0 && r <= 1.0, s"recall out of bounds: $r")
      val gtEmpty = row.getSeq[Long](0).isEmpty
      if (gtEmpty) assert(self === 0.0) else assert(self === 1.0)
    }
  }

  test("property: jaccard symmetric, bounded, 1 on equal non-empty sets") {
    val data = cases(Gen.zip(idArrays, idArrays), 20)
    val rows = data.toDF("a", "b")
      .select(
        col("a"), col("b"),
        TextFunctions.jaccard(col("a"), col("b")).as("ab"),
        TextFunctions.jaccard(col("b"), col("a")).as("ba"),
        TextFunctions.jaccard(col("a"), col("a")).as("aa"))
      .collect()
    rows.foreach { r =>
      assert(r.getDouble(2) === r.getDouble(3))
      assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0)
      if (r.getSeq[Long](0).nonEmpty) assert(r.getDouble(4) === 1.0)
    }
  }

  test("property: hash sample is monotone in the fraction") {
    val events = graft.model.Tables.events(spark, sfDir)
    // larger fraction ⊇ smaller fraction (bucket predicate is a prefix
    // order on the same hash — no resampling surprises across configs)
    val fracs = Seq(0.1, 0.25, 0.5, 1.0)
    val sets = fracs.map { f =>
      graft.operators.ApproxOps.hashSample(events, "event_id", f)
        .select("event_id").as[Long].collect().toSet
    }
    sets.sliding(2).foreach {
      case Seq(small, big) => assert(small.subsetOf(big))
      case _ =>
    }
  }

  test("property: text normalization is idempotent and whitespace-canonical") {
    val docs = graft.model.Tables.documents(spark, sfDir).limit(200)
    val once = docs.select($"doc_id",
      graft.textual.TextAnalysis.normalizeText($"text").as("t1"))
    val twice = once.select($"doc_id",
      $"t1", graft.textual.TextAnalysis.normalizeText($"t1").as("t2"))
    assert(twice.filter($"t1" =!= $"t2").count() === 0, "normalize must be idempotent")
    // canonical form never contains doubled spaces, tabs, or newlines
    assert(twice.filter($"t1".rlike("  |\t|\n")).count() === 0)
  }

  test("property: stable floor rounding stays within half an ulp of 1e-4") {
    val gen = Gen.chooseNum(-2.0, 2.0)
    val vals = Gen.listOfN(300, gen).apply(Gen.Parameters.default, Seed(7L)).get
    val df = vals.toDF("v")
      .select($"v", (floor($"v" * 10000.0 + 0.5).cast("double") / 10000.0).as("r"))
    df.collect().foreach { row =>
      val (v, r) = (row.getDouble(0), row.getDouble(1))
      assert(math.abs(r - v) <= 0.00005 + 1e-12, s"$v -> $r")
    }
  }

  test("property: PDF write->extract roundtrips arbitrary printable pages") {
    // printable ASCII incl. the chars the writer must escape: ( ) \
    val line: Gen[String] = Gen.chooseNum(0, 30).flatMap(n =>
      Gen.listOfN(n, Gen.frequency(
        (10, Gen.alphaNumChar), (2, Gen.const(' ')),
        (1, Gen.oneOf('(', ')', '\\', '/', '[', ']', '<', '>')))).map(_.mkString))
    val page: Gen[Seq[String]] =
      Gen.chooseNum(1, 4).flatMap(n => Gen.listOfN(n, line)).map(_.toSeq)
    val doc: Gen[Seq[Seq[String]]] =
      Gen.chooseNum(1, 4).flatMap(n => Gen.listOfN(n, page)).map(_.toSeq)
    cases(doc, 25).zipWithIndex.foreach { case (pages, i) =>
      val compress = i % 2 == 0
      val got = graft.ingest.SimplePdf.extractPages(
        graft.ingest.SimplePdfWriter.write(pages, compress))
      // extractor trims page text and collapses trailing line spaces
      val want = pages.map(_.mkString("\n").replaceAll("[ \\t]+\\n", "\n").trim)
      assert(got === want, s"case $i (compress=$compress)")
    }
  }

  test("property: WAV write->decode preserves format and exact RMS for any samples") {
    val samplesGen: Gen[Array[Short]] = Gen.chooseNum(1, 500).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(Short.MinValue, Short.MaxValue))).map(_.toArray)
    cases(samplesGen, 20).zipWithIndex.foreach { case (samples, i) =>
      val rate = 4000 + 1000 * (i % 5)
      val wav = graft.multimodal.Multimodal.wavBytes(rate, 1, samples)
      val info = graft.multimodal.Multimodal
        .decodeWav(spark, Seq((i.toLong, wav)).toDF("id", "payload")).head()
      assert(info.is_audio && info.sample_rate === rate && info.channels === 1)
      assert(info.n_samples === samples.length.toLong)
      val rms = math.sqrt(samples.map(s => s.toLong * s).sum.toDouble / samples.length)
      assert(info.rms === rms, s"case $i")
    }
  }

  test("property: G.711 codewords are canonical — value-level idempotence on all 256 bytes") {
    // decode values are the quantization levels, so decode∘encode must
    // FIX every decoded value (byte-level idempotence is broken only by
    // the ±0 codeword alias, which maps to the same value)
    import graft.multimodal.Multimodal.G711
    (0 until 256).foreach { b =>
      val u = G711.ulawDecode(b.toByte)
      assert(G711.ulawDecode(G711.ulawEncode(u)) === u, s"ulaw byte $b")
      val a = G711.alawDecode(b.toByte)
      assert(G711.alawDecode(G711.alawEncode(a)) === a, s"alaw byte $b")
    }
  }

  test("property: G.711 companding error bound and sign symmetry on random samples") {
    import graft.multimodal.Multimodal.G711
    val gen: Gen[Short] = Gen.chooseNum(Short.MinValue, Short.MaxValue)
    cases(gen, 400).foreach { s =>
      val eu = G711.ulawDecode(G711.ulawEncode(s)) - s
      val ea = G711.alawDecode(G711.alawEncode(s)) - s
      // max segment step: μ-law 8·2^seg ≤ 1024, A-law 16·2^(seg-1) ≤ 1024
      assert(math.abs(eu) <= 1024, s"ulaw err $eu at $s")
      assert(math.abs(ea) <= 1024, s"alaw err $ea at $s")
    }
  }

  test("property: IMA ADPCM tracks bounded-slope signals within a step bound") {
    import graft.multimodal.Multimodal.ImaAdpcm
    // random start + random per-sample deltas in [-60, 60]: the step
    // table adapts within a few samples, so the absolute reconstruction
    // error stays bounded (measured well under 256 on this family)
    val gen: Gen[(Short, List[Int])] = for {
      start <- Gen.chooseNum(-20000, 20000)
      n <- Gen.chooseNum(50, 300)
      deltas <- Gen.listOfN(n, Gen.chooseNum(-60, 60))
    } yield (start.toShort, deltas)
    cases(gen, 15).zipWithIndex.foreach { case ((start, deltas), i) =>
      val sig = deltas.scanLeft(start.toInt)((acc, d) =>
        math.max(-32768, math.min(32767, acc + d))).toArray
      val enc = new ImaAdpcm.State(sig(0), 0)
      val dec = new ImaAdpcm.State(sig(0), 0)
      var maxErr = 0
      (1 until sig.length).foreach { j =>
        val n = enc.encodeSample(sig(j))
        val rec = dec.decodeNibble(n)
        maxErr = math.max(maxErr, math.abs(rec - sig(j)))
      }
      assert(maxErr <= 256, s"case $i: adpcm err $maxErr")
    }
  }

  test("property: ObjStm PDF write->extract equals the classic layout on random pages") {
    val line: Gen[String] = Gen.chooseNum(0, 25).flatMap(n =>
      Gen.listOfN(n, Gen.frequency(
        (10, Gen.alphaNumChar), (2, Gen.const(' ')),
        (1, Gen.oneOf('(', ')', '\\', '/', '[', ']')))).map(_.mkString))
    val page: Gen[Seq[String]] =
      Gen.chooseNum(1, 3).flatMap(n => Gen.listOfN(n, line)).map(_.toSeq)
    val doc: Gen[Seq[Seq[String]]] =
      Gen.chooseNum(1, 4).flatMap(n => Gen.listOfN(n, page)).map(_.toSeq)
    cases(doc, 15).zipWithIndex.foreach { case (pages, i) =>
      val objStm = graft.ingest.SimplePdf.extractPages(
        graft.ingest.SimplePdfWriter.writeObjStm(pages, compress = i % 2 == 0))
      val classic = graft.ingest.SimplePdf.extractPages(
        graft.ingest.SimplePdfWriter.write(pages, compress = true))
      assert(objStm === classic, s"case $i")
      val aes = graft.ingest.SimplePdf.extractPages(
        graft.ingest.SimplePdfWriter.writeEncryptedAes(pages, compress = i % 2 == 1))
      assert(aes === classic, s"AES case $i")
    }
  }

  test("property: FLAC write->decode is bit-exact for arbitrary samples and shapes") {
    // full-range noise, smooth ramps, constants; mono and stereo; block
    // sizes that divide and don't divide the length (partial tail frame)
    val sig: Gen[Array[Short]] = for {
      n <- Gen.chooseNum(1, 3000)
      kind <- Gen.chooseNum(0, 2)
      seed <- Gen.chooseNum(0L, Long.MaxValue / 2)
    } yield kind match {
      case 0 => Array.tabulate(n)(i => (((seed + i * 2654435761L) >>> 17) % 65536 - 32768).toShort)
      case 1 => Array.tabulate(n)(i => ((seed % 100) * i % 30000 - 15000).toShort)
      case _ => Array.fill(n)((seed % 65536 - 32768).toShort)
    }
    cases(sig, 20).zipWithIndex.foreach { case (mono, i) =>
      val bs = Seq(192, 576, 1024, 4096)(i % 4)
      val a = graft.multimodal.Flac.decode(
        graft.multimodal.Flac.flacBytes(8000, 1, mono, bs))
      assert(a.samples.toSeq === mono.map(_.toInt).toSeq, s"mono case $i bs=$bs")
      if (mono.length % 2 == 0 && mono.length > 0) {
        val st = graft.multimodal.Flac.decode(
          graft.multimodal.Flac.flacBytes(8000, 2, mono, bs))
        assert(st.channels === 2 &&
          st.samples.toSeq === mono.map(_.toInt).toSeq, s"stereo case $i bs=$bs")
      }
    }
  }

  test("property: MSV1 roundtrip agrees with an independent block-model interpretation") {
    // Random block programs; this test re-implements the PUBLIC block
    // grammar independently (bottom-up blocks, flag LSB = block's
    // bottom-left pixel, SET bit -> pair's first color, quadrant =
    // (py&2)|((px&2)>>1), skips carry the previous frame) and the real
    // opcode decoder must agree pixel-for-pixel after encode->decode.
    import graft.multimodal.Multimodal._
    def model(pix: Array[Int], w: Int, blocks: Seq[Msv1Block]): Unit = {
      val bw = w / 4
      var blk = 0
      def paint(bx: Int, by: Int)(f: (Int, Int) => Int): Unit =
        for (py <- 0 until 4; px <- 0 until 4)
          pix((by * 4 + py) * w + bx * 4 + px) = f(px, py)
      blocks.foreach {
        case Msv1Skip(n) => blk += n
        case Msv1One(c) => paint(blk % bw, blk / bw)((_, _) => c); blk += 1
        case Msv1Two(flags, c0, c1) =>
          paint(blk % bw, blk / bw) { (px, py) =>
            if (((flags >> (py * 4 + px)) & 1) != 0) c0 else c1
          }; blk += 1
        case Msv1Eight(flags, cs) =>
          paint(blk % bw, blk / bw) { (px, py) =>
            val q = (py & 2) | ((px & 2) >> 1)
            if (((flags >> (py * 4 + px)) & 1) != 0) cs(q * 2) else cs(q * 2 + 1)
          }; blk += 1
      }
    }
    val blockGen: Gen[Msv1Block] = Gen.oneOf(
      Gen.chooseNum(0, 255).map(Msv1One(_)),
      for (f <- Gen.chooseNum(0, 0x7fff); a <- Gen.chooseNum(0, 0x7f);
           b <- Gen.chooseNum(0, 255)) yield Msv1Two(f, a, b),
      for (f <- Gen.chooseNum(0, 0x7fff);
           cs <- Gen.listOfN(8, Gen.chooseNum(0, 255)))
        yield Msv1Eight(f, (0x80 | cs.head) +: cs.tail),
      Gen.chooseNum(1, 3).map(Msv1Skip(_)))
    val (w, h) = (12, 8) // 3×2 blocks
    val nBlocks = (w / 4) * (h / 4)
    val progGen: Gen[Seq[Msv1Block]] = Gen.listOfN(nBlocks * 2, blockGen).map { raw =>
      // trim to exactly nBlocks of coverage (skips count their n)
      val out = Seq.newBuilder[Msv1Block]
      var covered = 0
      raw.iterator.takeWhile(_ => covered < nBlocks).foreach {
        case Msv1Skip(n) =>
          val take = math.min(n, nBlocks - covered)
          if (take > 0) { out += Msv1Skip(take); covered += take }
        case b => out += b; covered += 1
      }
      if (covered < nBlocks) out += Msv1Skip(nBlocks - covered)
      out.result()
    }
    cases(Gen.listOfN(3, progGen), 15).foreach { frames =>
      val expect = new Array[Int](w * h)
      val got = new Array[Int](w * h)
      frames.foreach { blocks =>
        model(expect, w, blocks)
        val bytes = msv1FrameBytes(blocks)
        msv1DecodeFrame(java.nio.ByteBuffer.wrap(bytes), 0, bytes.length, w, h, got)
        assert(got.toSeq === expect.toSeq, s"frame program: $blocks")
      }
    }
  }

  test("property: fixed-point LM sums are partition-count invariant") {
    // The backoff-LM rows aggregate sum(tf * lp_fp) where lp_fp is a
    // BIGINT micro-nat quantization of the per-n-gram ln ratio. A
    // float sum here would drift with partition count (accumulation
    // order); the fixed-point sum must be bit-identical under any
    // shuffle layout. 3 vs 29 partitions forces different partial-agg
    // groupings on every shuffle in the plan.
    def run(parts: String): Seq[Seq[Any]] = {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      try {
        (SparkEntry.queries("doc_bigram_logprob")(spark, sfDir).collect().toSeq ++
          SparkEntry.queries("doc_trigram_logprob")(spark, sfDir).collect().toSeq)
          .map(_.toSeq)
      } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
    val a = run("3")
    val b = run("29")
    assert(a.nonEmpty)
    assert(a === b, "LM scores must not depend on partition count")
  }

  test("property: the MIPS->L2 reduction preserves the full dot-product ranking") {
    // For random float vectors (negative components included): rank by
    // dot(q, x) descending == rank by ||[q,0] - [x, sqrt(M^2-|x|^2)]||
    // ascending — the Shrivastava & Li theorem, checked through the
    // same arithmetic shape the engine uses.
    val vecs: Gen[Array[Float]] =
      Gen.listOfN(8, Gen.chooseNum(-1000, 1000).map(_ / 997.0f)).map(_.toArray)
    val corpus = cases(vecs, 24).toIndexedSeq
    val q = cases(vecs, 30).drop(24).head
    def dot(a: Array[Float], b: Array[Float]): Double =
      a.indices.foldLeft(0.0)((s, i) => s + a(i).toDouble * b(i).toDouble)
    val m2 = corpus.map(x => dot(x, x)).max
    def augDist2(x: Array[Float]): Double = {
      val extra = math.sqrt(m2 - dot(x, x))
      x.indices.foldLeft(0.0) { (s, i) =>
        val d = q(i).toDouble - x(i).toDouble; s + d * d
      } + extra * extra
    }
    val byDot = corpus.indices.sortBy(i => (-dot(q, corpus(i)), i))
    val byAug = corpus.indices.sortBy(i => (augDist2(corpus(i)), i))
    assert(byDot === byAug,
      "augmented-L2 order must equal dot-descending order for any corpus/query")

  }

  test("property: Luhn detects every single-digit corruption of a generated card") {
    import graft.textual.PiiScan
    val bases: Gen[String] = Gen.listOfN(14, Gen.chooseNum(0, 9))
      .map(ds => "4" + ds.mkString)
    val all = cases(bases, 12).flatMap { b15 =>
      // generated check digit validates; every single-digit corruption
      // of any position must fail (the property Luhn guarantees)
      Seq((b15, -1, 0)) ++ (0 until 15).map(p => (b15, p, 1 + (p % 9)))
    }
    val df = all.zipWithIndex.map { case ((b15, pos, delta), i) =>
      (i.toLong, b15, pos, delta)
    }.toDF("i", "b15", "pos", "delta")
    import graft.textual.PiiScan._
    val check = (lit(10L) - (luhnSum15(col("b15")) % 10)) % 10
    val card = concat(col("b15"), check.cast("string"))
    val corrupted = when(col("pos") < 0, card).otherwise(
      concat(
        expr("substring(concat(b15, ''), 1, pos)"),
        ((ascii(substring(col("b15"), 1, 15).substr(col("pos") + 1, lit(1))) - 48
          + col("delta")) % 10).cast("string"),
        col("b15").substr(col("pos") + lit(2), lit(14) - col("pos")),
        check.cast("string")))
    val rows = df.select(col("pos"), luhnValid16(corrupted).as("ok")).collect()
    rows.foreach { r =>
      if (r.getInt(0) < 0) assert(r.getBoolean(1), "generated card must validate")
      else assert(!r.getBoolean(1), s"corruption at pos ${r.getInt(0)} must be detected")
    }
  }

  test("property: Spark round never emits -0.0 (the r19 signed-zero red row)") {
    // DuckDB's round PRESERVES the sign bit (round(-2e-17, 4) = -0.0 in
    // DuckDB 1.0.0) while Spark's BigDecimal-backed round always lands
    // on +0.0 — r19's one driver hash mismatch (ann_planner_cosine's
    // self-match row, true cosine distance ≈ -2e-17). The oracle SQL
    // now normalizes with `round(x, n) + 0.0`; this pin is the
    // Spark-side half of that contract: round provably cannot produce
    // a negative zero, so no Spark-side normalization is needed.
    val vals = Seq(-2e-17, -0.0, 0.0, -4.9e-5, 4.9e-5, -5.1e-5)
    val out = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("i", "v")
      .select($"i", round($"v", 4).as("r")).orderBy("i")
      .as[(Long, Double)].collect().map(_._2)
    def positiveZero(d: Double): Boolean = d == 0.0 && Math.copySign(1.0, d) > 0
    assert(positiveZero(out(0)), "round(-2e-17, 4) must be +0.0, not -0.0")
    assert(positiveZero(out(1)), "round(-0.0, 4) must be +0.0")
    assert(positiveZero(out(2)), "round(0.0, 4) stays +0.0")
    assert(positiveZero(out(3)), "round(-4.9e-5, 4) (half-up to zero) must be +0.0")
    assert(positiveZero(out(4)), "round(4.9e-5, 4) rounds to +0.0")
    assert(out(5) === -1.0e-4, "a value past the half-boundary stays nonzero")
  }

  test("property: IVF recall@10 is monotone in nprobe per query and exactly 1.0 at full probe") {
    // Nested probe sets (np=1 ⊆ 2 ⊆ 4 ⊆ 8 of 8 cells) make per-query
    // recall provably monotone: any element displacing a ground-truth
    // member from top10(candidates) is nearer under the shared
    // (dist, id) tie-break, hence itself a ground-truth member. And
    // probing every cell IS the exact search, so recall@10 = 1.0 there
    // by construction, not by luck.
    val rows = SparkEntry.queries("ann_recall_vs_nprobe")(spark, sfDir).collect()
    val byQid = rows.groupBy(_.getAs[Long]("qid"))
    assert(byQid.size === 5)
    byQid.foreach { case (qid, rs) =>
      val curve = rs.sortBy(_.getAs[Long]("nprobe")).map(_.getAs[Double]("recall_10"))
      assert(curve.length === 4, s"qid $qid: one row per swept nprobe")
      curve.sliding(2).foreach { case Array(a, b) =>
        assert(a <= b + 1e-9, s"qid $qid: recall fell ($a -> $b) under a nested probe set")
      }
      assert(curve.last === 1.0, s"qid $qid: full probe must equal exact search")
    }
  }

  test("property: ±0.0 sort as equal keys and NaN sorts last ascending (oracle order parity)") {
    // Verified against DuckDB 1.0.0 this round (docs/STATE.md §signed
    // zero audit): both engines compare -0.0 = 0.0 as EQUAL sort keys
    // (the tie-break column decides) and order NaN above every finite
    // double ascending — so no top-k/rank boundary in the 275 oracle
    // pairs can differ on these representational edge cases.
    val df = Seq((1L, 0.0), (2L, -0.0), (3L, Double.NaN), (4L, -1.0))
      .toDF("id", "x")
    val asc = df.orderBy($"x".asc, $"id".asc).select("id").as[Long].collect().toSeq
    assert(asc === Seq(4L, 1L, 2L, 3L),
      "ascending: -1.0 < (+0.0 = -0.0, tie-broken by id) < NaN")
    val rk = df.selectExpr("id", "rank() OVER (ORDER BY x) AS rk")
      .as[(Long, Int)].collect().toMap
    assert(rk(1L) === rk(2L), "rank(): -0.0 and 0.0 are the same key")
  }

  test("property: levenshtein is invariant under common-prefix strip on the entity-match pairs") {
    // customers_entity_match (r22) hands the banded DP the 3-char name
    // SUFFIXES because the block join already pins the first 15 chars
    // equal and levenshtein(P·s₁, P·s₂) = levenshtein(s₁, s₂). Pin
    // full-vs-suffix equality on every real candidate pair of the
    // fixture (thresholded AND unthresholded), plus the theorem on
    // adversarial synthetic pairs where the optimal alignment is
    // tempted to cross the prefix boundary.
    val c = model.Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        substring(col("c_name"), 1, 15).as("blk"))
    val mismatches = c.as("a").join(c.as("b"),
        col("a.c_nationkey") === col("b.c_nationkey") &&
          col("a.blk") === col("b.blk") &&
          col("a.c_custkey") < col("b.c_custkey"))
      .select(
        levenshtein(col("a.c_name"), col("b.c_name")).as("full"),
        levenshtein(substring(col("a.c_name"), 16, 1000),
          substring(col("b.c_name"), 16, 1000)).as("sufx"),
        levenshtein(col("a.c_name"), col("b.c_name"), 3).as("full_t"),
        levenshtein(substring(col("a.c_name"), 16, 1000),
          substring(col("b.c_name"), 16, 1000), 3).as("sufx_t"))
      .filter(col("full") =!= col("sufx") || col("full_t") =!= col("sufx_t"))
      .count()
    assert(mismatches === 0L,
      "suffix levenshtein must equal full levenshtein on every block pair")
    // alignment-crossing temptations: transpositions, shifts, repeats
    val adversarial = Seq(
      ("aaaaab", "aaaaba"), ("abcabc", "abccba"), ("xxxxxx", "xxxxx"),
      ("prefAB", "prefBA"), ("aaaaaa", "aaaaaa"), ("zzzzab", "zzzzzz"))
      .map { case (x, y) => ("PPPPP" + x, "PPPPP" + y, x, y) }
      .toDF("fa", "fb", "sa", "sb")
    val bad = adversarial
      .filter(levenshtein($"fa", $"fb") =!= levenshtein($"sa", $"sb"))
      .count()
    assert(bad === 0L, "prefix-strip identity must hold on adversarial pairs")
  }

  test("property: long revenue micros equal the decimal product form on every row") {
    // q9 (r22): E·(1−D)·10⁶ = (E·100)·((10⁴−D·10⁴)) in exact integers —
    // pin per-row equality of the two forms over the whole fixture.
    val dec = (col("l_extendedprice").cast("decimal(14,2)")
      * (lit(1) - col("l_discount").cast("decimal(6,4)")) * 1000000L).cast("long")
    val lng = (col("l_extendedprice").cast("decimal(14,2)") * lit(100)).cast("long") *
      (lit(10000L) - (col("l_discount").cast("decimal(6,4)") * lit(10000)).cast("long"))
    val bad = model.Tables.lineitem(spark, sfDir).select(dec.as("d"), lng.as("l"))
      .filter(col("d") =!= col("l")).count()
    assert(bad === 0L, "fixed-point revenue micros must match the decimal product")
  }

  test("property: a fixed-point long sum raises on overflow under ANSI, never wraps") {
    // GraftSession pins spark.sql.ansi.enabled; the test session runs on
    // Spark 4's default, which is the same
    assert(spark.conf.get("spark.sql.ansi.enabled") === "true")
    // revenue micros built like SparkEntry's fpCents × (10⁴ − fpBp) at the
    // largest decimal(14,2) price: ~9.5e17 per row, so 10 rows pass 2⁶³
    val price = lit(BigDecimal("999999999999.99")).cast("decimal(14,2)")
    val disc = lit(BigDecimal("0.05")).cast("decimal(6,4)")
    val micros = (price * lit(100)).cast("long") *
      (lit(10000L) - (disc * lit(10000)).cast("long"))
    val rows = spark.range(0, 100, 1, 2).select(micros.as("m"))
    assert(rows.agg(max(col("m"))).head().getLong(0) === 949999999999990500L,
      "one row's micros fit a long")
    val e = intercept[ArithmeticException](rows.agg(sum(col("m"))).collect())
    assert(e.getMessage.contains("ARITHMETIC_OVERFLOW"), e.getMessage)
  }

  test("property: a fpBp-shaped cast of an out-of-range discount raises, never returns null") {
    // fpBp = (c cast decimal(6,4)) · 10⁴ cast long: a discount past
    // decimal(6,4)'s 99.9999 would be NULL without ANSI and drop out of
    // every sum silently; under ANSI the cast raises
    val bp = (col("d").cast("decimal(6,4)") * lit(10000)).cast("long")
    val ok = spark.range(0, 2, 1, 2).select((lit(BigDecimal("0.05")) + col("id")).as("d"))
    assert(ok.select(bp).collect().map(_.getLong(0)).sorted.toSeq === Seq(500L, 10500L))
    val wide = spark.range(0, 2, 1, 2).select((lit(BigDecimal("123.45")) + col("id")).as("d"))
    val e = intercept[ArithmeticException](wide.select(bp).collect())
    assert(e.getMessage.contains("NUMERIC_VALUE_OUT_OF_RANGE"), e.getMessage)
  }

  test("property: q1's hi/lo charge split raises on a hi sum past 2^63, never wraps") {
    // q1's charge E·(1−D)·(1+T)·10¹⁰ near the largest value a long holds
    // (price 898,000,000.00, discount 0.05, tax 0.08), split at 2³⁰: one
    // row's hi part is ~8.6e9, so ~1.075e9 rows carry Σhi past 2⁶³
    val priceC = (lit(BigDecimal("898000000.00")).cast("decimal(14,2)") * lit(100)).cast("long")
    val discBp = (lit(BigDecimal("0.05")).cast("decimal(6,4)") * lit(10000)).cast("long")
    val taxBp = (lit(BigDecimal("0.08")).cast("decimal(6,4)") * lit(10000)).cast("long")
    val chargeE10 = priceC * (lit(10000L) - discBp) * (lit(10000L) + taxBp)
    val hi = shiftright(chargeE10, 30)
    val lo = chargeE10.bitwiseAND(lit(1073741823L))
    val one = spark.range(0, 1).select(chargeE10, hi, lo).head()
    assert(one.getLong(0) === 9213480000000000000L, "one row's charge fits a long")
    assert(one.getLong(1) * 1073741824L + one.getLong(2) === one.getLong(0))
    val rows = spark.range(0, 1100000000L, 1, 4).select(hi.as("hi"), lo.as("lo"))
    val e = intercept[ArithmeticException](rows.agg(sum(col("hi")), sum(col("lo"))).collect())
    assert(e.getMessage.contains("ARITHMETIC_OVERFLOW"), e.getMessage)
  }

  test("property: q1's fixed-point reconstructs equal the decimal-sum doubles bit-for-bit") {
    // the r22 revenue-family sweep: every graded q1 column from LONG
    // sums must be BIT identical to the decimal-sum form per group —
    // including the 2^30 hi/lo split for the scale-10 charge sum.
    val qty = col("l_quantity").cast("decimal(14,2)")
    val price = col("l_extendedprice").cast("decimal(14,2)")
    val oneMinusDisc = lit(1).cast("decimal(6,4)") - col("l_discount").cast("decimal(6,4)")
    val onePlusTax = lit(1).cast("decimal(6,4)") + col("l_tax").cast("decimal(6,4)")
    val priceC = (price * lit(100)).cast("long")
    val discBp = (col("l_discount").cast("decimal(6,4)") * lit(10000)).cast("long")
    val taxBp = (col("l_tax").cast("decimal(6,4)") * lit(10000)).cast("long")
    val revM = priceC * (lit(10000L) - discBp)
    val chargeE10 = revM * (lit(10000L) + taxBp)
    def ofSum(c: org.apache.spark.sql.Column, k: Int) = c.cast("decimal(20,0)") / lit(k)
    val rows = model.Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(price * oneMinusDisc), 2).cast("double").as("disc_d"),
        round(sum(price * oneMinusDisc * onePlusTax), 2).cast("double").as("charge_d"),
        round(sum(qty).cast("double") / count(lit(1)), 4).as("avgq_d"),
        round(ofSum(sum(revM), 1000000), 2).cast("double").as("disc_l"),
        round((sum(shiftright(chargeE10, 30)).cast("decimal(16,0)") * lit(1073741824)
          + sum(chargeE10.bitwiseAND(lit(1073741823L))))
          / lit(10000000000L), 2).cast("double").as("charge_l"),
        round(ofSum(sum((qty * lit(100)).cast("long")), 100).cast("double")
          / count(lit(1)), 4).as("avgq_l"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      for (name <- Seq("disc", "charge", "avgq")) {
        val dec = r.getAs[Double](name + "_d")
        val lng = r.getAs[Double](name + "_l")
        assert(java.lang.Double.doubleToRawLongBits(dec) ===
          java.lang.Double.doubleToRawLongBits(lng),
          s"$name diverged for (${r.getString(0)},${r.getString(1)}): $dec vs $lng")
      }
    }
  }

  test("property: fixed-point long sums reproduce the decimal-sum doubles bit-for-bit") {
    // lineitem_corr (r22) accumulates exact fixed-point LONGs (with a
    // 2^20 hi/lo split for Σy², the one sum that can overflow) instead
    // of decimal(38,x) per row. Pin, on every real group of the
    // fixture, that each reconstructed-then-converted double is BIT
    // IDENTICAL to the decimal-sum double it replaced — same exact
    // rational, same single correctly-rounded conversion.
    val x = col("l_quantity").cast("decimal(14,2)")
    val y = col("l_extendedprice").cast("decimal(14,2)")
    val d = col("l_discount").cast("decimal(6,4)")
    val t = col("l_tax").cast("decimal(6,4)")
    val bigX = (x * lit(100)).cast("long")
    val bigY = (y * lit(100)).cast("long")
    val bigD = (d * lit(10000)).cast("long")
    val bigT = (t * lit(10000)).cast("long")
    val yy = bigY * bigY
    def dbl(c: org.apache.spark.sql.Column, k: Int) =
      (c.cast("decimal(20,0)") / lit(k)).cast("double")
    val both = model.Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(
        sum(x).cast("double").as("sx_d"), sum(y).cast("double").as("sy_d"),
        sum(x * y).cast("double").as("sxy_d"), sum(x * x).cast("double").as("sxx_d"),
        sum(y * y).cast("double").as("syy_d"),
        sum(d).cast("double").as("sd_d"), sum(t).cast("double").as("st_d"),
        sum(d * t).cast("double").as("sdt_d"),
        sum(bigX).as("sxL"), sum(bigY).as("syL"),
        sum(bigX * bigY).as("sxyL"), sum(bigX * bigX).as("sxxL"),
        sum(shiftright(yy, 20)).as("syyHi"),
        sum(yy.bitwiseAND(lit(1048575L))).as("syyLo"),
        sum(bigD).as("sdL"), sum(bigT).as("stL"), sum(bigD * bigT).as("sdtL"))
      .select(col("l_returnflag"),
        col("sx_d"), dbl(col("sxL"), 100).as("sx_l"),
        col("sy_d"), dbl(col("syL"), 100).as("sy_l"),
        col("sxy_d"), dbl(col("sxyL"), 10000).as("sxy_l"),
        col("sxx_d"), dbl(col("sxxL"), 10000).as("sxx_l"),
        col("syy_d"),
        ((col("syyHi").cast("decimal(20,0)") * lit(1048576) + col("syyLo"))
          / lit(10000)).cast("double").as("syy_l"),
        col("sd_d"), dbl(col("sdL"), 10000).as("sd_l"),
        col("st_d"), dbl(col("stL"), 10000).as("st_l"),
        col("sdt_d"), dbl(col("sdtL"), 100000000).as("sdt_l"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      for (name <- Seq("sx", "sy", "sxy", "sxx", "syy", "sd", "st", "sdt")) {
        val dec = r.getAs[Double](name + "_d")
        val lng = r.getAs[Double](name + "_l")
        assert(java.lang.Double.doubleToRawLongBits(dec) ===
          java.lang.Double.doubleToRawLongBits(lng),
          s"$name diverged for ${r.getString(0)}: $dec vs $lng")
      }
    }
  }
}
