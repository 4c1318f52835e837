package graft

import java.nio.charset.StandardCharsets.ISO_8859_1

import graft.ingest.{PdfIngest, SimplePdf, SimplePdfExtractor, SimplePdfWriter}

/** The extractor is exercised on genuine PDF bytes emitted by
  * [[SimplePdfWriter]] (valid xref, page tree, optional Flate) — the
  * same generate-then-decode discipline as MultimodalSpec's PNGs; no
  * external jar anywhere in the loop.
  */
class SimplePdfSpec extends GraftSpec {

  private def makePdf(pages: Seq[Seq[String]], compress: Boolean = false,
                      contentOverride: Option[String] = None): Array[Byte] =
    SimplePdfWriter.write(pages, compress, contentOverride)

  test("multi-page roundtrip: written lines come back per page, in tree order") {
    val pages = Seq(
      Seq("Attention Is All You Need", "Vaswani et al. 2017"),
      Seq("We propose a new architecture,", "the Transformer."),
      Seq("Results on WMT14 En-De."))
    val got = SimplePdf.extractPages(makePdf(pages))
    assert(got === pages.map(_.mkString("\n")))
  }

  test("FlateDecode streams extract identically to raw streams") {
    val pages = Seq(Seq("compressed page one"), Seq("and page (two) with \\ escapes"))
    assert(SimplePdf.extractPages(makePdf(pages, compress = true)) ===
      SimplePdf.extractPages(makePdf(pages)))
    assert(SimplePdf.extractPages(makePdf(pages, compress = true)).head ===
      "compressed page one")
  }

  test("PDF 1.5 object streams: ObjStm-packed page tree extracts identically") {
    // every dict object (catalog/pages/pages/font) lives inside one
    // Flate-compressed /Type /ObjStm and the xref is a /Type /XRef
    // stream — the layout modern generators emit. Extracted text must
    // equal the classic-layout file's, byte-different containers
    // notwithstanding.
    val pages = Seq(
      Seq("Object streams arrived in PDF 1.5.", "They pack dicts together."),
      Seq("Cross-reference streams", "replace the xref table."),
      Seq("Page three closes the tree."))
    val objStm = SimplePdfWriter.writeObjStm(pages)
    val s = new String(objStm, ISO_8859_1)
    assert(s.startsWith("%PDF-1.5"))
    assert(s.contains("/ObjStm") && s.contains("/XRef"))
    assert(!s.contains("trailer"), "an xref-stream file has no classic trailer")
    // the page dicts must NOT appear as top-level objects
    assert(!s.contains("0 obj\n<< /Type /Page "))
    assert(SimplePdf.extractPages(objStm) ===
      SimplePdf.extractPages(SimplePdfWriter.write(pages, compress = true)))
    assert(SimplePdf.extractPages(objStm) === pages.map(_.mkString("\n")))

    // uncompressed content + single page still round-trips
    val one = SimplePdfWriter.writeObjStm(Seq(Seq("solo")), compress = false)
    assert(SimplePdf.extractPages(one) === Seq("solo"))

    // a corrupt ObjStm degrades to the per-page "" placeholder, not a throw
    val broken = new String(SimplePdfWriter.writeObjStm(pages), ISO_8859_1)
      .replaceFirst("/First \\d+", "/First 999999").getBytes(ISO_8859_1)
    val got = SimplePdf.extractPages(broken)
    assert(got.forall(_ == "") || got === Seq(""))
  }

  test("Type0/CID font with /ToUnicode: shifted CIDs map back to the exact text") {
    // the writer emits 2-byte CIDs at codepoint+7, so byte-pair decoding
    // yields garbage — only applying the parsed CMap recovers the text
    val pages = Seq(
      Seq("Unicode arrives via ToUnicode.", "CID 0x0041 is not 'A' here."),
      Seq("Second page, same font."))
    Seq(false, true).foreach { compress =>
      val pdf = SimplePdfWriter.writeCid(pages, cidOffset = 7, compress = compress)
      assert(SimplePdf.extractPages(pdf) === pages.map(_.mkString("\n")),
        s"compress=$compress")
    }
    // a different offset exercises a different CID band
    val shifted = SimplePdfWriter.writeCid(pages, cidOffset = 1000)
    assert(SimplePdf.extractPages(shifted) === pages.map(_.mkString("\n")))
  }

  test("RC4-encrypted PDF (standard handler, empty user password) decrypts to the text") {
    val pages = Seq(
      Seq("This stream is RC4 ciphertext on disk.", "Key = MD5(pad,O,P,ID)[0,5)."),
      Seq("Second page, same file key, different object key."))
    Seq(false, true).foreach { compress =>
      val pdf = SimplePdfWriter.writeEncrypted(pages, compress = compress)
      val s = new String(pdf, ISO_8859_1)
      assert(s.contains("/Encrypt") && s.contains("/Standard"))
      // the plaintext operators must NOT appear in the stored stream
      // (uncompressed variant: 'BT /F1' would be visible if unencrypted)
      if (!compress) assert(!s.contains("BT /F1"),
        "content must be ciphertext on disk")
      assert(SimplePdf.extractPages(pdf) === pages.map(_.mkString("\n")),
        s"compress=$compress")
    }
    // U entry must verify: RC4(fileKey, pad) — i.e. the writer and the
    // reader agree on algorithms 2 and 4
    val pdf = SimplePdfWriter.writeEncrypted(pages)
    val s = new String(pdf, ISO_8859_1)
    val o = """\/O <([0-9A-Fa-f]+)>""".r.findFirstMatchIn(s).get.group(1)
      .grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    val u = """\/U <([0-9A-Fa-f]+)>""".r.findFirstMatchIn(s).get.group(1)
      .grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    val id0 = """\/ID \[<([0-9A-Fa-f]+)>""".r.findFirstMatchIn(s).get.group(1)
      .grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    val key = SimplePdf.fileKey(o, -4, id0)
    assert(SimplePdf.rc4(key, SimplePdf.PadBytes).toSeq === u.toSeq,
      "the U entry must equal RC4(fileKey, padding) per Algorithm 4")
  }

  test("AES-encrypted PDF (V4/R4 AESV2, empty user password) decrypts to the text") {
    val pages = Seq(
      Seq("This stream is AES-128-CBC ciphertext on disk.", "Rev-4 key, sAlT object keys."),
      Seq("Second page, fresh IV, same file key."))
    Seq(false, true).foreach { compress =>
      val pdf = SimplePdfWriter.writeEncryptedAes(pages, compress = compress)
      val s = new String(pdf, ISO_8859_1)
      assert(s.contains("/AESV2") && s.contains("/R 4"))
      if (!compress) assert(!s.contains("BT /F1"),
        "content must be ciphertext on disk")
      assert(SimplePdf.extractPages(pdf) === pages.map(_.mkString("\n")),
        s"compress=$compress")
    }
    // U entry must verify per Algorithm 5 (rev >= 3): the RC4 chain over
    // MD5(pad || ID0) under the 50-round rev-4 file key
    val pdf = SimplePdfWriter.writeEncryptedAes(pages)
    val s = new String(pdf, ISO_8859_1)
    def hx(re: String): Array[Byte] =
      re.r.findFirstMatchIn(s).get.group(1)
        .grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    val o = hx("""\/O <([0-9A-Fa-f]+)>""")
    val u = hx("""\/U <([0-9A-Fa-f]+)>""")
    val id0 = hx("""\/ID \[<([0-9A-Fa-f]+)>""")
    val key = SimplePdf.fileKeyR(o, -44, id0, rev = 4, keyLen = 16)
    assert(SimplePdf.userEntryR(key, id0, rev = 4).take(16).toSeq === u.take(16).toSeq,
      "the U entry's first 16 bytes must verify per Algorithm 5")
    // a flipped ciphertext byte must degrade (CBC garbles + padding/Flate
    // breaks), never emit wrong text silently
    val streamAt = new String(pdf, ISO_8859_1).indexOf("stream\n")
    val bad = pdf.clone(); bad(streamAt + 40) = (bad(streamAt + 40) ^ 0x55).toByte
    val out = SimplePdf.extractPages(bad)
    assert(out.length === 2 || out === Seq(""))
    assert(out.head !== pages.head.mkString("\n"))
  }

  test("parseCMap: bfchar entries, multi-char UTF-16 targets, bfrange expansion") {
    val cmap =
      """begincmap
        |2 beginbfchar
        |<0003> <0041>
        |<0007> <00660066>
        |endbfchar
        |1 beginbfrange
        |<0010> <0012> <0061>
        |endbfrange
        |endcmap""".stripMargin
    val m = SimplePdf.parseCMap(cmap)
    assert(m(3) === "A")
    assert(m(7) === "ff", "a bfchar target may be multiple UTF-16 code units")
    assert(m(0x10) === "a" && m(0x11) === "b" && m(0x12) === "c")
    assert(!m.contains(0x13))
  }

  test("TJ arrays, hex strings, quote operator and octal escapes all show") {
    val content = "BT /F1 12 Tf 72 720 Td " +
      "[(Kern) -120 (ed)] TJ " + // TJ array: strings concatenate, kerns drop
      "T* (next\\040line) Tj " + // octal 040 = space
      "<48492100> Tj " + // hex "HI!\0"
      "(apostrophe) ' ET"
    val got = SimplePdf.extractPages(
      makePdf(Seq(Seq("ignored")), contentOverride = Some(content))).head
    assert(got.contains("Kerned"))
    assert(got.contains("next line"))
    assert(got.contains("HI!"))
    assert(got.contains("apostrophe"))
  }

  test("strings bound to non-show operators never leak into the text") {
    // (skip) is an operand of an unsupported op and must be dropped
    val content = "BT (skip) Tz 72 720 Td (keep) Tj ET"
    val got = SimplePdf.extractPages(
      makePdf(Seq(Seq("ignored")), contentOverride = Some(content))).head
    assert(got === "keep")
  }

  test("failure placeholders: non-PDF payload and broken page keep alignment") {
    assert(SimplePdf.extractPages("not a pdf at all".getBytes(ISO_8859_1)) === Seq(""))
    // page 2's content object ref points nowhere -> "" but page list intact
    val pdf = new String(makePdf(Seq(Seq("good page"), Seq("doomed"))), ISO_8859_1)
    val broken = pdf.replace("/Contents 6 0 R", "/Contents 99 0 R").getBytes(ISO_8859_1)
    assert(SimplePdf.extractPages(broken) === Seq("good page", ""))
  }

  test("ingestDirectory over real .pdf files yields reference-scheme page rows") {
    val dir = GraftSpec.tempDir("graft_pdfs")
    java.nio.file.Files.write(dir.resolve("paper1.pdf"),
      makePdf(Seq(Seq("alpha one"), Seq("alpha two"))))
    java.nio.file.Files.write(dir.resolve("paper2.pdf"),
      makePdf(Seq(Seq("beta solo")), compress = true))
    try {
      val rows = PdfIngest.ingestDirectory(spark, dir.toString, "*.pdf", SimplePdfExtractor)
        .collect().map(r => (r.getString(0), r.getString(3))).sortBy(_._1)
      assert(rows.toSeq === Seq(
        ("paper1_page_1", "alpha one"),
        ("paper1_page_2", "alpha two"),
        ("paper2_page_1", "beta solo")))
    } finally {
      dir.toFile.listFiles().foreach(_.delete()); dir.toFile.delete()
    }
  }
  test("LZW roundtrip across every code width, clear/reset, and EarlyChange") {
    import graft.ingest.{SimplePdf, SimplePdfWriter}
    // deterministic pseudo-random bytes: enough entropy to push the
    // dictionary through 9->10->11->12 bits and a full-table reset
    def prng(n: Int): Array[Byte] = {
      var s = 0x9e3779b97f4a7c15L
      Array.fill(n) { s = s * 6364136223846793005L + 1442695040888963407L; (s >>> 33).toByte }
    }
    for (n <- Seq(0, 1, 100, 4000, 60000); ec <- Seq(1, 0)) {
      val data = prng(n)
      val dec = SimplePdf.lzwDecode(SimplePdfWriter.lzwEncode(data, ec), ec)
      assert(dec.toSeq === data.toSeq, s"n=$n earlyChange=$ec")
    }
    // compressible input (repeats exercise multi-byte codes heavily)
    val rep = ("the quick brown fox " * 3000).getBytes("ISO-8859-1")
    assert(SimplePdf.lzwDecode(SimplePdfWriter.lzwEncode(rep)).toSeq === rep.toSeq)
    // truncated/corrupt streams degrade to a prefix, never throw
    val enc = SimplePdfWriter.lzwEncode(prng(5000))
    for (cut <- Seq(1, enc.length / 2)) {
      val partial = SimplePdf.lzwDecode(enc.take(cut))
      assert(partial.toSeq === prng(5000).toSeq.take(partial.length))
    }
  }

  test("PNG predictor roundtrip: all five row filters undo exactly") {
    import graft.ingest.{SimplePdf, SimplePdfWriter}
    def prng(n: Int): Array[Byte] = {
      var s = 42L
      Array.fill(n) { s = s * 6364136223846793005L + 1L; (s >>> 33).toByte }
    }
    for (cols <- Seq(1, 7, 16)) {
      val rows = 12 // >= 5 rows so every filter type appears
      val data = prng(rows * cols)
      val filtered = SimplePdfWriter.pngPredict(data, cols)
      assert(SimplePdf.undoPredictor(filtered, 12, 1, 8, cols).toSeq === data.toSeq,
        s"cols=$cols")
    }
    // TIFF predictor 2: horizontal differencing undone
    val row = Array[Byte](10, 20, 25, 23, 40)
    val diffed = row.clone()
    for (i <- (1 until diffed.length).reverse) diffed(i) = (diffed(i) - diffed(i - 1)).toByte
    assert(SimplePdf.undoPredictor(diffed, 2, 1, 8, 5).toSeq === row.toSeq)
  }

  test("LZWDecode content streams (with and without PNG predictor) extract to the text") {
    import graft.ingest.{SimplePdf, SimplePdfWriter}
    val pages = Seq(
      Seq("LZW arrived with PDF 1.0.", "It predates FlateDecode."),
      Seq("Older arXiv PDFs still carry it."))
    val expect = SimplePdf.extractPages(SimplePdfWriter.write(pages))
    assert(SimplePdf.extractPages(SimplePdfWriter.writeLzw(pages)) === expect)
    assert(SimplePdf.extractPages(SimplePdfWriter.writeLzw(pages, predictor = 12)) === expect,
      "PNG-predicted LZW stream must extract identically")
    assert(SimplePdf.extractPages(SimplePdfWriter.writeLzw(pages, earlyChange = 0)) === expect,
      "/EarlyChange 0 must be honored")
    // the stored stream must actually be LZW bytes (operators invisible)
    val s = new String(SimplePdfWriter.writeLzw(pages), "ISO-8859-1")
    assert(s.contains("/LZWDecode") && !s.contains("BT /F1"))
  }

  test("AES-256/R6 PDF (V5 AESV3, PDF 2.0 handler) decrypts for user, owner, and empty passwords") {
    val pages = Seq(
      Seq("This stream is AES-256-CBC ciphertext.", "One file key, unwrapped from UE."),
      Seq("Algorithm 2.B hardens the password", "through SHA-256/384/512 + AES rounds."))
    // empty user password: transparent extraction, like the other handlers
    Seq(false, true).foreach { compress =>
      val pdf = SimplePdfWriter.writeEncryptedAes256(pages, compress = compress)
      val s = new String(pdf, ISO_8859_1)
      assert(s.contains("/AESV3") && s.contains("/R 6") && s.contains("/UE"))
      if (!compress) assert(!s.contains("BT /F1"), "content must be ciphertext on disk")
      assert(SimplePdf.extractPages(pdf) === pages.map(_.mkString("\n")), s"compress=$compress")
    }
    // a REAL (non-empty) user password: R6 hashes the password itself,
    // so the no-password read degrades to Seq("") and the correct
    // password recovers the text — as does the OWNER password via O/OE
    val locked = SimplePdfWriter.writeEncryptedAes256(pages, userPassword = "s3cret")
    assert(SimplePdf.extractPages(locked) === Seq(""), "no password must degrade, not throw")
    assert(SimplePdf.extractPages(locked, "wrong") === Seq(""))
    assert(SimplePdf.extractPages(locked, "s3cret") === pages.map(_.mkString("\n")))
    assert(SimplePdf.extractPages(locked, "own3r") === pages.map(_.mkString("\n")),
      "the owner password must unwrap the same file key via O/OE")
  }

  test("lzwDecode total on arbitrary bytes: never throws, always terminates") {
    import graft.ingest.SimplePdf
    // decoder robustness on garbage input (the per-page "" degrade
    // contract depends on it): deterministic pseudo-random buffers of
    // several sizes, both EarlyChange values, must return SOME prefix
    // without throwing — including all-0xFF (max codes) and all-zero
    // (dense code 0 repeats) adversarial patterns
    var s = 77L
    def prng(n: Int): Array[Byte] =
      Array.fill(n) { s = s * 6364136223846793005L + 1442695040888963407L; (s >>> 29).toByte }
    for (n <- Seq(1, 2, 17, 1000, 20000); ec <- Seq(0, 1)) {
      SimplePdf.lzwDecode(prng(n), ec)
      SimplePdf.lzwDecode(Array.fill[Byte](n)(0xFF.toByte), ec)
      SimplePdf.lzwDecode(new Array[Byte](n), ec)
    }
    succeed
  }

  test("undoPredictor total on ragged/garbage input: never throws") {
    import graft.ingest.SimplePdf
    var s = 13L
    def prng(n: Int): Array[Byte] =
      Array.fill(n) { s = s * 6364136223846793005L + 1L; (s >>> 30).toByte }
    for (n <- Seq(0, 1, 5, 33, 1000); pred <- Seq(2, 10, 12, 15); cols <- Seq(1, 4, 16)) {
      SimplePdf.undoPredictor(prng(n), pred, 1, 8, cols)
    }
    // bogus filter-type bytes (>4) pass data through rather than throw
    val weird = Array[Byte](9, 1, 2, 3, 4) // filter byte 9, one 4-byte row
    assert(SimplePdf.undoPredictor(weird, 12, 1, 8, 4).length === 4)
    succeed
  }

}
