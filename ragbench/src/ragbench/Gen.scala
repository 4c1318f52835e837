package ragbench

import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.security.MessageDigest
import java.util.SplittableRandom

/** Seeded input generator shared by the three workloads. Everything is a
  * pure function of the seed: the same seed gives byte-identical inputs,
  * and [[Digest]] records their sizes and a SHA-256 over every byte handed
  * to the program.
  *
  * Text is topic-structured: each topic owns a private vocabulary and every
  * page mixes ~75% topic words with ~25% words common to all topics, so
  * nearest neighbours of a page are mostly pages of its own topic.
  */
object Gen {

  val Topics = 24
  private val WordsPerTopic = 400
  private val CommonWords = 300
  private val Syllables = Array("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "ba",
    "de", "fu", "gi", "ho", "ju", "pe", "qi", "ra", "so", "tu", "wa", "xi", "yo", "zu")

  /** Deterministic pseudo-word for index i (no randomness involved). */
  private def word(i: Int): String = {
    val sb = new StringBuilder
    var x = i
    do { sb ++= Syllables(x % Syllables.length); x /= Syllables.length } while (x > 0)
    sb ++= Syllables((i * 7 + 3) % Syllables.length)
    sb.toString
  }

  private val common: Array[String] = Array.tabulate(CommonWords)(word)
  private val topical: Array[Array[String]] = Array.tabulate(Topics) { t =>
    Array.tabulate(WordsPerTopic)(j => word(CommonWords + t * WordsPerTopic + j))
  }

  private def pick(rng: SplittableRandom, topic: Int): String =
    if (rng.nextInt(4) == 0) common(rng.nextInt(CommonWords))
    else topical(topic)(rng.nextInt(WordsPerTopic))

  def words(rng: SplittableRandom, topic: Int, n: Int): Array[String] =
    Array.fill(n)(pick(rng, topic))

  /** Sizes and checksum of everything generated for one run. */
  final class Digest {
    private val md = MessageDigest.getInstance("SHA-256")
    var items = 0L
    var bytes = 0L
    def add(b: Array[Byte]): Unit = { md.update(b); items += 1; bytes += b.length }
    def add(s: String): Unit = add(s.getBytes(UTF_8))
    def hex: String = md.clone().asInstanceOf[MessageDigest].digest().map("%02x".format(_)).mkString
  }

  final case class Page(id: Long, topic: Int, text: String)

  /** `n` pages of 60–120 words, topics assigned round-robin-free at random. */
  def pages(seed: Long, n: Int, digest: Digest): Array[Page] = {
    val rng = new SplittableRandom(seed ^ 0x5EED0001L)
    Array.tabulate(n) { i =>
      val topic = rng.nextInt(Topics)
      val p = Page(i.toLong, topic, words(rng, topic, 60 + rng.nextInt(61)).mkString(" "))
      digest.add(p.text)
      p
    }
  }

  final case class Query(text: String, topic: Int)

  /** `n` distinct query texts of 6–12 words, each drawn from one topic. */
  def queries(seed: Long, n: Int, digest: Digest): Array[Query] = {
    val rng = new SplittableRandom(seed ^ 0x5EED0002L)
    val seen = scala.collection.mutable.HashSet.empty[String]
    val out = Array.newBuilder[Query]
    while (seen.size < n) {
      val topic = rng.nextInt(Topics)
      val text = words(rng, topic, 6 + rng.nextInt(7)).mkString(" ")
      if (seen.add(text)) { out += Query(text, topic); digest.add(text) }
    }
    out.result()
  }

  // ---- PDFs ---------------------------------------------------------------

  /** One generated PDF: its bytes and, per page, the text a correct
    * extract-and-clean must yield ("" for a planted empty page).
    */
  final case class Pdf(name: String, bytes: Array[Byte], expected: Seq[String])

  private def pdfString(s: String): String = s.flatMap {
    case '(' => "\\("
    case ')' => "\\)"
    case '\\' => "\\\\"
    case c if c < 0x20 => f"\\${c.toInt}%03o"
    case c => c.toString
  }

  /** Minimal uncompressed PDF 1.4 with one Helvetica text object per page. */
  def pdfBytes(pages: Seq[Seq[String]]): Array[Byte] = {
    val n = pages.length
    val font = 3 + 2 * n
    val objs = scala.collection.mutable.ArrayBuffer[String]()
    objs += "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
    objs += s"2 0 obj\n<< /Type /Pages /Kids [${(0 until n).map(i => s"${3 + 2 * i} 0 R").mkString(" ")}] /Count $n >>\nendobj\n"
    pages.zipWithIndex.foreach { case (lines, i) =>
      val content =
        if (lines.isEmpty) "BT ET"
        else "BT /F1 11 Tf 72 720 Td " + lines.map(l => s"(${pdfString(l)}) Tj").mkString(" 0 -14 Td ") + " ET"
      objs += s"${3 + 2 * i} 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        s"/Resources << /Font << /F1 $font 0 R >> >> /Contents ${4 + 2 * i} 0 R >>\nendobj\n"
      objs += s"${4 + 2 * i} 0 obj\n<< /Length ${content.length} >>\nstream\n$content\nendstream\nendobj\n"
    }
    objs += s"$font 0 obj\n<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>\nendobj\n"
    val body = new StringBuilder("%PDF-1.4\n")
    val offsets = objs.map { o => val off = body.length; body ++= o; off }
    val xref = body.length
    body ++= s"xref\n0 ${objs.length + 1}\n0000000000 65535 f \n"
    offsets.foreach(o => body ++= f"$o%010d 00000 n \n")
    body ++= s"trailer\n<< /Size ${objs.length + 1} /Root 1 0 R >>\nstartxref\n$xref\n%%EOF\n"
    body.toString.getBytes(ISO_8859_1)
  }

  /** A generated PDF corpus: the PDFs, and the planted duplicate pages by
    * page id (`pdf number * 100 + page number`). `exactGroups` are (source,
    * copy) pages whose copy differs only in letter case or in a control
    * character, both of which cleaning and exact dedup normalize away;
    * `nearPairs` are (source, copy) pages whose copy had `editRate` of its
    * words (at least one) replaced by different words.
    */
  final case class PdfCorpus(pdfs: Array[Pdf], exactGroups: Seq[Seq[Long]], nearPairs: Seq[(Long, Long)])

  def pageId(pdf: Int, page: Int): Long = pdf * 100L + page

  /** `n` PDFs of `pagesPer` pages. About 1 page in 12 is planted empty,
    * about 1 line in 8 carries a control character that cleaning must strip,
    * and `exactCopies` + `nearCopies` non-empty pages are overwritten with
    * copies of other non-empty pages.
    */
  def pdfs(seed: Long, n: Int, pagesPer: Int, exactCopies: Int, nearCopies: Int, editRate: Double,
           digest: Digest): PdfCorpus = {
    val rng = new SplittableRandom(seed ^ 0x5EED0003L)
    val topics = Array.fill(n)(rng.nextInt(Topics))
    val pages: Array[Array[Seq[String]]] = Array.tabulate(n) { d =>
      Array.fill(pagesPer) {
        if (rng.nextInt(12) == 0) Seq.empty[String]
        else Seq.fill(3 + rng.nextInt(4)) {
          val ws = words(rng, topics(d), 8 + rng.nextInt(6))
          if (rng.nextInt(8) == 0) ws(rng.nextInt(ws.length)) += (1 + rng.nextInt(30)).toChar
          ws.mkString(" ")
        }
      }
    }
    // distinct (source, copy) slots among the non-empty pages
    val slots = scala.util.Random.javaRandomToRandom(new java.util.Random(rng.nextLong()))
      .shuffle((for (d <- 0 until n; p <- 0 until pagesPer if pages(d)(p).nonEmpty) yield (d, p)).toVector)
    require(slots.length >= 2 * (exactCopies + nearCopies), "too few pages for the planted copies")
    def id(s: (Int, Int)) = pageId(s._1, s._2 + 1)
    val exactGroups = (0 until exactCopies).map { i =>
      val (src, dst) = (slots(2 * i), slots(2 * i + 1))
      val lines = pages(src._1)(src._2)
      pages(dst._1)(dst._2) =
        if (i % 2 == 0) lines.map(_.toUpperCase)
        else lines.updated(0, lines.head.patch(lines.head.indexOf(' '), "\u0007", 0))
      Seq(id(src), id(dst)).sorted
    }
    val nearPairs = (exactCopies until exactCopies + nearCopies).map { i =>
      val (src, dst) = (slots(2 * i), slots(2 * i + 1))
      val lines = pages(src._1)(src._2).map(_.split(" "))
      val positions = lines.indices.flatMap(l => lines(l).indices.map(l -> _))
      val edits = math.max(1, math.round(editRate * positions.length).toInt)
      val chosen = scala.collection.mutable.LinkedHashSet.empty[(Int, Int)]
      while (chosen.size < edits) chosen += positions(rng.nextInt(positions.length))
      chosen.foreach { case (l, w) =>
        var nw = pick(rng, topics(dst._1))
        while (nw == lines(l)(w)) nw = pick(rng, topics(dst._1))
        lines(l)(w) = nw
      }
      pages(dst._1)(dst._2) = lines.map(_.mkString(" "))
      (id(src), id(dst))
    }
    val out = Array.tabulate(n) { d =>
      val bytes = pdfBytes(pages(d).toSeq)
      digest.add(bytes)
      Pdf(f"d$d%06d", bytes, pages(d).toSeq.map(_.mkString(" ").filter(c => c >= 0x20 && c != 0x7f)))
    }
    PdfCorpus(out, exactGroups, nearPairs)
  }
}
