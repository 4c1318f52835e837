package ragbench

/** The benchmark's own tests: generator determinism, the percentile rule,
  * recall arithmetic, and a wrong top-k answer failing its check. Needs no
  * Spark session.
  *
  * {{{ python3 ragbench/run.py --selftest }}}
  */
object SelfTest {

  private var failures = 0
  private var passed = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; passed += 1; println(s"ok   $name") }
    catch { case e: Throwable => failures += 1; println(s"FAIL $name: $e") }

  private def assertEq[A](got: A, want: A): Unit =
    if (got != want) throw new AssertionError(s"got $got, want $want")

  private def digestOf(seed: Long): String = {
    val d = new Gen.Digest
    Gen.pages(seed, 300, d)
    Gen.queries(seed, 200, d)
    Gen.pdfs(seed, 5, 20, 3, 5, 0.03, d)
    d.hex
  }

  def main(args: Array[String]): Unit = {
    test("same seed gives byte-identical inputs") {
      assertEq(digestOf(7), digestOf(7))
      val a = Gen.pdfs(7, 3, 20, 2, 3, 0.03, new Gen.Digest)
      val b = Gen.pdfs(7, 3, 20, 2, 3, 0.03, new Gen.Digest)
      assert(a.pdfs.zip(b.pdfs).forall { case (x, y) => java.util.Arrays.equals(x.bytes, y.bytes) })
      assertEq(a.exactGroups, b.exactGroups)
      assertEq(a.nearPairs, b.nearPairs)
    }
    test("different seeds give different inputs") {
      assert(digestOf(7) != digestOf(8))
    }
    test("query pool texts are distinct") {
      val q = Gen.queries(3, 2000, new Gen.Digest)
      assertEq(q.map(_.text).distinct.length, 2000)
    }
    test("PDFs plant empty pages and control characters") {
      val pdfs = Gen.pdfs(11, 40, 20, 0, 0, 0.03, new Gen.Digest).pdfs
      assert(pdfs.exists(_.expected.contains("")), "no empty page planted")
      val text = new String(pdfs.head.bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
      assert(text.startsWith("%PDF-1.4") && text.endsWith("%%EOF\n"))
      assert(pdfs.exists(p => new String(p.bytes, "ISO-8859-1").matches("(?s).*\\\\0[0-3][0-7].*")),
        "no control character planted")
    }
    test("planted duplicate pages are where the corpus says") {
      val c = Gen.pdfs(5, 30, 20, 20, 30, 0.03, new Gen.Digest)
      val text = c.pdfs.zipWithIndex.flatMap { case (p, d) =>
        p.expected.zipWithIndex.map { case (t, k) => Gen.pageId(d, k + 1) -> t }
      }.toMap
      assertEq(c.exactGroups.length, 20)
      assertEq(c.nearPairs.length, 30)
      val planted = c.exactGroups.flatten ++ c.nearPairs.flatMap(p => Seq(p._1, p._2))
      assertEq(planted.distinct.length, planted.length)
      c.exactGroups.foreach(g => assertEq(g.map(id => text(id).toLowerCase).distinct.size, 1))
      c.nearPairs.foreach { case (a, b) =>
        val (wa, wb) = (text(a).split(" "), text(b).split(" "))
        assert(wa.nonEmpty && wa.length == wb.length)
        val edits = wa.zip(wb).count { case (x, y) => x != y }
        assert(edits >= 1 && edits <= math.max(1, math.round(0.03 * wa.length).toInt), s"$edits edits")
      }
    }
    test("a percentile with fewer than 10 samples beyond it is refused") {
      val s99 = (1 to 99).map(_.toDouble)
      assertEq(Stats.percentile(s99, 0.9), None)
      val s100 = (1 to 100).map(_.toDouble)
      assertEq(Stats.percentile(s100, 0.9), Some(90.0))
      assertEq(Stats.percentile(s100, 0.5), Some(50.0))
      assertEq(Stats.percentile(Nil, 0.5), None)
      assertEq(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)), 2.5)
    }
    test("recall@k arithmetic") {
      assertEq(Stats.recallAtK(Seq(1L, 2, 3, 4), Seq(4L, 3, 9, 8), 4), 0.5)
      assertEq(Stats.recallAtK(Seq(1L, 2, 3, 4), Seq(1L, 2, 9, 3), 2), 1.0)
      // the denominator is |gt[:k]|, not k
      assertEq(Stats.recallAtK(Seq(1L, 2), Seq(2L, 7, 8), 10), 0.5)
      assertEq(Stats.recallAtK(Nil, Seq(1L), 10), 0.0)
      assertEq(Stats.recallAtK(Seq(1L), Nil, 10), 0.0)
    }
    test("dup_recall arithmetic") {
      val labels = Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L, 5L -> 5L)
      assertEq(Stats.dupRecall(Seq(1L -> 2L, 3L -> 4L), labels), 1.0)
      assertEq(Stats.dupRecall(Seq(1L -> 2L, 2L -> 3L, 5L -> 6L, 7L -> 8L), labels), 0.25)
    }
    test("a correct top-k answer passes its check") {
      val rows = Array.tabulate(50)(i => (i.toLong, Array(i.toFloat, (i % 7).toFloat)))
      val q = Array(10.2f, 3f)
      val ref = Stats.bruteTopK(q, rows, 5)
      assertEq(Stats.checkTopK(q, ref, rows.toMap, ref, 5, exact = true), Nil)
    }
    test("a wrong top-k answer fails its check") {
      val rows = Array.tabulate(50)(i => (i.toLong, Array(i.toFloat, (i % 7).toFloat)))
      val vec = rows.toMap
      val q = Array(10.2f, 3f)
      val ref = Stats.bruteTopK(q, rows, 5)
      // a far row swapped in for the fifth neighbour, with its true distance
      val wrong = ref.take(4) :+ (40L -> Stats.l2sq(q, vec(40L)))
      assert(Stats.checkTopK(q, wrong, vec, ref, 5, exact = true).exists(_.startsWith("ids")))
      // the same answer still passes as an approximate one...
      assertEq(Stats.checkTopK(q, wrong, vec, ref, 5, exact = false), Nil)
      // ...unless its distances are out of order or do not recompute
      assert(Stats.checkTopK(q, ref.reverse, vec, ref, 5, exact = false).contains("distances not ascending"))
      val forged = ref.map { case (id, d) => (id, d * 0.5) }
      assert(Stats.checkTopK(q, forged, vec, ref, 5, exact = false).exists(_.contains("recomputed")))
      assert(Stats.checkTopK(q, ref.take(3), vec, ref, 5, exact = false).exists(_.startsWith("expected 5")))
      // an answer is checked in the order of the program's ranks, not re-sorted
      val ranked = ref.zipWithIndex.map { case ((id, d), i) => (5 - i, id, d) }
      assert(Stats.checkTopK(q, Stats.inRankOrder(ranked), vec, ref, 5, exact = true).contains("distances not ascending"))
      assert(scala.util.Try(Stats.inRankOrder(Seq((1, 1L, 0.0), (3, 2L, 1.0)))).isFailure)
    }
    test("the result line carries every digit of a value") {
      val o = Outcome(correct = true, 3, 0, Seq(Metric("op_p50_ms", 12.345678901, "ms")), Nil)
      assertEq(o.json,
        """{"correct": true, "attempted": 3, "failed": 0, "metrics": {"op_p50_ms": {"value": 12.345678901, "unit": "ms"}}}""")
    }
    test("BENCHMARK.json names exactly the workloads and metrics the benchmark prints") {
      import scala.jdk.CollectionConverters._
      val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File("BENCHMARK.json"))
      def pairs(key: String, field: String) =
        root.get(key).elements().asScala.map(n => n.get("name").asText -> n.get(field).asText).toSeq
      assertEq(pairs("workloads", "name").map(_._1), Main.Workloads)
      assertEq(pairs("end_to_end", "unit"), Runner.EndToEnd)
      assertEq(pairs("per_layer", "unit"), PerLayer.all)
    }
    println(s"$passed passed, $failures failed")
    if (failures > 0) sys.exit(1)
  }
}
