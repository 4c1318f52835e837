package ragbench

/** Arithmetic the benchmark applies to its own measurements and to the
  * program's outputs. Kept free of Spark so the self-tests exercise it on
  * hand-made inputs.
  */
object Stats {

  /** Samples a percentile needs beyond it before it is reported. */
  val MinTail = 10

  /** The q-th percentile (0 < q < 1) by the nearest-rank rule, or None when
    * fewer than [[MinTail]] samples lie beyond it — a tail read from a
    * handful of samples is noise, so it is refused rather than printed.
    */
  def percentile(samples: Seq[Double], q: Double): Option[Double] = {
    require(q > 0 && q < 1, s"percentile must lie in (0, 1): $q")
    val n = samples.length
    val rank = math.ceil(q * n).toInt // 1-based nearest rank
    if (n == 0 || n - rank < MinTail) None
    else Some(samples.sorted.apply(rank - 1))
  }

  def median(samples: Seq[Double]): Double = {
    require(samples.nonEmpty, "median of no samples")
    val s = samples.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Recall@k as the engine defines it: |gt[:k] ∩ got[:k]| / |gt[:k]|, and 0
    * when either list is empty.
    */
  def recallAtK(gt: Seq[Long], got: Seq[Long], k: Int): Double = {
    val g = gt.take(k)
    val r = got.take(k)
    if (g.isEmpty || r.isEmpty) 0.0 else g.toSet.intersect(r.toSet).size.toDouble / g.size
  }

  /** Share of planted near-duplicate pairs whose two documents ended in one
    * cluster. `clusterOf` maps a document to its cluster label; a document
    * without a label is a singleton, so its pair counts as missed.
    */
  def dupRecall(planted: Seq[(Long, Long)], clusterOf: Map[Long, Long]): Double = {
    require(planted.nonEmpty, "no planted pairs")
    planted.count { case (a, b) =>
      (clusterOf.get(a), clusterOf.get(b)) match {
        case (Some(x), Some(y)) => x == y
        case _ => false
      }
    }.toDouble / planted.size
  }

  /** Squared L2 with the engine's operation order (widen, subtract, square,
    * left fold in double), so distances compare bit for bit.
    */
  def l2sq(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1 }
    s
  }

  /** Brute-force top-k over (id, vector) rows by (squared L2, id): the
    * benchmark's own reference answer, independent of every engine path.
    */
  def bruteTopK(q: Array[Float], rows: Array[(Long, Array[Float])], k: Int): Seq[(Long, Double)] =
    rows.iterator.map { case (id, v) => (id, l2sq(q, v)) }.toSeq
      .sortBy { case (id, d) => (d, id) }.take(k)

  /** A top-k answer of (rank, id, distance) rows as (id, distance) in the
    * program's own rank order, so the checks below see the order it
    * produced. Ranks must be 1..n, each once.
    */
  def inRankOrder(rows: Seq[(Int, Long, Double)]): Seq[(Long, Double)] = {
    val s = rows.sortBy(_._1)
    if (s.map(_._1) != (1 to s.length))
      throw new IllegalStateException(s"ranks ${s.map(_._1).mkString(",")} are not 1..${s.length}")
    s.map(r => (r._2, r._3))
  }

  /** Checks one top-k answer against the reference and returns the reasons
    * it fails (empty when it passes). `dists` are squared L2 distances.
    * With `exact` the id list must equal the reference; otherwise ids must
    * be distinct rows of the collection. Either way the distances must be
    * ascending and recompute from the stored vectors.
    */
  def checkTopK(
      q: Array[Float],
      got: Seq[(Long, Double)],
      vectors: Map[Long, Array[Float]],
      reference: Seq[(Long, Double)],
      k: Int,
      exact: Boolean): Seq[String] = {
    val problems = Seq.newBuilder[String]
    if (got.length != math.min(k, reference.length))
      problems += s"expected ${math.min(k, reference.length)} results, got ${got.length}"
    if (got.map(_._1).distinct.length != got.length) problems += "duplicate ids"
    if (got.zip(got.drop(1)).exists { case ((_, a), (_, b)) => b < a })
      problems += "distances not ascending"
    got.foreach { case (id, d) =>
      vectors.get(id) match {
        case None => problems += s"id $id is not in the collection"
        case Some(v) =>
          val want = l2sq(q, v)
          if (math.abs(want - d) > 1e-6 * math.max(1.0, want))
            problems += s"id $id: distance $d, recomputed $want"
      }
    }
    if (exact && got.map(_._1) != reference.map(_._1))
      problems += s"ids ${got.map(_._1).mkString(",")} != reference ${reference.map(_._1).mkString(",")}"
    problems.result()
  }
}
