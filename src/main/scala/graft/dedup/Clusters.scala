package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Materialize

/** Duplicate-cluster assignment: connected components over a near-dup
  * pair list — the step that turns any pairwise dedup output (n-gram
  * Jaccard, MinHash, SimHash, embedding-cosine) into "keep one document
  * per duplicate cluster", which is what a training-data pipeline
  * actually needs. The reference stops at pairwise distances
  * (chromadb_acc_experiment.py:508-537 ranks neighbors but never groups
  * them); clustering is the natural completion of that surface.
  *
  * Distributed algorithm: alternating large-star/small-star (Kiveris et
  * al., "Connected Components in MapReduce and Beyond", SoCC'14). Each
  * round rewires the edge set toward a union of stars centered at each
  * component's minimum id; convergence takes O(log n) rounds REGARDLESS
  * of graph diameter — a chain-shaped template-spam dup graph of
  * diameter 10^6 converges in ~20 rounds, where naive min-label
  * propagation needs 10^6. Every round is plain shuffle equi-joins +
  * hash aggregations; no driver-side graph state, no collect, so the
  * edge list can be arbitrarily larger than any single machine.
  *
  *  - large-star: every node u connects its strictly-larger neighbors
  *    to m(u) = min(N(u) ∪ {u});
  *  - small-star: every node u connects its smaller-or-equal neighbors
  *    (and itself) to that minimum.
  *
  * Both operations preserve connectivity exactly (proof in the paper,
  * Lemmas 1-2); a union of min-centered stars is the mutual fixed
  * point, at which every node's sole smaller neighbor IS its
  * component's minimum — the label.
  *
  * Scale notes: a [[Materialize]] cut per round truncates the lineage
  * growth, and each round's copy is released as the next lands (without
  * that every round would pin one full edge-set copy for the session).
  * The cut follows `spark.graft.materialize`: `local` pins blocks to
  * executors and does not survive executor loss; on a multi-executor
  * cluster set `reliable`. Tiny graphs (the common case: a near-dup
  * pair list is high-threshold filter output) short-circuit to driver
  * union-find below `maxDriverEdges` — zero iterative jobs.
  */
object Clusters {

  /** Per-vertex component labels: (id, label) with label = min vertex id
    * reachable in the pair graph. Only vertices that appear in at least
    * one NON-self pair are returned: self-loops (id_a == id_b) are
    * dropped up front on BOTH the driver and distributed paths — a
    * document paired only with itself is a singleton, and singletons are
    * not part of the output contract.
    */
  def connectedComponents(
      pairs: DataFrame,
      idA: String = "id_a",
      idB: String = "id_b",
      maxIter: Int = 50,
      maxDriverEdges: Long = 100000): DataFrame = {
    val noSelf = pairs.filter(col(idA) =!= col(idB))
    val edges = noSelf.select(col(idA).as("src"), col(idB).as("dst"))
      .union(noSelf.select(col(idB).as("src"), col(idA).as("dst")))
      .transform(Materialize.materializeOnly(_))
    // Hybrid: a near-dup edge list is usually TINY relative to the corpus
    // (it's the output of a high-threshold filter), so below the cutoff
    // solve it with driver union-find — zero iterative jobs. The
    // distributed star alternation below remains the path for graphs that
    // don't fit one machine; the threshold is on EDGES (already
    // aggregated data), never on corpus rows. Long ids only — anything
    // else stays distributed.
    val longIds = edges.schema.fields.forall(_.dataType ==
      org.apache.spark.sql.types.LongType)
    // Bounded probe: limit(max+1) short-circuits once max+1 rows exist,
    // so a graph far above the cutoff pays a capped scan, not a full
    // materializing count.
    val probeLimit = math.min(maxDriverEdges + 1, Int.MaxValue.toLong).toInt
    if (longIds && edges.limit(probeLimit).count() <= maxDriverEdges) {
      val spark = pairs.sparkSession
      import spark.implicits._
      val es = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
      Materialize.releaseOne(edges)
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      es.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val out = parent.keys.toSeq.sorted.map(v => (v, find(v)))
      return out.toDF("id", "label")
    }
    starContraction(edges, maxIter)
  }

  /** Large-star/small-star alternation over a symmetric edge list
    * (columns src, dst). Returns (id, label) for every vertex incident
    * to an edge. O(log n) rounds; each round runs two shuffles plus a
    * count job that doubles as the checkpoint materializer, and an
    * anti-join equality probe ONLY on rounds where the edge count is
    * unchanged (|next| == |cur| plus next⊆-check implies set equality
    * for distinct sets, so rounds that still shrink skip the probe
    * entirely). Each round's checkpoint is unpersisted as soon as the
    * following round materializes; only the fixed point stays pinned,
    * and the session's ContextCleaner reclaims it once the returned
    * Dataset is dropped.
    */
  private def starContraction(symEdges: DataFrame, maxIter: Int): DataFrame = {
    // Canonical undirected form: (hi, lo) with hi > lo, self-loops
    // dropped, deduplicated. All downstream invariants keep hi > lo.
    var cur = symEdges
      .filter(col("src") =!= col("dst"))
      .select(greatest(col("src"), col("dst")).as("hi"),
        least(col("src"), col("dst")).as("lo"))
      .distinct()
      .transform(Materialize.materializeOnly(_))
    Materialize.releaseOne(symEdges)
    var curCount = cur.count()
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // large-star: for each node u, connect every strictly larger
      // neighbor v to m(u) = min(N(u) ∪ {u}). Since m(u) <= u < v, the
      // emitted (v, m(u)) is already canonical. Each input edge is
      // emitted exactly once (from its smaller endpoint's reduce).
      val sym = cur.select(col("hi").as("u"), col("lo").as("v"))
        .union(cur.select(col("lo").as("u"), col("hi").as("v")))
      val mins = sym.groupBy("u")
        .agg(least(min(col("v")), first(col("u"))).as("m"))
      val large = sym.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("hi"), col("m").as("lo"))
        .distinct()
      // small-star: edges are (hi, lo) with lo < hi, so grouping by hi
      // sees exactly the smaller neighbors; connect all of them, and hi
      // itself, to the minimum.
      val smallMins = large.groupBy("hi").agg(min(col("lo")).as("m"))
      val withM = large.join(smallMins, "hi")
      val next = withM.select(col("hi"), col("m").as("lo"))
        .union(withM.filter(col("lo") =!= col("m"))
          .select(col("lo").as("hi"), col("m").as("lo")))
        .distinct()
        .transform(Materialize.materializeOnly(_, eager = false))
      // Fixed point: a union of min-centered stars maps to itself under
      // both operations, so next == cur terminates. Both are distinct
      // sets, so equal counts + empty one-sided difference ⇔ equality;
      // the count() also materializes the lazy checkpoint, and rounds
      // that changed the edge count skip the anti-join outright.
      val nextCount = next.count()
      converged = nextCount == curCount && next.exceptAll(cur).isEmpty
      Materialize.releaseOne(cur)
      cur = next
      curCount = nextCount
      iter += 1
    }
    // A non-converged exit would return WRONG labels — and a wrong drop
    // list deletes documents. With star contraction the round count is
    // O(log n) independent of diameter, so hitting maxIter=50 means
    // something is genuinely broken; fail loudly.
    if (!converged) {
      throw new IllegalStateException(
        s"connectedComponents did not converge within $maxIter star rounds; " +
          "labels would be incorrect")
    }
    // At the fixed point each non-minimum vertex has exactly one edge,
    // to its component's minimum; minima label themselves.
    cur.select(col("hi").as("id"), col("lo").as("label"))
      .union(cur.select(col("lo").as("id"), col("lo").as("label")))
      .distinct()
  }

  /** Naive min-label propagation — round count ∝ component diameter.
    * Kept ONLY as a small-graph differential oracle for
    * [[starContraction]] (ClustersSpec); never on the production path.
    */
  private[graft] def minLabelPropagation(
      pairs: DataFrame,
      idA: String = "id_a",
      idB: String = "id_b",
      maxIter: Int = 50): DataFrame = {
    // Same vertex contract as connectedComponents: self-loops dropped.
    val noSelf = pairs.filter(col(idA) =!= col(idB))
    val edges = noSelf.select(col(idA).as("src"), col(idB).as("dst"))
      .union(noSelf.select(col(idB).as("src"), col(idA).as("dst")))
      .transform(Materialize.materializeOnly(_))
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .transform(Materialize.materializeOnly(_))
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val nbrMin = edges
        .join(labels.select(col("id").as("dst"), col("label").as("dst_label")), "dst")
        .groupBy("src").agg(min("dst_label").as("nbr_label"))
        .withColumnRenamed("src", "id")
      val next = labels
        .join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nbr_label"), col("label"))).as("label"))
        .transform(Materialize.materializeOnly(_, eager = false))
      converged = next
        .join(labels.withColumnRenamed("label", "prev"), "id")
        .filter(col("label") < col("prev"))
        .isEmpty
      Materialize.releaseOne(labels)
      labels = next
      iter += 1
    }
    Materialize.releaseOne(edges)
    if (!converged) {
      throw new IllegalStateException(
        s"minLabelPropagation did not converge within $maxIter rounds")
    }
    labels
  }

  /** Cluster view: (doc_id, cluster_id, cluster_size) for every document
    * that has at least one near-duplicate.
    */
  def clusters(
      pairs: DataFrame,
      idA: String = "id_a",
      idB: String = "id_b"): DataFrame = {
    val labels = connectedComponents(pairs, idA, idB)
    val sizes = labels.groupBy("label").agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "label")
      .select(col("id").as("doc_id"), col("label").as("cluster_id"), col("cluster_size"))
  }
}
