package graft.search

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Promise}
import scala.concurrent.duration.Duration
import scala.util.control.NonFatal

import org.apache.spark.{HashPartitioner, SparkContext}
import org.apache.spark.rdd.{PartitionPruningRDD, RDD}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import TopK.{Hit, frameOf, topKOnDriver}

/** HNSW graph ANN (Malkov & Yashunin, TPAMI'18) — the index family the
  * reference actually queries (chromadb builds HNSW implicitly at
  * `create_collections.py:260-268` and tunes it via ef/space kwargs;
  * queried at `chromadb_speed_experiment.py:473-477`). The suite's
  * LSH/IVF/PQ rows cover the contract with measured recall; this closes
  * the remaining qualitative gap with a real navigable-small-world
  * graph walk.
  *
  * Spark-first shape — the SEGMENT model (how Lucene/Elasticsearch ship
  * graph ANN on clusters): the collection is hash-partitioned into
  * `numGraphs` segments, each partition builds its own in-memory HNSW
  * in ONE `mapPartitions` pass (embarrassingly parallel, zero shuffle
  * of vectors beyond the one partitioning exchange), every segment
  * answers each broadcast query from its local graph, and the global
  * answer is a per-query top-k over the `numGraphs · k` candidate rows,
  * merged on the driver in the same job ([[TopK.topKOnDriver]] — no shuffle;
  * the driver holds O(k · |Q|) rows, never O(N)). At 100 TB: segments
  * are the parallelism unit, graph build cost is linear-ish per segment
  * (each insert touches ~efConstruction nodes), query fan-out is one
  * tiny task per segment, and the merge is a bounded top-k heap per
  * query. For truly extreme segment counts the IVF router in front
  * (probe a subset of segments) is the standard composition — both
  * pieces exist here.
  *
  * RESIDENT SERVING: a STORED index ([[buildIndex]], [[buildRoutedIndex]])
  * is searched the way a vector database serves it — from graphs that
  * stay in memory. The first search of an index version rehydrates its
  * segment (or cell) graphs once into a persisted RDD, one partition per
  * graph; every later search runs one narrow task per partition against
  * them, with no index scan, no exchange of vectors and no rebuild
  * ([[graphsOf]] has the key and the lifetime). A resident search is one
  * Spark job: the walk tasks, whose bounded per-query top-k lists the
  * driver merges as they finish.
  *
  * DETERMINISM (the suite's oracle discipline): layer assignment is a
  * SplitMix64 hash of the vector id (no RNG state), insertion order is
  * the segment's ids sorted ascending, neighbor selection and search
  * order break distance ties on id — so the graph, and therefore the
  * result set, is a pure function of the partitioned input.
  */
object Hnsw {

  // widen BEFORE subtracting — the exact op sequence of the codegen'd
  // FloatVecL2Sq, so graph and routing distances are bit-identical to
  // the exact path's (and to the oracle's l2Sql² via the same left fold)
  private def l2Sq(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1 }
    s
  }

  private val byDistThenId: Ordering[(Double, Int)] =
    Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Int)

  /** In-memory HNSW over one segment's vectors. Single-threaded build;
    * distances are double-accumulated L2² over float components (same
    * arithmetic as the codegen'd floatvecl2sq used by the exact path).
    * Adjacency lists are primitive `Array[Int]`s, replaced (never grown
    * in place) on insert — a rehydrated graph that only answers
    * searches carries no boxed node indices.
    */
  final class Graph(m: Int, efConstruction: Int) {
    private val mL = 1.0 / math.log(m.toDouble)
    private val maxM0 = 2 * m
    private val ids = mutable.ArrayBuffer.empty[Long]
    private val vecs = mutable.ArrayBuffer.empty[Array[Float]]
    // neighbors(node)(layer) = node indices
    private val neighbors = mutable.ArrayBuffer.empty[Array[Array[Int]]]
    private var entry: Int = -1
    private var entryLevel: Int = -1

    def size: Int = ids.length

    /** SplitMix64 of the id → dyadic uniform in (0,1) → geometric-ish
      * layer. No RNG state: the same id always lands on the same layer.
      */
    private def levelOf(id: Long): Int = {
      var z = id + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z = z ^ (z >>> 31)
      val u = ((z >>> 11).toDouble + 1.0) / 9007199254740993.0 // (0,1)
      math.min((-math.log(u) * mL).toInt, 31)
    }

    /** Beam search within one layer from `entries`; returns up to `ef`
      * (dist, node) pairs, nearest first, ties on node id.
      */
    private def searchLayer(q: Array[Float], entries: Seq[Int], ef: Int,
        layer: Int): mutable.ArrayBuffer[(Double, Int)] = {
      implicit val ord: Ordering[(Double, Int)] = byDistThenId
      val visited = mutable.HashSet.empty[Int]
      // candidates: nearest-first; results: farthest-first (bounded ef)
      val cand = mutable.PriorityQueue.empty[(Double, Int)](ord.reverse)
      val res = mutable.PriorityQueue.empty[(Double, Int)](ord)
      entries.foreach { e =>
        if (visited.add(e)) {
          val d = l2Sq(q, vecs(e))
          cand.enqueue((d, e)); res.enqueue((d, e))
        }
      }
      while (res.size > ef) res.dequeue()
      while (cand.nonEmpty) {
        val (dc, c) = cand.dequeue()
        if (res.size >= ef && dc > res.head._1) { cand.clear() }
        else {
          val nbrs = neighbors(c)(layer)
          var i = 0
          while (i < nbrs.length) {
            val nb = nbrs(i)
            if (visited.add(nb)) {
              val d = l2Sq(q, vecs(nb))
              if (res.size < ef || d < res.head._1 ||
                  (d == res.head._1 && nb < res.head._2)) {
                cand.enqueue((d, nb)); res.enqueue((d, nb))
                if (res.size > ef) res.dequeue()
              }
            }
            i += 1
          }
        }
      }
      val out = mutable.ArrayBuffer.empty[(Double, Int)]
      while (res.nonEmpty) out += res.dequeue()
      out.sortInPlace()(ord)
      out
    }

    /** Select up to `cap` neighbors for `base` from `candidates`
      * ((dist-to-base, node) pairs, ascending) — the select-neighbors
      * HEURISTIC of the HNSW paper (Alg. 4, hnswlib's default, i.e. the
      * reference's actual index discipline), not plain closest-M: scan
      * nearest-first and keep a candidate only if it is closer to
      * `base` than to every already-kept neighbor (diverse directions —
      * the property that keeps clustered data reachable), then, as
      * keepPrunedConnections, fill the remaining slots with the closest
      * discarded candidates. The fill guarantees the result size is
      * min(cap, |candidates|), so backlink pruning can never empty a
      * node's adjacency and layer-0 reachability survives clustered
      * inserts. Deterministic: candidates arrive (dist, id)-sorted and
      * the scan never reorders.
      */
    private def selectNeighbors(base: Array[Float],
        candidates: collection.Seq[(Double, Int)],
        cap: Int): mutable.ArrayBuffer[Int] = {
      val kept = mutable.ArrayBuffer.empty[Int]
      val discarded = mutable.ArrayBuffer.empty[Int]
      var i = 0
      while (i < candidates.length && kept.length < cap) {
        val (d, c) = candidates(i)
        if (kept.forall(r => d < l2Sq(vecs(c), vecs(r)))) kept += c
        else discarded += c
        i += 1
      }
      var j = 0
      while (kept.length < cap && j < discarded.length) {
        kept += discarded(j); j += 1
      }
      kept
    }

    /** Insert; `id` must be new. Standard descend-then-connect with
      * heuristic neighbor selection and Mmax pruning (both via
      * [[selectNeighbors]]).
      */
    def insert(id: Long, vec: Array[Float]): Unit = {
      val node = ids.length
      val level = levelOf(id)
      ids += id
      vecs += vec
      neighbors += Array.fill(level + 1)(Array.emptyIntArray)
      if (entry < 0) { entry = node; entryLevel = level; return }
      var ep = Seq(entry)
      var l = entryLevel
      while (l > level) {
        ep = Seq(searchLayer(vec, ep, 1, math.min(l, entryLevel)).head._2)
        l -= 1
      }
      var layer = math.min(level, entryLevel)
      while (layer >= 0) {
        val found = searchLayer(vec, ep, efConstruction, layer)
        val cap = if (layer == 0) maxM0 else m
        val chosen = selectNeighbors(vec, found, m)
        neighbors(node)(layer) = chosen.toArray
        chosen.foreach { nb =>
          val links = neighbors(nb)
          val back = links(layer) :+ node
          links(layer) =
            if (back.length <= cap) back
            else {
              // prune with the same heuristic (bounded degree keeps search
              // O(ef · M); keepPrunedConnections keeps |back| = cap, so no
              // node ever loses its whole backlink set)
              val v = vecs(nb)
              val cands = back.map(x => (l2Sq(v, vecs(x)), x)).sorted(byDistThenId)
              selectNeighbors(v, cands, cap).toArray
            }
        }
        ep = found.map(_._2).toSeq
        layer -= 1
      }
      if (level > entryLevel) { entry = node; entryLevel = level }
    }

    /** Top-k (id, L2² dist), nearest first, ties on id. */
    def search(q: Array[Float], k: Int, efSearch: Int): Seq[(Long, Double)] = {
      if (entry < 0) return Nil
      var ep = Seq(entry)
      var l = entryLevel
      while (l > 0) { ep = Seq(searchLayer(q, ep, 1, l).head._2); l -= 1 }
      searchLayer(q, ep, math.max(efSearch, k), 0)
        .take(k).map { case (d, n) => (ids(n), d) }.toSeq
    }

    /** Export the adjacency with neighbor INDICES mapped to external
      * ids — the storable form of the graph (one row per node).
      */
    def export: Iterator[(Long, Array[Float], Array[Array[Long]])] =
      ids.indices.iterator.map { n =>
        (ids(n), vecs(n), neighbors(n).map(_.map(ids(_)).toArray))
      }

    /** Load a previously exported adjacency verbatim (no re-build).
      * Rows are indexed in ascending-id order — the same order
      * [[buildGraph]] inserts in — and the entry point is re-derived
      * exactly as the builder left it: the smallest id among max-level
      * nodes (the builder only advances the entry on a STRICTLY higher
      * level, so with ascending insertion that is the first max-level
      * node). A loaded graph therefore answers every query identically
      * to the graph it was exported from (pinned in HnswSpec).
      */
    private[Hnsw] def loadAdjacency(
        rows: Array[(Long, Array[Float], Array[Array[Long]])]): Unit = {
      require(ids.isEmpty, "loadAdjacency requires an empty graph")
      val sorted = rows.sortBy(_._1)
      val indexOf = sorted.iterator.map(_._1).zipWithIndex.toMap
      sorted.foreach { case (id, vec, nbrs) =>
        ids += id
        vecs += vec
        neighbors += nbrs.map(_.map(indexOf))
      }
      if (sorted.nonEmpty) {
        entryLevel = neighbors.iterator.map(_.length - 1).max
        entry = neighbors.indexWhere(_.length - 1 == entryLevel)
      }
    }
  }

  /** Rehydrate a stored segment graph. */
  def graphFromAdjacency(rows: Array[(Long, Array[Float], Array[Array[Long]])],
      m: Int, efConstruction: Int): Graph = {
    val g = new Graph(m, efConstruction)
    g.loadAdjacency(rows)
    g
  }

  /** Build one graph per segment from sorted (id, vec) rows. */
  def buildGraph(rows: Iterator[(Long, Array[Float])], m: Int,
      efConstruction: Int): Graph = {
    val g = new Graph(m, efConstruction)
    rows.toArray.sortBy(_._1).foreach { case (id, v) => g.insert(id, v) }
    g
  }

  /** Distributed top-k: per-segment HNSW search + global top-k merge.
    * Output (qid, vec_id, rk, dist) — the exact-path schema, dist = L2² —
    * as a local frame: the search runs when this is called.
    */
  def topK(
      spark: SparkSession,
      queries: DataFrame,
      collection: DataFrame,
      k: Int,
      m: Int = 16,
      efConstruction: Int = 100,
      efSearch: Int = 128,
      numGraphs: Int = 8,
      qidCol: String = "qid",
      qEmbCol: String = "qemb",
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    import spark.implicits._
    val qB = spark.sparkContext.broadcast(collectQueries(queries, qidCol, qEmbCol))
    val candidates = collection.select(col(idCol), col(embCol))
      .repartition(numGraphs, col(idCol))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val g = buildGraph(it, m, efConstruction)
        qB.value.iterator.flatMap { case (qid, qv) =>
          g.search(qv, k, efSearch).map { case (id, d) => (qid, id, d) }
        }
      }
      .rdd
    frameOf(spark, topKOnDriver(candidates, k), qidCol, idCol)
  }

  /** The query vectors, on the driver. Queries are point-lookup-bounded
    * frames (suite invariant): the collect is O(|Q| · dim),
    * parameter-bounded like the PQ codebooks.
    */
  private[graft] def collectQueries(queries: DataFrame, qidCol: String = "qid",
      qEmbCol: String = "qemb"): Array[(Long, Array[Float])] = {
    import queries.sparkSession.implicits._
    queries.select(col(qidCol), col(qEmbCol)).as[(Long, Array[Float])].collect()
  }

  /** The IVF centroids (cid, cemb), on the driver — parameter-bounded. */
  private[graft] def collectCentroids(centroids: DataFrame): Array[(Int, Array[Float])] = {
    import centroids.sparkSession.implicits._
    centroids.select(col("cid"), col("cemb")).as[(Int, Array[Float])].collect()
  }

  /** Per-cell routing: each query's `nprobe` nearest centroids, returned
    * as cell → ascending qids. Runs on the driver — |Q| and the centroid
    * count are both parameter-bounded, so no Spark job is needed — with
    * the arithmetic of the IVF operators' SQL ranking: `l2Fast` (the sqrt
    * of the widen-before-subtract L2² of FloatVecL2Sq), ordered by
    * (distance, cid).
    */
  private[graft] def route(queries: Array[(Long, Array[Float])],
      centroids: Array[(Int, Array[Float])], nprobe: Int): Map[Int, Array[Long]] =
    queries.toSeq.flatMap { case (qid, qv) =>
      centroids.map { case (cid, c) =>
        require(c.length == qv.length,
          s"query $qid has ${qv.length} dimensions, centroid $cid has ${c.length}")
        (math.sqrt(l2Sq(qv, c)), cid)
      }.sorted(byDistThenId).take(nprobe).map { case (_, cid) => (cid, qid) }
    }.groupBy(_._1).map { case (cid, qs) => cid -> qs.map(_._2).sorted.toArray }

  /** IVF-ROUTED HNSW — the composition for extreme segment counts,
    * where fanning every query out to every segment stops scaling:
    * segments are IVF CELLS (vectors grouped by nearest centroid, not
    * id hash), each cell carries its own graph, and a query walks only
    * its `nprobe` nearest cells' graphs. Query fan-out drops from
    * O(#segments) tasks to O(nprobe); the routing decision is the same
    * query×centroid ranking every IVF operator here uses, computed on
    * the driver ([[route]]). The recall knob factorizes: nprobe bounds
    * which cells are reachable (the IVF term — `ann_ivf_top5`'s
    * measured tradeoff), efSearch bounds the walk within a cell (the
    * HNSW term). This variant graphs the probed cells at query time,
    * the right trade only when the query set is tiny and ad hoc; the
    * production shape is [[buildRoutedIndex]] once, then
    * [[searchRoutedIndex]] against cell graphs that stay resident.
    */
  def topKRouted(
      spark: SparkSession,
      queries: DataFrame,
      collection: DataFrame,
      centroids: DataFrame,
      k: Int,
      nprobe: Int = 2,
      m: Int = 16,
      efConstruction: Int = 100,
      efSearch: Int = 128,
      qidCol: String = "qid",
      qEmbCol: String = "qemb",
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    import spark.implicits._
    val qArr = collectQueries(queries, qidCol, qEmbCol)
    val rB = spark.sparkContext.broadcast(route(qArr, collectCentroids(centroids), nprobe))
    val qB = spark.sparkContext.broadcast(qArr.toMap)
    val candidates = IvfIndex.assign(collection, centroids, idCol, embCol)
      .repartition(col("cell"))
      .as[(Long, Array[Float], Int)]
      .mapPartitions { it =>
        it.toArray.groupBy(_._3).iterator.flatMap { case (cell, rows) =>
          // cells no query probes are never graphed — the router prunes
          // build work too when the index is query-driven
          rB.value.get(cell).iterator.flatMap { qids =>
            val g = buildGraph(
              rows.iterator.map { case (id, v, _) => (id, v) }, m, efConstruction)
            qids.iterator.flatMap { qid =>
              g.search(qB.value(qid), k, efSearch).map { case (id, d) => (qid, id, d) }
            }
          }
        }
      }
      .rdd
    frameOf(spark, topKOnDriver(candidates, k), qidCol, idCol)
  }

  /** Build the STORABLE routed index: every IVF cell's graph built ONCE
    * — (cell, vec_id, embedding, nbrs) rows, the cell-keyed twin of
    * [[buildIndex]], written to a parquet table partitioned by `cell`.
    * Graph build cost is paid once per corpus version instead of once
    * per query burst ([[topKRouted]] builds probed cells at query time),
    * and [[searchRoutedIndex]] keeps the rehydrated cell graphs resident.
    */
  def buildRoutedIndex(
      spark: SparkSession,
      collection: DataFrame,
      centroids: DataFrame,
      m: Int = 16,
      efConstruction: Int = 100,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    import spark.implicits._
    IvfIndex.assign(collection, centroids, idCol, embCol)
      .repartition(col("cell"))
      .as[(Long, Array[Float], Int)]
      .mapPartitions { it =>
        it.toArray.groupBy(_._3).iterator.flatMap { case (cell, rows) =>
          buildGraph(rows.iterator.map { case (id, v, _) => (id, v) },
            m, efConstruction).export
            .map { case (id, vec, nbrs) => (cell, id, vec, nbrs) }
        }
      }
      .toDF("cell", idCol, embCol, "nbrs")
  }

  /** Search a stored routed index from RESIDENT cell graphs: route each
    * query on the driver ([[route]]), then walk only the probed cells'
    * graphs — partitions holding no probed cell are pruned away, so a
    * query touches O(nprobe) graphs — and merge top-k. The graphs come
    * from [[graphsOf]]: rehydrated once per index version and kept in
    * memory, so a repeated search reads no index file and moves no
    * vectors. Per-cell graphs rehydrate in the ascending-id order
    * [[topKRouted]]'s query-time build inserts in, so the two paths
    * answer IDENTICALLY (spec-pinned) — the build-once/search-many split
    * changes cost, never results.
    */
  def searchRoutedIndex(
      spark: SparkSession,
      queries: DataFrame,
      index: DataFrame,
      centroids: DataFrame,
      k: Int,
      nprobe: Int = 2,
      m: Int = 16,
      efConstruction: Int = 100,
      efSearch: Int = 128,
      qidCol: String = "qid",
      qEmbCol: String = "qemb",
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame =
    frameOf(spark, searchRouted(collectQueries(queries, qidCol, qEmbCol), index,
      collectCentroids(centroids), k, nprobe, m, efConstruction, efSearch,
      idCol, embCol), qidCol, idCol)

  /** [[searchRoutedIndex]] over driver-side queries and centroids, answering
    * with the hits themselves — the form the planner's probe sites call
    * with centroids collected once per registration.
    */
  private[graft] def searchRouted(
      queries: Array[(Long, Array[Float])],
      index: DataFrame,
      centroids: Array[(Int, Array[Float])],
      k: Int,
      nprobe: Int,
      m: Int,
      efConstruction: Int,
      efSearch: Int,
      idCol: String,
      embCol: String): Array[Hit] = {
    val routes = route(queries, centroids, nprobe)
    val graphs = graphsOf(index, "cell", math.max(centroids.length, 1), m,
      efConstruction, idCol, embCol, only = Some(routes.keys))
    walk(graphs, queries, Some(routes), k, efSearch, Set.empty)
  }

  /** Build the STORABLE index: one row per node — (seg, vec_id,
    * embedding, nbrs: per-layer neighbor id lists). Write it to a
    * parquet table partitioned by `seg` and the graph build cost is
    * paid once per corpus version (the reference's PersistentClient
    * discipline; same build-once/search-many split as IvfAdc.Index) —
    * at 100 TB this is the difference between an index and a per-query
    * rebuild.
    */
  def buildIndex(
      spark: SparkSession,
      collection: DataFrame,
      m: Int = 16,
      efConstruction: Int = 100,
      numGraphs: Int = 8,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    import spark.implicits._
    collection.select(col(idCol), col(embCol))
      .repartition(numGraphs, col(idCol))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val seg = org.apache.spark.TaskContext.getPartitionId()
        buildGraph(it, m, efConstruction).export
          .map { case (id, vec, nbrs) => (seg, id, vec, nbrs) }
      }
      .toDF("seg", idCol, embCol, "nbrs")
  }

  /** Per-segment STRUCTURAL audit of a stored index — the operational
    * check a vector store runs after builds/appends: is every node
    * reachable from the segment's entry point (the select-neighbors
    * heuristic's guarantee on clustered data — an unreachable node is
    * silently invisible to every search), and is layer-0 degree inside
    * its contract (≥ 1 when the segment has ≥ 2 nodes — backlink
    * pruning keeps min(cap, candidates) links; ≤ 2·m, the Mmax cap)?
    * One row per segment, computed in the same one-pass-per-segment
    * shape as the search itself.
    */
  def graphAudit(
      spark: SparkSession,
      index: DataFrame,
      numGraphs: Int = 8,
      segCol: String = "seg",
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    import spark.implicits._
    index.select(col(segCol), col(idCol), col(embCol), col("nbrs"))
      .repartition(numGraphs, col(segCol))
      .as[(Int, Long, Array[Float], Array[Array[Long]])]
      .mapPartitions { it =>
        it.toArray.groupBy(_._1).iterator.map { case (seg, rows) =>
          val nbrs: Map[Long, Array[Array[Long]]] =
            rows.map { case (_, id, _, nb) => id -> nb }.toMap
          val n = rows.length
          // the entry point the loader derives: smallest id among
          // max-level nodes (rows rehydrate in ascending-id order)
          val maxLevel = nbrs.valuesIterator.map(_.length - 1).max
          val entry = nbrs.iterator
            .filter { case (_, nb) => nb.length - 1 == maxLevel }
            .map(_._1).min
          val seen = mutable.HashSet[Long](entry)
          val queue = mutable.ArrayDeque[Long](entry)
          while (queue.nonEmpty) {
            val c = queue.removeHead()
            nbrs(c).iterator.flatten.foreach { nb =>
              if (seen.add(nb)) queue.append(nb)
            }
          }
          val deg0 = rows.map { case (_, _, _, nb) => nb(0).length }
          (seg, n.toLong, seen.size.toLong, deg0.min.toLong, deg0.max.toLong)
        }
      }
      .toDF(segCol, "n_nodes", "n_reachable", "deg0_min", "deg0_max")
  }

  /** SEGMENT COMPACTION — the Lucene-merge-shaped maintenance op: many
    * small segments (the natural product of incremental appends) into
    * fewer big ones. HNSW adjacency is NOT mergeable — a graph is a
    * function of its full point set — so compaction re-inserts the
    * STORED vectors into `toGraphs` fresh graphs, exactly the rebuild
    * real stores do on merge. Re-insertion uses the same ascending-id
    * order as every build path here, so the compacted index answers
    * searches identically to a fresh [[buildIndex]] at the new segment
    * count (spec-pinned); fewer segments = fewer per-query graph walks,
    * the fan-out term of search cost, at the price of one bounded
    * rebuild pass — amortized across every later query.
    */
  def compactIndex(
      spark: SparkSession,
      index: DataFrame,
      toGraphs: Int,
      m: Int = 16,
      efConstruction: Int = 100,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame =
    buildIndex(spark, index.select(col(idCol), col(embCol)), m, efConstruction,
      toGraphs, idCol, embCol)

  /** Search a stored index from RESIDENT segment graphs: the first search
    * of an index version rehydrates every segment's graph verbatim (no
    * re-build — the loaded walk is bit-identical to the built one) into
    * a persisted RDD ([[graphsOf]]); this and every later search runs
    * one narrow task per partition that walks its graphs for the
    * broadcast queries, and the driver merges the global top-k as the
    * tasks finish. No index file is read and no vector is exchanged
    * after the first search, and a resident search is one job. Output
    * schema matches [[topK]], as a local frame.
    */
  def searchIndex(
      spark: SparkSession,
      queries: DataFrame,
      index: DataFrame,
      k: Int,
      m: Int = 16,
      efConstruction: Int = 100,
      efSearch: Int = 128,
      numGraphs: Int = 8,
      qidCol: String = "qid",
      qEmbCol: String = "qemb",
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame =
    searchIndexTombstoned(spark, queries, index, Nil, k, m, efConstruction,
      efSearch, numGraphs, qidCol, qEmbCol, idCol, embCol)

  /** TOMBSTONE-aware stored-index search — the DELETE story for a graph
    * index: an HNSW node cannot be cheaply unlinked (its neighbors'
    * connectivity routes THROUGH it), so real stores keep deleted ids
    * in the graphs as tombstones, filter them from results, and purge
    * on the next compaction. The per-segment walk over-fetches by the
    * tombstone count, so k live results survive filtering whenever k
    * live vectors exist; the tombstone set is broadcast and stays
    * bounded by design (deletes accumulate only between compactions —
    * [[compactIndex]] over the filtered index rebuilds without them,
    * resetting the over-fetch cost to zero). Tombstones never change
    * the graphs, so this walks the same resident graphs as
    * [[searchIndex]].
    */
  def searchIndexTombstoned(
      spark: SparkSession,
      queries: DataFrame,
      index: DataFrame,
      tombstones: Seq[Long],
      k: Int,
      m: Int = 16,
      efConstruction: Int = 100,
      efSearch: Int = 128,
      numGraphs: Int = 8,
      qidCol: String = "qid",
      qEmbCol: String = "qemb",
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame =
    frameOf(spark,
      walk(graphsOf(index, "seg", numGraphs, m, efConstruction, idCol, embCol),
        collectQueries(queries, qidCol, qEmbCol), None, k, efSearch, tombstones.toSet),
      qidCol, idCol)

  /** Answer `queries` from rehydrated graphs: one narrow task per
    * partition walks that partition's graphs, then [[TopK.topKOnDriver]]. With
    * `routes` (cell → qids) a graph answers only the queries routed to
    * it and partitions holding no routed cell are pruned away; without
    * it every graph answers every query. Each walk over-fetches by the
    * tombstone count and drops tombstoned ids.
    */
  private def walk(
      graphs: RDD[(Int, Graph)],
      queries: Array[(Long, Array[Float])],
      routes: Option[Map[Int, Array[Long]]],
      k: Int,
      efSearch: Int,
      tombstones: Set[Long]): Array[Hit] = {
    val fetch = k + tombstones.size
    val ef = math.max(efSearch, fetch)
    val byQid = queries.toMap
    val perGraph = routes.map(_.map { case (cell, qids) => cell -> qids.map(q => (q, byQid(q))) })
    val probed = routes.fold(graphs) { r =>
      val keep = r.keySet.map(graphs.partitioner.get.getPartition)
      PartitionPruningRDD.create(graphs, keep.contains)
    }
    val qB = graphs.sparkContext.broadcast((queries, perGraph, tombstones))
    val candidates = probed.mapPartitions { it =>
      val (all, routed, tomb) = qB.value
      it.flatMap { case (key, g) =>
        routed.fold(all)(_.getOrElse(key, Array.empty)).iterator.flatMap { case (qid, qv) =>
          g.search(qv, fetch, ef).iterator
            .collect { case (id, d) if !tomb.contains(id) => (qid, id, d) }
        }
      }
    }
    topKOnDriver(candidates, k)
  }

  // ---- resident graphs ------------------------------------------------

  /** Graphs rehydrated from stored adjacency in this JVM, one per segment
    * or cell. With resident serving, repeated searches of one index
    * version leave it unchanged. (Counts executor work only where
    * executors share the driver JVM — local mode.)
    */
  val graphsRehydrated = new AtomicLong(0)

  /** Index versions kept resident at once; the least recently used one
    * is unpersisted first.
    */
  private val MaxResident = 8

  /** What Spark would read for an index DataFrame: its analyzed plan in
    * canonical form, plus one signature per leaf — the SHA-256 of every
    * (path, length, modTime) its own file index listed, or a
    * checkpointed LogicalRDD's id.
    */
  private final case class Source(plan: LogicalPlan, leaves: Seq[String])

  private final case class ResidentKey(source: Source, partCol: String, numParts: Int,
      m: Int, efConstruction: Int, idCol: String, embCol: String)

  private final class Resident(val sc: SparkContext) {
    val graphs: Promise[RDD[(Int, Graph)]] = Promise()
    def release(): Unit = graphs.future.foreach { rdd =>
      try rdd.unpersist(blocking = false)
      catch { case NonFatal(_) => () } // the context may already be stopped
    }(ExecutionContext.parasitic)
  }

  // access-ordered: iteration starts at the least recently used entry
  private val resident = new java.util.LinkedHashMap[ResidentKey, Resident](16, 0.75f, true)

  /** The [[Source]] of `index`, or None when re-reading it is not
    * guaranteed to yield the same rows: a nondeterministic plan, or any
    * leaf other than a listed file scan or a LogicalRDD. A fresh
    * `spark.read.parquet` of unchanged files has the same Source; an
    * index overwritten in place lists new files and does not.
    */
  private def sourceOf(index: DataFrame): Option[Source] = {
    val plan = index.queryExecution.analyzed
    val leaves = plan.collectLeaves().map {
      case l: LogicalRelation => l.relation match {
        case HadoopFsRelation(files: PartitioningAwareFileIndex, _, _, _, _, _) =>
          val md = java.security.MessageDigest.getInstance("SHA-256")
          files.allFiles()
            .map(st => s"${st.getPath}|${st.getLen}|${st.getModificationTime}\n")
            .sorted
            .foreach(f => md.update(f.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
          Some("files:" + java.util.HexFormat.of().formatHex(md.digest()))
        case _ => None
      }
      case r: LogicalRDD => Some(s"rdd:${r.rdd.id}")
      case _ => None
    }
    if (plan.deterministic && leaves.forall(_.isDefined))
      Some(Source(plan.canonicalized, leaves.flatten))
    else None
  }

  /** The one path from a stored index to its graphs: (segment or cell,
    * graph) pairs, hash-partitioned on that key into `numParts`
    * partitions, each graph rehydrated in ascending-id order.
    *
    * An index with a [[Source]] is RESIDENT: the first search of a
    * (source, knobs) key defines the RDD and persists it MEMORY_ONLY —
    * Spark's storage memory manager may evict blocks, and lineage
    * rebuilds them — and every later search reuses it. The first caller
    * owns the key and the others wait on its future; no Spark work runs
    * under the map's lock (planning can re-enter this object), and
    * Spark's block locks let one task compute each partition even when
    * two searches start at once. At most [[MaxResident]] keys are kept.
    *
    * Any other index is rehydrated for this call only, unpersisted, and
    * restricted to the `only` keys when given.
    */
  private def graphsOf(
      index: DataFrame,
      partCol: String,
      numParts: Int,
      m: Int,
      efConstruction: Int,
      idCol: String,
      embCol: String,
      only: Option[Iterable[Int]] = None): RDD[(Int, Graph)] = {
    def rehydrate(df: DataFrame): RDD[(Int, Graph)] = {
      import df.sparkSession.implicits._
      df.select(col(partCol), col(idCol), col(embCol), col("nbrs"))
        .as[(Int, Long, Array[Float], Array[Array[Long]])].rdd
        .map { case (key, id, v, nb) => (key, (id, v, nb)) }
        .partitionBy(new HashPartitioner(numParts))
        .mapPartitions({ it =>
          // hash partitioning may co-locate several segments — group and
          // rehydrate each one separately (graphs never merge)
          it.toArray.groupBy(_._1).iterator.map { case (key, rows) =>
            graphsRehydrated.incrementAndGet()
            key -> graphFromAdjacency(rows.map(_._2), m, efConstruction)
          }
        }, preservesPartitioning = true)
    }
    sourceOf(index) match {
      case None =>
        rehydrate(only.fold(index)(keys => index.filter(col(partCol).isin(keys.toSeq: _*))))
      case Some(source) =>
        val key = ResidentKey(source, partCol, numParts, m, efConstruction, idCol, embCol)
        val sc = index.sparkSession.sparkContext
        val (entry, owner) = resident.synchronized {
          Option(resident.get(key)).filter(_.sc eq sc) match {
            case Some(e) => (e, false)
            case None =>
              val e = new Resident(sc)
              Option(resident.put(key, e)).foreach(_.release())
              val lru = resident.values().iterator()
              while (resident.size > MaxResident) { val old = lru.next(); lru.remove(); old.release() }
              (e, true)
          }
        }
        if (owner) {
          try entry.graphs.success(rehydrate(index)
            .setName(s"resident HNSW graphs by $partCol")
            .persist(StorageLevel.MEMORY_ONLY))
          catch {
            case t: Throwable => // handed to every waiter below
              resident.synchronized(resident.remove(key, entry))
              entry.graphs.failure(t)
          }
        }
        Await.result(entry.graphs.future, Duration.Inf)
    }
  }

  /** Unpersist and forget the resident graphs built from `index`, for
    * any knobs (AnnIndexRewrite releases a registration's graphs this
    * way).
    */
  def releaseResident(index: DataFrame): Unit = {
    val source = try sourceOf(index) catch { case NonFatal(_) => None }
    source.foreach(s => dropResident(_.source == s))
  }

  /** Unpersist and forget every resident graph set
    * (SparkEntry.clearCaches teardown).
    */
  def releaseResident(): Unit = dropResident(_ => true)

  private def dropResident(matches: ResidentKey => Boolean): Unit = {
    val dropped = mutable.ArrayBuffer.empty[Resident]
    resident.synchronized {
      val it = resident.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (matches(e.getKey)) { dropped += e.getValue; it.remove() }
      }
    }
    dropped.foreach(_.release())
  }
}
