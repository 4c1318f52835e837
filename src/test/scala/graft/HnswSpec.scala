package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.eval.RecallAtK
import graft.functions.{VectorExpressions, VectorFunctions}
import graft.model.Tables
import graft.search.{Hnsw, IvfIndex, KnnExact}

class HnswSpec extends GraftSpec {

  private lazy val emb = Tables.embeddings(spark, sfDir).cache()
  private lazy val queries = emb.filter(col("vec_id") < 5)
    .select(col("vec_id").as("qid"), col("embedding").as("qemb")).cache()

  /** `queries` as a local frame: a search collects it without a job. */
  private lazy val localQueries = {
    import spark.implicits._
    Hnsw.collectQueries(queries).toSeq.toDF("qid", "qemb")
  }

  /** Centroids as a local frame, collected without a job. */
  private def localCentroids(cent: DataFrame): DataFrame = {
    import spark.implicits._
    Hnsw.collectCentroids(cent).toSeq.toDF("cid", "cemb")
  }

  test("single graph with exhaustive ef reproduces the exact scan") {
    // ef ≥ n makes the layer-0 beam visit the whole connected graph, so
    // the walk degenerates to exhaustive search — results must match
    // the brute-force oracle exactly, (dist, id)-ordered.
    val n = emb.count().toInt
    val g = Hnsw.topK(spark, queries, emb, 10,
      efSearch = n + 1, numGraphs = 1)
      .select(col("qid"), col("vec_id"), col("rk"))
    val exact = KnnExact.topK(queries, emb, 10)
      .select(col("qid"), col("vec_id"), col("rk"))
    assert(g.exceptAll(exact).isEmpty && exact.exceptAll(g).isEmpty)
  }

  test("deterministic: two builds over the same input agree row-for-row") {
    val a = Hnsw.topK(spark, queries, emb, 10).collect().toSeq
    val b = Hnsw.topK(spark, queries, emb, 10).collect().toSeq
    assert(a.map(_.toSeq) === b.map(_.toSeq))
  }

  test("compactIndex: rebuild from stored vectors equals a fresh build at the target count") {
    // compaction reads the INDEX (stored vectors), not the original
    // collection — yet must produce the identical layout and graphs a
    // fresh build at the target segment count would (ascending-id
    // insertion is the shared discipline). Adjacency equality is the
    // strongest check: same segments, same neighbor lists.
    val idx8 = Hnsw.buildIndex(spark, emb, numGraphs = 8)
    val compacted = Hnsw.compactIndex(spark, idx8, toGraphs = 2)
    val fresh = Hnsw.buildIndex(spark, emb, numGraphs = 2)
    val key = (r: org.apache.spark.sql.Row) => r.getLong(1)
    val cRows = compacted.collect().sortBy(key).map(_.toString)
    val fRows = fresh.collect().sortBy(key).map(_.toString)
    assert(cRows.toSeq === fRows.toSeq)
    assert(compacted.select(col("seg")).distinct().count() === 2)
    // and the compacted index answers searches identically to the
    // 8-segment original at exhaustive ef (both are the exact scan)
    val n = emb.count().toInt
    val a = Hnsw.searchIndex(spark, queries, idx8, 10, efSearch = n + 1, numGraphs = 8)
      .select(col("qid"), col("vec_id"), col("rk"))
    val b = Hnsw.searchIndex(spark, queries, compacted, 10, efSearch = n + 1, numGraphs = 2)
      .select(col("qid"), col("vec_id"), col("rk"))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("tombstoned search: dead ids excluded, equals exact over survivors, purge preserves") {
    val dead = (0L until 20L).toSeq
    val qs = emb.filter(col("vec_id") >= 20 && col("vec_id") < 25)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"))
    val n = emb.count().toInt
    val idx = Hnsw.buildIndex(spark, emb, numGraphs = 8)
    val res = Hnsw.searchIndexTombstoned(spark, qs, idx, dead, 10, efSearch = n + 1)
      .select(col("qid"), col("vec_id"), col("rk"))
    // exactly the brute-force top-10 over the survivors
    val exact = KnnExact.topK(qs, emb.filter(col("vec_id") >= 20), 10)
      .select(col("qid"), col("vec_id"), col("rk"))
    assert(res.exceptAll(exact).isEmpty && exact.exceptAll(res).isEmpty)
    // the filter genuinely displaced results: unfiltered search at the
    // same ef returns dead ids at this fixture scale
    val unfiltered = Hnsw.searchIndex(spark, qs, idx, 10, efSearch = n + 1)
    assert(unfiltered.filter(col("vec_id") < 20).count() > 0,
      "fixture must make tombstones displace results, or the test proves nothing")
    assert(res.filter(col("vec_id") < 20).count() === 0)
    // purge = compact over the filtered index; same answers, fresh graphs
    val purged = Hnsw.compactIndex(spark,
      idx.filter(!col("vec_id").isin(dead: _*)), toGraphs = 4)
    val after = Hnsw.searchIndex(spark, qs, purged, 10, efSearch = n + 1, numGraphs = 4)
      .select(col("qid"), col("vec_id"), col("rk"))
    assert(after.exceptAll(exact).isEmpty && exact.exceptAll(after).isEmpty)
  }

  test("segment-merged recall@10 vs exact clears the oracle floor") {
    val gt = KnnExact.topK(queries, emb, 10)
    val approx = Hnsw.topK(spark, queries, emb, 10)
    val recalls = RecallAtK.evaluate(gt, approx, Seq(10))
      .select(col("qid"), col("recall_10")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(recalls.size === 5)
    recalls.foreach { case (qid, r) =>
      assert(r >= 0.9, s"recall@10 for qid=$qid was $r (floor 0.9)")
    }
  }

  test("graph unit: self is nearest, ties break on insertion order (= id via buildGraph)") {
    // In-graph ties resolve on node (insertion) index; buildGraph
    // inserts ascending by id, so externally ties break on id — insert
    // through buildGraph exactly as the distributed path does.
    val g = Hnsw.buildGraph(Iterator(
      (7L, Array(1f, 0f)), (3L, Array(1f, 0f)), (1L, Array(0f, 1f))),
      m = 4, efConstruction = 16)
    val top = g.search(Array(1f, 0f), 3, efSearch = 8)
    assert(top.map(_._1) === Seq(3L, 7L, 1L))
    assert(top.head._2 === 0.0)
  }

  test("empty segment yields no candidates instead of failing") {
    val g = new Hnsw.Graph(m = 4, efConstruction = 16)
    assert(g.search(Array(1f, 0f), 3, efSearch = 8).isEmpty)
  }

  test("ivf-routed walk with exhaustive ef equals the exact IVF probe") {
    // per-cell graphs walked with ef >= cell size are exhaustive, so
    // routed-HNSW must reproduce the IVF exact probe row-for-row —
    // the contract ann_hnsw_ivf_routed's closed-form oracle hashes
    val cent = IvfIndex.seedCentroids(emb, 8)
    val n = emb.count().toInt
    val routed = Hnsw.topKRouted(spark, queries, emb, cent, k = 10,
      nprobe = 2, efSearch = n + 1)
      .select(col("qid"), col("vec_id"), col("rk"),
        round(sqrt(col("dist")), 4).as("dist"))
    val ivf = IvfIndex.search(queries, IvfIndex.assign(emb, cent), cent,
      k = 10, nprobe = 2)
      .select(col("qid"), col("vec_id"), col("rk"), round(col("dist"), 4).as("dist"))
    assert(routed.exceptAll(ivf).isEmpty && ivf.exceptAll(routed).isEmpty)
  }

  test("ivf-routed recall tracks the routing, not the walk, at tight ef") {
    // with production-ish ef the walk is approximate INSIDE a cell but
    // the reachable set is still the probed cells — recall must be at
    // least as selective as routing allows and never zero
    val cent = IvfIndex.seedCentroids(emb, 8)
    val gt = KnnExact.topK(queries, emb, 10)
    val routed = Hnsw.topKRouted(spark, queries, emb, cent, k = 10,
      nprobe = 8, efSearch = 128)
    val recalls = RecallAtK.evaluate(gt, routed, Seq(10))
      .select(col("qid"), col("recall_10")).collect()
      .map(r => r.getDouble(1))
    // nprobe = all cells → routing excludes nothing → recall is the
    // walk's own, which clears the same floor as the unrouted path
    recalls.foreach(r => assert(r >= 0.9, s"full-probe routed recall was $r"))
  }

  test("recall holds off-fixture: clustered synthetic vectors") {
    // the fixture is isotropic; graph ANN's hard cases are clustered.
    // Deterministic pseudo-random 1000×16 vectors in 10 loose clusters
    // (base offset by id%10, jitter from Spark's murmur3) — recall@10
    // must clear the same floor as on the fixture.
    val df = spark.range(1000).select(col("id").as("vec_id"))
      .withColumn("embedding", expr(
        "transform(sequence(0, 15), j -> cast((vec_id % 10) * 10.0" +
          " + pmod(hash(vec_id, j), 97) / 97.0 as float))"))
      .cache()
    val q = df.filter(col("vec_id").isin(1L, 101L, 333L, 555L, 777L))
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"))
    val gt = KnnExact.topK(q, df, 10)
    val approx = Hnsw.topK(spark, q, df, 10)
    val recalls = RecallAtK.evaluate(gt, approx, Seq(10))
      .select(col("recall_10")).collect().map(_.getDouble(0))
    assert(recalls.length === 5)
    recalls.foreach(r => assert(r >= 0.9, s"clustered-data recall was $r"))
  }

  test("recall holds on TIGHT clusters (the heuristic's reason to exist)") {
    // 10 well-separated tight clusters (centers 100 apart, jitter ~1):
    // plain closest-M selection links every node only within its own
    // cluster, backlink pruning then severs the few cross-cluster edges,
    // and layer-0 disconnects — a query's walk gets stuck in the entry
    // point's cluster. The select-neighbors heuristic keeps one diverse
    // link per direction alive, so recall must survive.
    val df = spark.range(1000).select(col("id").as("vec_id"))
      .withColumn("embedding", expr(
        "transform(sequence(0, 15), j -> cast((vec_id % 10) * 100.0" +
          " + pmod(hash(vec_id, j), 97) / 48.5 as float))"))
      .cache()
    val q = df.filter(col("vec_id").isin(1L, 101L, 333L, 555L, 777L))
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"))
    val gt = KnnExact.topK(q, df, 10)
    val approx = Hnsw.topK(spark, q, df, 10)
    val recalls = RecallAtK.evaluate(gt, approx, Seq(10))
      .select(col("recall_10")).collect().map(_.getDouble(0))
    assert(recalls.length === 5)
    recalls.foreach(r => assert(r >= 0.9, s"tight-cluster recall was $r"))
    df.unpersist()
  }

  test("graph audit: full reachability and degree caps, even on tight clusters") {
    // the audit must report every node reachable on the adversarial
    // tight-cluster corpus (where plain closest-M would disconnect) and
    // degree inside the pruning caps
    val df = spark.range(1000).select(col("id").as("vec_id"))
      .withColumn("embedding", expr(
        "transform(sequence(0, 15), j -> cast((vec_id % 10) * 100.0" +
          " + pmod(hash(vec_id, j), 97) / 48.5 as float))"))
    val idx = Hnsw.buildIndex(spark, df)
    val audit = Hnsw.graphAudit(spark, idx).collect()
    assert(audit.length === 8)
    audit.foreach { r =>
      assert(r.getAs[Long]("n_reachable") === r.getAs[Long]("n_nodes"),
        s"segment ${r.getAs[Int]("seg")} has unreachable nodes")
      assert(r.getAs[Long]("deg0_min") >= 1L)
      assert(r.getAs[Long]("deg0_max") <= 32L)
    }
    assert(audit.map(_.getAs[Long]("n_nodes")).sum === 1000L)
  }

  test("backlink pruning never empties an adjacency list (keepPruned)") {
    // keepPrunedConnections guarantees |pruned list| = cap exactly —
    // build a graph where every insert triggers pruning (all vectors on
    // one tight cluster, maxM0 small) and assert layer-0 degree never
    // drops below min(cap, inserted-1) for early nodes nor hits zero
    val g = new Hnsw.Graph(m = 2, efConstruction = 16)
    (0 until 50).foreach { i =>
      g.insert(i.toLong, Array(i.toFloat / 1000f, 1f))
    }
    // every node must remain reachable: an exhaustive-ef walk from the
    // entry visits the whole component, so it must return all 50
    val seen = g.search(Array(0f, 1f), 50, efSearch = 64).map(_._1).toSet
    assert(seen.size === 50, s"walk reached only ${seen.size}/50 nodes")
  }

  test("mass duplicates: ties resolve to the globally smallest ids") {
    // 200 identical vectors: every distance ties at 0, so the merged
    // top-10 must be exactly ids 0..9 — each segment surfaces its own
    // smallest ids and the (dist, id) merge keeps the global smallest
    val df = spark.range(200).select(col("id").as("vec_id"))
      .withColumn("embedding",
        expr("transform(sequence(0, 7), j -> cast(1.0 as float))"))
    val q = df.filter(col("vec_id") === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"))
    val top = Hnsw.topK(spark, q, df, 10)
      .orderBy("rk").select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(top === (0L until 10L))
  }

  test("stored ROUTED index answers identically to query-time routing") {
    // build-once/search-many for the IVF-routed composition: every
    // cell's graph is built once with the same ascending-id insertion
    // the query-time path uses, so results must match row-for-row —
    // including through a cell-partitioned parquet cycle, where the
    // probed-cells filter becomes partition pruning
    val cent = IvfIndex.seedCentroids(emb, 8)
    val oneShot = Hnsw.topKRouted(spark, queries, emb, cent, k = 10, nprobe = 2)
    val idx = Hnsw.buildRoutedIndex(spark, emb, cent)
    val fromIdx = Hnsw.searchRoutedIndex(spark, queries, idx, cent, k = 10, nprobe = 2)
    assert(fromIdx.exceptAll(oneShot).isEmpty && oneShot.exceptAll(fromIdx).isEmpty)

    val dir = GraftSpec.tempDir("graft_hnsw_ridx").toString
    try {
      idx.write.mode("overwrite").partitionBy("cell").parquet(dir)
      val stored = spark.read.parquet(dir)
        .withColumn("cell", col("cell").cast("int"))
      val persisted = Hnsw.searchRoutedIndex(spark, queries, stored, cent,
        k = 10, nprobe = 2)
      assert(persisted.exceptAll(oneShot).isEmpty && oneShot.exceptAll(persisted).isEmpty)
      // the probe must PRUNE to the probed cells: its one job runs one
      // task per partition holding a probed cell, and it reads no index
      // file — the files are deleted first, and the cell graphs are
      // resident. (Spark counts a cached block read as input bytes, so
      // the input metric cannot tell the two apart.) Queries and
      // centroids are local frames, so collecting them runs no job.
      val probedCells = Hnsw.route(Hnsw.collectQueries(queries),
        Hnsw.collectCentroids(cent), nprobe = 1).size
      val (qs, cent1) = (localQueries, localCentroids(cent))
      val p = new org.apache.hadoop.fs.Path(dir)
      assert(p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true))
      val work = SparkWork.of(spark) {
        Hnsw.searchRoutedIndex(spark, qs, stored, cent1, k = 10, nprobe = 1).collect()
      }
      assert(probedCells < 8 && work.jobs === 1 && work.tasks === probedCells,
        s"the walk must be one job on the $probedCells probed cells' partitions only: $work")
    } finally {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  test("stored index searches bit-identically to the one-shot path") {
    // build-once / search-many: the exported adjacency rehydrates to
    // the SAME graph (same entry point, same walk), so a search from
    // the stored index must equal topK row-for-row — including through
    // a parquet write/read cycle.
    val idx = Hnsw.buildIndex(spark, emb)
    val oneShot = Hnsw.topK(spark, queries, emb, 10)
    val fromIdx = Hnsw.searchIndex(spark, queries, idx, 10)
    assert(fromIdx.exceptAll(oneShot).isEmpty && oneShot.exceptAll(fromIdx).isEmpty)

    val dir = GraftSpec.tempDir("graft_hnsw_idx").toString
    try {
      idx.write.mode("overwrite").parquet(dir)
      val persisted = Hnsw.searchIndex(spark, queries, spark.read.parquet(dir), 10)
      assert(persisted.exceptAll(oneShot).isEmpty && oneShot.exceptAll(persisted).isEmpty)
    } finally {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  // ---- resident serving -------------------------------------------------

  private def withTempDir[T](prefix: String)(body: String => T): T = {
    val dir = GraftSpec.tempDir(prefix).toString
    try body(dir)
    finally {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  /** (qid, vec_id, rk, raw dist bits), sorted: equality is bit-level. */
  private def rowsOf(df: DataFrame): Seq[(Long, Long, Int, Long)] =
    df.select("qid", "vec_id", "rk", "dist").collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        java.lang.Double.doubleToRawLongBits(r.getDouble(3))))
      .sorted

  /** The (qid, vec_id, dist) candidates of a rebuild-per-call search:
    * re-read the whole index, rehydrate every graph from its adjacency
    * rows and walk it (only the routed queries when `routes` is given,
    * over-fetching by the tombstone count).
    */
  private def walkedPerCall(index: DataFrame, keyCol: String,
      qs: Array[(Long, Array[Float])], routes: Option[Map[Int, Seq[Long]]],
      k: Int, efSearch: Int = 128, tomb: Set[Long] = Set.empty): Seq[(Long, Long, Double)] = {
    import spark.implicits._
    val fetch = k + tomb.size
    val byQid = qs.toMap
    index.select(col(keyCol), col("vec_id"), col("embedding"), col("nbrs"))
      .as[(Int, Long, Array[Float], Array[Array[Long]])].collect()
      .groupBy(_._1).toSeq.flatMap { case (key, rows) =>
        val g = Hnsw.graphFromAdjacency(rows.map(r => (r._2, r._3, r._4)), 16, 100)
        val mine = routes.fold(qs.toSeq)(_.getOrElse(key, Nil).map(q => (q, byQid(q))))
        mine.flatMap { case (qid, qv) =>
          g.search(qv, fetch, math.max(efSearch, fetch))
            .filterNot(r => tomb.contains(r._1)).map { case (id, d) => (qid, id, d) }
        }
      }
  }

  /** The rebuild-per-call search the resident path replaced, kept here as
    * the reference: [[walkedPerCall]]'s candidates, merged into the
    * per-query top-k by (dist, id).
    */
  private def rebuiltPerCall(index: DataFrame, keyCol: String,
      qs: Array[(Long, Array[Float])], routes: Option[Map[Int, Seq[Long]]],
      k: Int, efSearch: Int = 128, tomb: Set[Long] = Set.empty): Seq[(Long, Long, Int, Long)] = {
    val cands = walkedPerCall(index, keyCol, qs, routes, k, efSearch, tomb)
    cands.groupBy(_._1).toSeq.flatMap { case (qid, cs) =>
      cs.sortBy(c => (c._3, c._2))(Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long))
        .take(k).zipWithIndex.map { case ((_, id, d), i) =>
          (qid, id, i + 1, java.lang.Double.doubleToRawLongBits(d))
        }
    }.sorted
  }

  /** The SQL routing the driver-side router replaced: a broadcast
    * query × centroid cross join ranked by a (cdist, cid) window.
    */
  private def sqlRoutes(qs: DataFrame, cent: DataFrame, nprobe: Int): Map[Int, Seq[Long]] = {
    import spark.implicits._
    VectorExpressions.ensureRegistered(spark)
    val w = Window.partitionBy(col("qid")).orderBy(col("cdist").asc, col("cid").asc)
    broadcast(qs).crossJoin(broadcast(cent))
      .withColumn("cdist", VectorFunctions.l2Fast(col("qemb"), col("cemb")))
      .withColumn("crk", row_number().over(w))
      .filter(col("crk") <= nprobe)
      .select(col("qid"), col("cid")).as[(Long, Int)].collect()
      .groupBy(_._2).map { case (c, ps) => c -> ps.map(_._1).sorted.toSeq }
  }

  private def driverRoutes(qs: DataFrame, cent: DataFrame, nprobe: Int): Map[Int, Seq[Long]] =
    Hnsw.route(Hnsw.collectQueries(qs), Hnsw.collectCentroids(cent), nprobe)
      .map { case (c, ids) => c -> ids.toSeq }

  test("resident searches equal a rebuild-per-call reference bit for bit, call after call") {
    val cent = IvfIndex.seedCentroids(emb, 8)
    val qs = Hnsw.collectQueries(queries)
    withTempDir("graft_hnsw_resident") { dir =>
      Hnsw.buildIndex(spark, emb).write.parquet(s"$dir/seg")
      Hnsw.buildRoutedIndex(spark, emb, cent).write.partitionBy("cell").parquet(s"$dir/cell")
      val routes = sqlRoutes(queries, cent, 2)
      val refSeg = rebuiltPerCall(spark.read.parquet(s"$dir/seg"), "seg", qs, None, 10)
      // tombstone some of each query's true neighbors
      val dead = refSeg.filter(r => r._3 >= 2 && r._3 <= 4).map(_._2).toSet
      val refTomb = rebuiltPerCall(spark.read.parquet(s"$dir/seg"), "seg", qs, None, 10, tomb = dead)
      val refCell = rebuiltPerCall(spark.read.parquet(s"$dir/cell"), "cell", qs, Some(routes), 10)
      assert(refTomb !== refSeg, "the tombstones must displace results, or the check proves nothing")
      val loaded = (1 to 3).map { _ =>
        // a fresh read of unchanged files every call: same index version
        assert(rowsOf(Hnsw.searchIndex(spark, queries, spark.read.parquet(s"$dir/seg"), 10)) === refSeg)
        assert(rowsOf(Hnsw.searchIndexTombstoned(spark, queries,
          spark.read.parquet(s"$dir/seg"), dead.toSeq, 10)) === refTomb)
        assert(rowsOf(Hnsw.searchRoutedIndex(spark, queries,
          spark.read.parquet(s"$dir/cell"), cent, 10, nprobe = 2)) === refCell)
        Hnsw.graphsRehydrated.get()
      }
      assert(loaded(1) === loaded(0) && loaded(2) === loaded(0),
        s"repeated searches must not rehydrate again: $loaded")
      Hnsw.releaseResident(spark.read.parquet(s"$dir/seg"))
      Hnsw.releaseResident(spark.read.parquet(s"$dir/cell"))
    }
  }

  /** The row_number top-k over (dist, id) the searches ended with before
    * their merge moved to the driver, kept here as the reference for the
    * merge's rows, tie-break and schema.
    */
  private def windowMerged(cands: Seq[(Long, Long, Double)], k: Int): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy(col("qid")).orderBy(col("dist").asc, col("vec_id").asc)
    cands.toDF("qid", "vec_id", "dist")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("qid"), col("vec_id"), col("rk"), col("dist"))
  }

  test("the driver merge ranks like a row_number window: ties across segments, tombstones") {
    import spark.implicits._
    // 12 distinct vectors, each planted under 20 ids: every distance ties
    // 20 ways, and the tied ids hash to different segments and cells
    def v(p: Long): Array[Float] = Array(p.toFloat, (p % 3).toFloat, 1f, 0f)
    val planted = (0L until 240L).map(id => (id, v(id % 12))).toDF("vec_id", "embedding")
    // query 2 sits at the same distance from patterns 0 and 1
    val qs = Array((0L, v(0)), (1L, v(5)), (2L, Array(0.5f, 0.5f, 1f, 0f)))
    val qdf = qs.toSeq.toDF("qid", "qemb")
    // the smallest ids of the tied groups the queries rank first
    val dead = Seq(0L, 12L, 24L, 5L, 1L)
    val cent = localCentroids(IvfIndex.seedCentroids(planted, 4))
    withTempDir("graft_hnsw_merge") { dir =>
      Hnsw.buildIndex(spark, planted).write.parquet(s"$dir/seg")
      Hnsw.buildRoutedIndex(spark, planted, cent).write.partitionBy("cell").parquet(s"$dir/cell")
      val seg = spark.read.parquet(s"$dir/seg")
      val cell = spark.read.parquet(s"$dir/cell")
      val routes = driverRoutes(qdf, cent, 2)
      val cases = Seq(
        "topK" -> (Hnsw.topK(spark, qdf, planted, 10),
          walkedPerCall(seg, "seg", qs, None, 10)),
        "searchIndexTombstoned" -> (Hnsw.searchIndexTombstoned(spark, qdf, seg, dead, 10),
          walkedPerCall(seg, "seg", qs, None, 10, tomb = dead.toSet)),
        "searchRoutedIndex" -> (Hnsw.searchRoutedIndex(spark, qdf, cell, cent, 10, nprobe = 2),
          walkedPerCall(cell, "cell", qs, Some(routes), 10)))
      cases.foreach { case (name, (got, cands)) =>
        assert(cands.map(c => (c._1, c._3)).distinct.size < cands.size,
          s"$name: the candidates must tie on distance, or the check proves nothing")
        val ref = windowMerged(cands, 10)
        assert(got.schema === ref.schema, s"$name: schema")
        assert(rowsOf(got) === rowsOf(ref), s"$name: rows")
      }
      assert(rowsOf(cases(1)._2._1).forall(r => !dead.contains(r._2)))
      Hnsw.releaseResident(seg)
      Hnsw.releaseResident(cell)
    }
  }

  test("a resident search is one job that shuffles nothing") {
    val cent = localCentroids(IvfIndex.seedCentroids(emb, 8))
    withTempDir("graft_hnsw_jobs") { dir =>
      Hnsw.buildIndex(spark, emb).write.parquet(s"$dir/seg")
      Hnsw.buildRoutedIndex(spark, emb, cent).write.partitionBy("cell").parquet(s"$dir/cell")
      // read once: reading a parquet directory infers its schema in a job
      val seg = spark.read.parquet(s"$dir/seg")
      val cell = spark.read.parquet(s"$dir/cell")
      val searches = Seq[(String, () => DataFrame)](
        "searchIndex" -> (() => Hnsw.searchIndex(spark, localQueries, seg, 10)),
        "searchIndexTombstoned" -> (() =>
          Hnsw.searchIndexTombstoned(spark, localQueries, seg, Seq(0L, 1L, 2L), 10)),
        "searchRoutedIndex" -> (() =>
          Hnsw.searchRoutedIndex(spark, localQueries, cell, cent, 10, nprobe = 2)))
      searches.foreach { case (name, search) =>
        search().collect() // the first search makes the graphs resident
        val work = SparkWork.of(spark)(search().collect())
        assert(work.jobs === 1, s"$name: one job walks and merges: $work")
        assert(work.shuffleReadBytes === 0L && work.shuffleWriteBytes === 0L,
          s"$name: the merge moves no shuffle bytes: $work")
      }
      Hnsw.releaseResident(seg)
      Hnsw.releaseResident(cell)
    }
  }

  test("an index overwritten in place and re-read answers from the new graphs") {
    val qs = Hnsw.collectQueries(queries)
    withTempDir("graft_hnsw_overwrite") { tmp =>
      val dir = s"$tmp/idx"
      Hnsw.buildIndex(spark, emb.filter(col("vec_id") < 300)).write.parquet(dir)
      val before = rowsOf(Hnsw.searchIndex(spark, queries, spark.read.parquet(dir), 10))
      assert(before === rebuiltPerCall(spark.read.parquet(dir), "seg", qs, None, 10))
      val old = spark.read.parquet(dir)
      Hnsw.buildIndex(spark, emb.filter(col("vec_id") >= 3)).write.mode("overwrite").parquet(dir)
      val after = rowsOf(Hnsw.searchIndex(spark, queries, spark.read.parquet(dir), 10))
      assert(after === rebuiltPerCall(spark.read.parquet(dir), "seg", qs, None, 10))
      assert(after !== before, "the rewritten index holds other vectors")
      Hnsw.releaseResident(old)
      Hnsw.releaseResident(spark.read.parquet(dir))
    }
  }

  test("two concurrent first searches rehydrate each graph once and agree") {
    withTempDir("graft_hnsw_concurrent") { tmp =>
      val dir = s"$tmp/idx"
      Hnsw.buildIndex(spark, emb).write.parquet(dir)
      val before = Hnsw.graphsRehydrated.get()
      val start = new java.util.concurrent.CountDownLatch(1)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      try {
        val futures = (1 to 2).map { _ =>
          pool.submit(() => {
            start.await()
            rowsOf(Hnsw.searchIndex(spark, queries, spark.read.parquet(dir), 10))
          })
        }
        start.countDown()
        val answers = futures.map(_.get(5, java.util.concurrent.TimeUnit.MINUTES))
        assert(answers(0) === answers(1))
        assert(answers(0) === rebuiltPerCall(spark.read.parquet(dir), "seg",
          Hnsw.collectQueries(queries), None, 10))
        assert(Hnsw.graphsRehydrated.get() - before === 8,
          "each of the 8 segment graphs is rehydrated exactly once")
      } finally pool.shutdown()
      Hnsw.releaseResident(spark.read.parquet(dir))
    }
  }

  test("driver routing equals the SQL crossJoin routing, ties included") {
    import spark.implicits._
    // the fixture: every query against seeded centroids, several nprobe
    val cent = IvfIndex.seedCentroids(emb, 8)
    (1 to 3).foreach { p =>
      assert(driverRoutes(queries, cent, p) === sqlRoutes(queries, cent, p), s"nprobe=$p")
    }
    // equidistant centroids: query 0 sits at distance 1 from cids 5, 2
    // and 9 (5 from cid 7); query 1 is nearest to 5, then 2, then ties
    // cids 9 and 7 at distance 4 — the probe order falls to the cid
    // tie-break
    val tied = Seq((5, Array(1f, 0f)), (2, Array(0f, 1f)), (9, Array(-1f, 0f)),
      (7, Array(3f, 4f))).toDF("cid", "cemb")
    val tq = Seq((0L, Array(0f, 0f)), (1L, Array(3f, 0f))).toDF("qid", "qemb")
    (1 to 4).foreach { p =>
      assert(driverRoutes(tq, tied, p) === sqlRoutes(tq, tied, p), s"tied nprobe=$p")
    }
    val r2 = driverRoutes(tq, tied, 2)
    assert(r2(2) === Seq(0L, 1L) && r2(5) === Seq(0L, 1L) && !r2.contains(9),
      "query 0's three-way tie resolves to the smallest cids")
    val r3 = driverRoutes(tq, tied, 3)
    assert(r3(7) === Seq(1L) && r3(9) === Seq(0L),
      "query 1's tie at distance 4 resolves to cid 7")
  }
}
