package graft

/** The shared builds (SparkEntry's SharedFrames slots) must not leak
  * persisted blocks, planner registrations or temp dirs past
  * clearCaches() — Bench/Verify call it on teardown; a long-lived
  * multi-tenant host would otherwise accumulate them for the life of
  * the JVM.
  */
class CacheLifecycleSpec extends GraftSpec {

  test("clearCaches unpersists the shared n-gram pair computation") {
    // Another suite in the same JVM (PlanSpec explains dedup queries)
    // may have populated the cache already — start from a clean slate
    // so the persisted-while-in-use assertion is order-independent.
    SparkEntry.clearCaches()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // dedup_ngram_jaccard routes through sharedNgramPairs and persists it.
    SparkEntry.queries("dedup_ngram_jaccard")(spark, sfDir).count()
    val during = spark.sparkContext.getPersistentRDDs.keySet
    assert((during -- before).nonEmpty,
      "the shared pair computation should be persisted while in use")
    SparkEntry.clearCaches()
    val after = spark.sparkContext.getPersistentRDDs.keySet
    // Assert on the ids persisted BY the call above (during -- before),
    // not the whole set delta — unrelated persists can't flake this.
    assert((after intersect (during -- before)).isEmpty,
      s"clearCaches must remove every cache-owned persisted RDD, left: ${after intersect (during -- before)}")
    // And the surface still works after invalidation (cache repopulates).
    assert(SparkEntry.queries("dedup_ngram_jaccard")(spark, sfDir).count() > 0)
    SparkEntry.clearCaches()
  }

  test("the shared n-gram postings outlive releaseTransients and die with clearCaches") {
    SparkEntry.clearCaches()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    SparkEntry.queries("dedup_ngram_jaccard")(spark, sfDir).count()
    // the checkpointed posting frame, not the persisted pair list
    val postings = spark.sparkContext.getPersistentRDDs
      .filter { case (id, rdd) => !before.contains(id) && rdd.isCheckpointed }.keySet
    assert(postings.nonEmpty, "the shared postings should be checkpointed while in use")
    graft.operators.Materialize.releaseTransients()
    assert(postings.subsetOf(spark.sparkContext.getPersistentRDDs.keySet),
      "the pair cache recomputes from the postings, so they must survive transient release")
    assert(SparkEntry.queries("dedup_ngram_jaccard")(spark, sfDir).count() > 0)
    SparkEntry.clearCaches()
    val left = spark.sparkContext.getPersistentRDDs.keySet intersect postings
    assert(left.isEmpty, s"clearCaches must release the shared postings, left: $left")
  }

  test("clearCaches releases the search, chunk, winnow and planner builds") {
    // the six shared planner builds each write one temp dir
    val plannerDirs = Set("graft_annidx", "graft_annidx_cos", "graft_annidx_ip",
      "graft_aggmv", "graft_aggmv_coarse", "graft_aggjoinmv")
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def plannerTemps: Set[java.io.File] = tmp.listFiles().toSet
      .filter(f => plannerDirs.contains(f.getName.replaceAll("\\d+$", "")))
    SparkEntry.clearCaches()
    graft.plans.AnnIndexRewrite.clear()
    graft.plans.AggRewrite.clear()
    graft.plans.ConstraintRewrite.clear()
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val tempsBefore = plannerTemps
    Seq("search_bm25", "rag_chunk_retrieve", "dedup_winnow_clusters",
      "ann_planner_rewrite", "ann_planner_cosine", "ann_planner_ip",
      "agg_planner_choice", "agg_planner_join", "fk_planner_inner")
      .foreach(n => SparkEntry.queries(n)(spark, sfDir).collect())
    val mine = spark.sparkContext.getPersistentRDDs.keySet -- persistedBefore
    val temps = plannerTemps -- tempsBefore
    assert(mine.nonEmpty, "the shared builds should be persisted while in use")
    assert(temps.map(_.getName.replaceAll("\\d+$", "")) === plannerDirs)
    assert(!graft.plans.AnnIndexRewrite.isEmpty && !graft.plans.AggRewrite.isEmpty &&
      !graft.plans.ConstraintRewrite.isEmpty, "the planner builds should be registered")
    SparkEntry.clearCaches()
    val left = spark.sparkContext.getPersistentRDDs.keySet intersect mine
    assert(left.isEmpty, s"clearCaches must remove every cache-owned persisted RDD, left: $left")
    assert(graft.plans.AnnIndexRewrite.isEmpty, "ANN registrations must be dropped")
    assert(graft.plans.AggRewrite.isEmpty, "MV registrations must be dropped")
    assert(graft.plans.ConstraintRewrite.isEmpty, "constraint claims must be dropped")
    assert(temps.filter(_.exists).isEmpty, "the planner temp dirs must be deleted")
  }
}
