package graft

/** Plan-regression assertions: the physical-plan properties that make
  * the headline operators viable at 100 TB, pinned so a refactor can't
  * silently lose them. (Narrative walkthroughs live in docs/PLANS.md.)
  */
class PlanSpec extends GraftSpec {

  private def plan(name: String): String = {
    // other suites may have .cache()d fixture tables in the shared
    // session; a cached scan (InMemoryTableScan) hides the parquet
    // pushdown evidence these assertions pin
    spark.catalog.clearCache()
    SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.executedPlan.toString
  }

  test("search_bm25: inverted-index probe broadcasts the query terms, top-k is WindowGroupLimit") {
    val p = plan("search_bm25")
    assert(p.contains("BroadcastHashJoin"),
      "query terms and vocab-sized idf frames must broadcast onto the postings list")
    assert(!p.contains("CartesianProduct"),
      "candidate generation must be the term equi-join, never docs × queries")
    assert(p.contains("WindowGroupLimit"), "per-query top-k must heap-limit before the final sort")
  }

  test("every search-family ranking goes through WindowGroupLimit (incl. both RRF scorers)") {
    // Round 7's RRF fused FULL rankings (k=-1): no rk<=k filter, so the
    // scorers' windows could not rewrite to WindowGroupLimit and fully
    // sorted every candidate per query — the suite's slowest plan and a
    // scale-killer at 100 TB. The candMult cap restores the rewrite;
    // this pin keeps it: every ranking window in all three search
    // plans must be heap-limited (the un-rewritten shape would show a
    // Window node whose row_number output is not group-limited first).
    for (q <- Seq("search_bm25", "search_vsm_cosine", "search_hybrid_rrf")) {
      val p = plan(q)
      assert(p.contains("WindowGroupLimit"), s"$q: ranking must heap-limit, not full-sort")
    }
    // the RRF plan ranks twice (BM25 + VSM) before the fusion window;
    // both capped scorers must WindowGroupLimit, not just one
    val rrf = plan("search_hybrid_rrf")
    val hits = "WindowGroupLimit".r.findAllIn(rrf).size
    assert(hits >= 4, // 2 scorers × (partial + final) in the default rewrite
      s"both RRF scorer rankings must be group-limited, saw $hits WindowGroupLimit nodes")
  }

  test("knn_exact_multi: ranked on the driver, no broadcast, window or hash exchange") {
    // an unmarked 5-query kNN under the batch rewrite's scan-size gate is
    // ranked when it is built: the answer is a local frame
    val p = plan("knn_exact_multi")
    assert(p.contains("LocalTableScan"), "the answer must be the driver-ranked rows")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("Window") &&
      !p.contains("Exchange hashpartitioning"), "no broadcast, window or shuffle remains")
  }

  test("knn_exact_multi opted in: query side broadcast, window group limit partial") {
    // the batch-rewrite opt-in keeps the window plan the rewrite matches
    spark.catalog.clearCache()
    val emb = model.Tables.embeddings(spark, sfDir)
    val q = plans.AnnIndexRewrite.batchOptIn(emb.filter(emb("vec_id") < 5)
      .select(emb("vec_id").as("qid"), emb("embedding").as("qemb")))
    val p = search.KnnExact.topK(q, emb, 10).queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin"), "query side must broadcast")
    assert(p.contains("WindowGroupLimit"), "per-partition top-k pre-shuffle limit")
    assert(p.contains("PushedFilters: [IsNotNull(vec_id), LessThan(vec_id,"),
      "query-side filter must reach the parquet scan")
    assert(p.contains("floatvecl2sq"), "distance must be the codegen'd expression")
  }

  test("q3_top_orders: dims broadcast, fact side never shuffles for the join") {
    val p = plan("q3_top_orders")
    assert(p.contains("BroadcastHashJoin"), "dimension joins must broadcast")
    assert(p.contains("TakeOrderedAndProject"), "top-k must be heap-based, not global sort")
  }

  test("q2/q20: correlated subqueries decorrelate to aggregated joins") {
    // Both queries are written as SQL with correlated scalar subqueries
    // (q2: per-part min supplycost; q20: per-part total quantity) — the
    // optimizer must rewrite them into ONE aggregate joined back on the
    // correlation key. A surviving per-row subquery re-scans lineitem
    // once per outer row: instant death at 100 TB.
    for (q <- Seq("q2_min_cost_supplier", "q20_excess_shippers")) {
      val p = plan(q)
      assert(!p.contains("Subquery"),
        s"$q: no per-row subquery may survive decorrelation")
      assert(p.contains("HashAggregate"),
        s"$q: the correlated aggregate must run as a real aggregate")
      assert(p.contains("BroadcastHashJoin"),
        s"$q: the decorrelated aggregate (part-grained, small) must broadcast-join back")
    }
    assert(plan("q20_excess_shippers").contains("LeftSemi"),
      "q20's IN predicates must lower to semi joins")
  }

  test("ann_ivfpq_top10: cell prune and ADC LUT are broadcast equi-joins, never cartesian") {
    val p = plan("ann_ivfpq_top10")
    // cell pruning must be the (tiny) probed-cells broadcast equi-join —
    // at 100 TB this becomes partition pruning on the cell-partitioned
    // codes table; a cartesian here reads the whole corpus per query
    assert(p.contains("BroadcastHashJoin [cast(cell"),
      "probed cells must prune via a broadcast equi-join on cell")
    assert(p.contains("BroadcastHashJoin [block"),
      "the ADC lookup table must broadcast onto the codes")
    assert(!p.contains("CartesianProduct"),
      "no unbroadcast cartesian anywhere in the IVFADC pipeline")
  }

  test("ann_ivfpq_multi: batched probe shares one codes scan, per-query windows group-limit") {
    val p = plan("ann_ivfpq_multi")
    assert(!p.contains("CartesianProduct"),
      "no unbroadcast cartesian anywhere in the batched IVFADC pipeline")
    assert(p.contains("BroadcastHashJoin [cast(cell"),
      "the (qid, cell) probe table must prune via a broadcast equi-join on cell")
    assert(p.contains("WindowGroupLimit"),
      "per-query probe/candidate/re-rank top-k must heap-limit, not full-sort")
    // one scan of the embeddings table feeds the codes for ALL 5 queries —
    // scans appear once per logical ROLE (centroids, assign, query batch,
    // codes, LUT, re-rank), the same set as the single-query plan; a
    // per-query fan-out would multiply the count by the batch size
    val scans = "Scan parquet".r.findAllIn(p).size
    val single = "Scan parquet".r.findAllIn(plan("ann_ivfpq_top10")).size
    assert(scans <= single + 2,
      s"batched plan has $scans scans vs $single single-query — batch must not re-scan per query")
  }

  test("dedup_exact: single aggregation with map-side partial") {
    val p = plan("dedup_exact")
    // partial + final pair: two HashAggregates around one exchange
    assert("HashAggregate".r.findAllIn(p).size >= 2)
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1,
      "exact dedup must be exactly one shuffle (plus presentation sort)")
  }

  test("multimodal_frames: partial agg before the shuffle (one row per doc)") {
    val p = plan("multimodal_frames")
    val firstExchange = p.indexOf("Exchange hashpartitioning")
    val partialAgg = p.indexOf("SortAggregate")
    assert(firstExchange >= 0 && partialAgg >= 0)
    assert(p.substring(0, firstExchange).contains("Generate") ||
      p.indexOf("Generate") > firstExchange,
      "posexplode must exist in the plan")
  }

  test("token_counts: narrow per-row transform, only the presentation sort shuffles") {
    val p = plan("token_counts")
    assert(!p.contains("Exchange hashpartitioning"),
      "a per-row transform must not hash-shuffle")
  }

  test("q19_disjunctive: predicate reaches the scans, part join broadcasts") {
    val p = plan("q19_disjunctive")
    assert(p.contains("BroadcastHashJoin"), "part join must broadcast")
    assert(p.contains("PushedFilters: [IsNotNull(l_partkey)"),
      "join-key null filter must reach the lineitem scan")
    assert(p.contains("Or(EqualTo(p_brand,Brand#12)") ||
      p.contains("Or(Or("), "the disjunctive brand predicate must be pushed to the part scan")
  }

  test("knn_range_search: pure broadcast + filter — no window, no sort shuffle") {
    val p = plan("knn_range_search")
    assert(p.contains("BroadcastNestedLoopJoin"), "query side must broadcast")
    assert(!p.contains("Window"), "radius search must not plan a ranking window")
    assert(p.contains("floatvecl2sq"), "distance must be the codegen'd expression")
  }

  test("q18_large_orders: lineitem aggregates BEFORE joining orders") {
    val p = plan("q18_large_orders")
    // the partial HashAggregate over l_orderkey must appear below
    // (= later in the plan string than) the join operators
    val joinIdx = Seq("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin")
      .map(p.indexOf).filter(_ >= 0)
    assert(joinIdx.nonEmpty, "expected at least one join in the plan")
    assert(p.lastIndexOf("HashAggregate") > joinIdx.min,
      "sum(l_quantity) must be a pre-join aggregation")
  }

  test("recall_curve: single-plan form — no union of per-collection subplans") {
    val p = plan("recall_curve")
    assert(!p.contains("Union"), "prefix collections must come from the cutoff join, not a union")
    assert(p.contains("rpbucketsexpr") || p.contains("graft_rplsh_buckets"),
      "bucketing must be the native expression")
  }

  test("events_range_join: interval join is an equi-join on buckets, not a nested loop") {
    val p = plan("events_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "range join must not degrade to an unbounded nested loop")
  }

  test("dedup_embedding_cosine: banded equi-join candidates, never an all-pairs join") {
    val p = plan("dedup_embedding_cosine")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "cosine near-dup must come from the sign-band equi-join, not an n² pair join")
    assert(p.contains("signbandsexpr") || p.contains("graft_sign_bands"),
      "banding must be the native codegen'd expression")
  }

  test("corpus_keep_list: drop-list exclusion is a broadcast anti-join") {
    val p = plan("corpus_keep_list")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      "the tiny drop list must broadcast; shuffling the corpus for an anti-join " +
        "is the 100 TB failure mode")
    assert(!p.contains("SortMergeJoin"),
      "a sort-merge anti-join means the corpus side shuffled")
  }

  test("customer_pii_mask: pure projection — no shuffle except presentation sort") {
    val p = plan("customer_pii_mask")
    assert(p.split("Exchange").length - 1 <= 1,
      s"masking is per-row; only the ORDER BY may exchange, got plan:\n$p")
  }

  test("dedup_winnow_candidates: equi-join on fingerprints, never all-pairs") {
    val p = plan("dedup_winnow_candidates")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"candidate generation must be the inverted-index equi-join:\n$p")
  }

  test("corpus_dup_spans: native hashed shingles, ONE doc-sort feeds both windows") {
    val p = plan("corpus_dup_spans")
    assert(p.toLowerCase.contains("hashedshinglepositions"),
      "shingles must go through the positional 64-bit hash expression, " +
        s"not interpreted string lambdas (the 4.8s → 1s serial win):\n$p")
    assert(!p.contains("concat_ws"), "string-shingle path must be gone")
    // the lag window and the running-sum window share partitionBy/orderBy,
    // so they must ride ONE doc-hashed exchange + sort — a second
    // single-key doc_id exchange would mean the reuse regressed
    val docOnly = "hashpartitioning\\(doc_id#\\d+L?, \\d+\\)".r.findAllIn(p).length
    assert(docOnly == 1,
      s"expected exactly one doc_id-partitioned exchange feeding both windows, got $docOnly:\n$p")
  }

  test("graph_pagerank_hnsw: ANN-index edges — no cross product anywhere in the plan") {
    // the row exists to prove PageRank composes with the index-backed
    // candidate generator; a CartesianProduct would defeat its purpose
    val p = plan("graph_pagerank_hnsw")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"edges must come from Hnsw.topK + equi-joins, never a cross product:\n$p")
  }

  test("corpus_span_corrupt: zero-shuffle projection — blocks are closed-form") {
    // fixed non-overlapping blocks keep span masking a per-row
    // transform: no join, no aggregation, only the presentation sort
    // may exchange
    val p = plan("corpus_span_corrupt")
    assert(p.split("Exchange").length - 1 <= 1,
      s"span corruption is per-row; only the ORDER BY may exchange, got:\n$p")
    assert(!p.contains("Join"), "no join belongs in a per-row mask transform")
  }

  test("events_asof: union+window form — no join node of any kind") {
    val p = plan("events_asof")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      "as-of must be the union+window rewrite; a range join degenerates to " +
        "a per-key cartesian at scale")
    assert(p.contains("Window"), "the carried-forward match must be a running window")
  }

  test("docs_stratified_sample: quota rank prunes per-partition before the exchange") {
    val p = plan("docs_stratified_sample")
    assert(p.contains("WindowGroupLimit"),
      "rk <= quota must push a partial top-k below the shuffle — otherwise " +
        "the whole corpus shuffles to rank 20 rows per group")
  }

  test("corpus_decontaminate: benchmark vocabulary broadcasts, corpus never cross-joins") {
    val p = plan("corpus_decontaminate")
    assert(p.contains("BroadcastHashJoin"),
      "the MB-scale benchmark shingle set must broadcast against the corpus scan")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "shingle matching must stay an equi-join")
  }

  test("corpus_pack_greedy: one group exchange feeds the sequential scan") {
    val p = plan("corpus_pack_greedy")
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1,
      "packing is one hash exchange on the group column; extra shuffles mean " +
        "the per-group scan lost its co-location")
  }

  test("docs_chunk_overlap: scan-parallel explode — no shuffle except presentation sort") {
    val p = plan("docs_chunk_overlap")
    assert(!p.contains("Exchange hashpartitioning"),
      "chunking is per-row (tokenize/explode/slice); a hash shuffle means it lost " +
        "its narrow shape")
    assert(p.contains("Generate"), "chunk starts must come from an explode")
  }

  test("docs_temperature_mix: per-language rates broadcast back over the scan") {
    val p = plan("docs_temperature_mix")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "the languages-sized rate table must broadcast; shuffling the corpus to " +
        "join 5 rows is the 100 TB failure mode")
    assert(!p.contains("SortMergeJoin"))
  }

  test("doc_length_clip: one-row percentile aggregate broadcasts, corpus scans once per side") {
    val p = plan("doc_length_clip")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "the 1-row percentile bounds must broadcast back over the scan")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("customer_tiers: global rank never funnels through one partition") {
    val p = plan("customer_tiers")
    assert(!p.contains("Exchange SinglePartition"),
      "an unpartitioned window would shuffle the whole table to one task")
    assert(p.contains("hashpartitioning(__pid"),
      "the rank window must partition by the range-bucket id")
  }

  test("q6_forecast_revenue: every predicate reaches the parquet scan, no hash shuffle") {
    val p = plan("q6_forecast_revenue")
    // the rendered PushedFilters list truncates, so assert on a prefix
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount)") &&
      p.contains("GreaterThanOrEqual(l_discou"),
      "the discount range must push into the parquet reader")
    assert("l_quantity#\\d+ < 24.0".r.findFirstIn(p).nonEmpty,
      "quantity bound must survive into the scan filter")
    assert(!p.contains("Exchange hashpartitioning"),
      "a scan + 1-row aggregate must not hash-shuffle anything")
  }

  test("q8_market_share: every dimension broadcasts; only the fact pair may shuffle") {
    val p = plan("q8_market_share")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4,
      "part, region-restricted customers, supplier-nation, and nation dims must broadcast")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("cdc_merge: union + per-key max_by, no join node, one hash shuffle") {
    val p = plan("cdc_merge")
    assert(!p.contains("Join"),
      "MERGE must be the union+aggregate form; a join re-shuffles both sides")
    assert(p.contains("Union"), "base and change batch must union before the key shuffle")
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1,
      "exactly one shuffle on the merge key (partial max_by map-side)")
  }

  test("docs_denylist_bloom: codegen'd bloom probe in the scan filter, no cartesian") {
    val p = plan("docs_denylist_bloom")
    assert(p.toLowerCase.contains("bloommightcontain"),
      "the prefilter must be the native bloom expression, not a UDF")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the verify step must stay an equi-anti-join over the flagged sliver")
  }

  test("embedding_centroid_assign: seeds broadcast, argmin collapses before the exchange") {
    val p = plan("embedding_centroid_assign")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "the 10-row centroid table must broadcast; shuffling vectors to meet 10 rows is wrong")
    assert(p.contains("floatvecl2sq"), "distance must be the codegen'd expression")
    val firstExchange = p.indexOf("Exchange hashpartitioning")
    val firstAgg = p.lastIndexOf("HashAggregate")
    assert(firstExchange >= 0 && firstAgg > firstExchange,
      "a partial min must run below the exchange so the ×k BNLJ expansion " +
        "collapses back to one row per vector before any shuffle")
  }

  test("broadcast-hint lint: no hint may wrap an unbounded fact-table frame") {
    // Round-9 verdict: forced broadcast() on SF-proportional frames (q9's
    // partsupp-grained aggregate, q3's customer segment) is the one class
    // of scale-killer that survives correctness checks — the hint works at
    // fixture scale and OOMs at 100×. This gate makes the one-time audit
    // permanent: EVERY declared query's analyzed plan is walked; inside a
    // broadcast-hinted subtree, every scan of a fact table (the tables
    // that grow with corpus size) must sit below a cardinality bound the
    // rule can see — a grand (group-less) Aggregate, a Limit, or a
    // POINT-LOOKUP Filter (id/key column pinned to literals: ≤ #literals
    // rows at any SF). A predicate Filter like p_type = 'STANDARD' does
    // NOT count — it shrinks the constant, not the SF growth rate.
    // Frames bounded for reasons the rule cannot see are
    // allowlisted WITH the reason; a stale allowlist entry fails too, so
    // the list cannot rot.
    import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeReference, Cast, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, InSet, LessThan, LessThanOrEqual, Literal}
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter => LFilter, GlobalLimit, LocalLimit, LogicalPlan, ResolvedHint}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    // Round-10 verdict: `part`, `customer`, `supplier` are SF-proportional
    // too (a Filter over them reduces the constant, not the growth rate),
    // so they join the fact set and Filter no longer counts as a bound —
    // the r10 loophole was `broadcast(part.filter(p_type = ...))` passing
    // because ANY Filter marked the subtree bounded.
    val facts = Set("lineitem", "orders", "events", "documents", "embeddings",
      "part", "customer", "supplier")
    val allow: Map[String, String] = Map(
      // grouped on `lang`: the domain is the fixed language-ID codebook
      // (dozens of rows at ANY corpus size — grouping key, not row count,
      // bounds these)
      "docs_temperature_mix" -> "per-language rate table (≤ #languages rows)",
      // seeds: grouped on `label` (10 fixture classes); cent: embeddings
      // equi-joined to those ≤10 seed ids — both label-grained
      "embedding_centroid_assign" -> "per-label seed/centroid frames (≤ #labels rows)",
      // per-language sufficient-statistics frame
      "doc_length_zscore" -> "per-language stats table (≤ #languages rows)",
      // distinct event_type — the closed event-taxonomy domain
      "events_daily_dense" -> "event-type dimension (≤ #event types rows)",
      // the broadcast frames are idf/weights/norms equi-joined down to the
      // query's terms first (term is UNIQUE in idf, so the join is
      // ≤ |query terms| rows); the full-vocab doc-side join is un-hinted
      // (AQE). The rule cannot see join-key uniqueness, hence allowlist.
      "search_bm25" -> "idf restricted to query terms (≤ |query terms| rows)",
      "search_vsm_cosine" -> "query-side idf/norm frames (≤ |query terms| rows)",
      "search_hybrid_rrf" -> "query-side idf/norm frames of both scorers",
      // supplier is the smallest linear table (SF×10k rows, ~40 B/row
      // projected — ~4 GB even at SF 10k); hinting it keeps the
      // lineitem⋈supplier star edge shuffle-free far past any realistic
      // SF. The hint is deliberate and documented at each site; revisit
      // only if supplier outgrows the broadcast budget.
      "q5_region_revenue" -> "supplier-grained dim (SF×10k, smallest linear table)",
      "q7_volume" -> "supplier-grained dim (SF×10k, smallest linear table)",
      "q9_profit_by_nation_year" -> "supplier-grained dim (SF×10k, smallest linear table)",
      "q15_top_supplier" -> "supplier-grained dim (SF×10k, smallest linear table)",
      "q21_waiting_supplier" -> "supplier-grained dim (SF×10k, smallest linear table)",
      "q8_market_share" -> "supplier→nation frame (SF×10k, smallest linear table)",
      // distinct p_brand: grouped on the fixed brand domain (≤ #brands
      // rows at any SF — grouping key, not row count, bounds it)
      "q16_brand_breadth" -> "distinct p_brand exclusion set (≤ #brands rows)",
      // the broadcast side is the BENCHMARK shingle vocabulary — a fixed
      // eval set (expressed here as source = 'src0' over the fixture);
      // real deployments pass a benchmark table that does not grow with
      // the training corpus
      "corpus_decontaminate" -> "benchmark shingle vocab (fixed eval set)",
      // same scorer as search_vsm_cosine: query-side idf/norm frames
      // equi-joined down to the query's terms first
      "rag_chunk_retrieve" -> "query-side idf/norm frames (≤ |query terms| rows)"
    )
    def keyish(a: Attribute): Boolean = {
      val n = a.name.toLowerCase
      n == "id" || n == "qid" || n.endsWith("_id") || n.endsWith("key")
    }
    // analyzed (pre-folding) plans wrap literals in Cast — strip them
    def isLit(e: Expression): Boolean = e match {
      case _: Literal => true
      case c: Cast => isLit(c.child)
      case _ => false
    }
    // a single comparison is bounding only when IT ALONE caps the row
    // count — an id pinned to literals, or a literal upper bound on a
    // dense id (ids assign from 0; a lower bound is not a bound at all)
    def boundingLeaf(e: Expression): Boolean = e match {
      case EqualTo(a: AttributeReference, r) => keyish(a) && isLit(r)
      case EqualTo(l, a: AttributeReference) => keyish(a) && isLit(l)
      case In(a: AttributeReference, vs) if vs.forall(isLit) => keyish(a)
      case InSet(a: AttributeReference, _) => keyish(a)
      case LessThan(a: AttributeReference, r) => keyish(a) && isLit(r)
      case LessThanOrEqual(a: AttributeReference, r) => keyish(a) && isLit(r)
      case GreaterThan(l, a: AttributeReference) => keyish(a) && isLit(l)
      case GreaterThanOrEqual(l, a: AttributeReference) => keyish(a) && isLit(l)
      case _ => false
    }
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    // the whole Filter bounds its subtree only if some TOP-LEVEL conjunct
    // is bounding — never descend into Or branches (`vec_id = 5 OR
    // lang = 'en'` keeps the full per-language row count, so a keyish
    // disjunct must not mark the Filter bounded; this closes the r11
    // `cond.exists` variant of the r10 any-Filter loophole)
    def isPointLookup(cond: Expression): Boolean =
      conjuncts(cond).exists(boundingLeaf)
    def unboundedFacts(p: LogicalPlan, bounded: Boolean): Seq[String] = p match {
      case l: LogicalRelation =>
        if (bounded) Nil
        else l.relation match {
          case f: HadoopFsRelation =>
            f.location.rootPaths.toSeq.map(_.getName.stripSuffix(".parquet")).filter(facts)
          case _ => Nil
        }
      case f: LFilter =>
        unboundedFacts(f.child, bounded = bounded || isPointLookup(f.condition))
      case a: Aggregate if a.groupingExpressions.isEmpty =>
        unboundedFacts(a.child, bounded = true)
      case g: GlobalLimit => unboundedFacts(g.child, bounded = true)
      case loc: LocalLimit => unboundedFacts(loc.child, bounded = true)
      case other => other.children.flatMap(unboundedFacts(_, bounded))
    }
    spark.catalog.clearCache()
    // constructing these queries runs a real AvailableNow stream; their
    // hint/plan posture is pinned in IndexMaintenanceSpec /
    // HnswMaintenanceSpec instead
    val skip = Set("ann_index_stream_append", "ann_hnsw_stream_append",
      "bpe_stream_tokenize")
    val violations = scala.collection.mutable.SortedMap[String, Set[String]]()
    for ((name, fn) <- SparkEntry.queries if !skip(name)) {
      val analyzed = fn(spark, sfDir).queryExecution.analyzed
      val bad = analyzed.collect {
        case h: ResolvedHint if h.hints.strategy.nonEmpty =>
          unboundedFacts(h.child, bounded = false)
      }.flatten.toSet
      if (bad.nonEmpty) violations(name) = bad
    }
    val unexplained = violations.keySet -- allow.keySet
    assert(unexplained.isEmpty,
      "broadcast hints over unbounded fact-table frames (un-hint them; AQE " +
        "will still broadcast at fixture scale): " +
        unexplained.toSeq.sorted.map(n => s"$n(${violations(n).mkString(",")})").mkString("; "))
    val stale = allow.keySet -- violations.keySet
    assert(stale.isEmpty, s"allowlist entries no longer needed — remove: $stale")
  }

  test("corpus_dsir_resample: gumbel top-k is a TakeOrdered heap, never a global sort-limit") {
    val p = plan("corpus_dsir_resample")
    assert(p.contains("TakeOrderedAndProject"),
      "selection over weights must run as per-partition heaps")
    assert(!p.contains("CartesianProduct"))
  }

  test("dedup_semantic: assignment is an inlined projection, pairs an equi-join") {
    val p = plan("dedup_semantic")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "the nearest-seed argmin must be the array_min projection, not a join")
  }

  test("q21: the double-correlated EXISTS pair runs as semi+anti joins, top-10 as a heap") {
    val p = plan("q21_waiting_supplier")
    assert(p.contains("LeftSemi") && p.contains("LeftAnti"),
      "EXISTS / NOT EXISTS must lower to semi and anti joins")
    assert(!p.toLowerCase.contains("subqueryexec"),
      "no per-row subquery may survive")
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("CartesianProduct"))
  }
}
