package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.model.Tables
import graft.plans.AggRewrite

/** Materialized-aggregate rewrite: the groupBy-over-fact pattern is
  * answered from the registered summary table when (and only when)
  * every key and measure is re-aggregable — and the rewrite never
  * changes results.
  */
class AggRewriteSpec extends GraftSpec {
  import spark.implicits._

  private lazy val srcPath = s"$sfDir/lineitem.parquet"
  private def li = {
    val df = Tables.lineitem(spark, sfDir)
    df.unpersist(true)
    df
  }

  private def pattern: DataFrame =
    li.groupBy($"l_returnflag", $"l_linestatus")
      .agg(count(lit(1)).as("n"), sum($"l_orderkey").as("sum_ok"),
        min($"l_quantity").as("min_qty"), max($"l_quantity").as("max_qty"))

  /** Register the spec MV. `withColCount` carries the per-column
    * non-null count AVG needs; `pathBacked = false` registers the
    * DataFrame itself (exercising the once-per-pass splice guard).
    */
  private def registerMv(withColCount: Boolean = true,
      pathBacked: Boolean = true): String = {
    val mv = li.groupBy($"l_returnflag", $"l_linestatus", $"l_linenumber")
      .agg(count(lit(1)).as("n"), sum($"l_orderkey").as("sum_ok"),
        count($"l_orderkey").as("n_ok"),
        min($"l_quantity").as("min_qty"), max($"l_quantity").as("max_qty"))
    val tmp = GraftSpec.tempDir("graft_aggmv_spec").toString
    mv.write.mode("overwrite").parquet(tmp)
    val base = Map("n" -> (("count", "")), "sum_ok" -> (("sum", "l_orderkey")),
      "min_qty" -> (("min", "l_quantity")), "max_qty" -> (("max", "l_quantity")))
    val measures =
      if (withColCount) base + ("n_ok" -> (("count", "l_orderkey"))) else base
    AggRewrite.register(srcPath, AggRewrite.MvSpec(spark.read.parquet(tmp),
      groupCols = Seq("l_returnflag", "l_linestatus", "l_linenumber"),
      measures = measures,
      mvPath = if (pathBacked) Some(tmp) else None))
    tmp
  }

  /** Root paths of all file scans in the optimized plan —
    * LogicalRelation.toString does NOT include the path, so the
    * assertion must read HadoopFsRelation.location directly.
    */
  private def scanPaths(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collectLeaves().flatMap {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.map(_.toUri.getPath)
          case _ => Nil
        }
      case _ => Nil
    }

  private def scansPath(df: DataFrame, path: String): Boolean = {
    val norm = new org.apache.hadoop.fs.Path(path).toUri.getPath
    scanPaths(df).contains(norm)
  }

  private def scansLineitem(df: DataFrame): Boolean = scansPath(df, srcPath)

  private def collectRows(df: DataFrame) =
    df.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
      r.getLong(3), r.getDouble(4), r.getDouble(5)))
      .sortBy(t => (t._1, t._2)).toSeq

  test("no registration: the groupBy keeps the exact fact scan") {
    AggRewrite.clear()
    assert(scansLineitem(pattern), "without an MV the fact table is scanned")
  }

  test("registered MV: the rule fires, the fact scan disappears, rows exact") {
    AggRewrite.clear()
    val expected = collectRows(pattern)
    registerMv()
    spark.experimental.extraOptimizations = Seq(AggRewrite)
    try {
      val before = AggRewrite.fired.get()
      val df = pattern
      assert(!scansLineitem(df), "the Aggregate must read the MV, not the facts")
      assert(AggRewrite.fired.get() > before)
      assert(collectRows(df) === expected,
        "MV re-aggregation must not change any value")
      // coarser rollup through the same MV
      val roll = li.groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n"), max($"l_quantity").as("max_qty"))
      assert(!scansLineitem(roll), "any key subset re-aggregates from the MV")
      val got = roll.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
      AggRewrite.clear()
      val exact = roll.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
      assert(got.toSeq === exact.toSeq)
    } finally {
      spark.experimental.extraOptimizations = Nil
      AggRewrite.clear()
    }
  }

  test("non-re-aggregable measures decline: double SUM and AVG keep the facts") {
    AggRewrite.clear()
    registerMv()
    spark.experimental.extraOptimizations = Seq(AggRewrite)
    try {
      val before = AggRewrite.fallbacks.get()
      // sum over a DOUBLE column type-matches but re-associates IEEE adds
      val dblSum = li.groupBy($"l_returnflag")
        .agg(sum($"l_quantity").as("sq"))
      assert(scansLineitem(dblSum), "a double SUM must keep the exact fact scan")
      // avg is not in the registered algebra at all
      val avgQ = li.groupBy($"l_returnflag").agg(avg($"l_quantity").as("aq"))
      assert(scansLineitem(avgQ), "AVG must keep the exact fact scan")
      assert(AggRewrite.fallbacks.get() > before, "declines are counter-observable")
      // a grouping key outside the MV keys also declines
      val badKey = li.groupBy($"l_orderkey").agg(count(lit(1)).as("n"))
      assert(scansLineitem(badKey), "a non-MV key must keep the exact fact scan")
    } finally {
      spark.experimental.extraOptimizations = Nil
      AggRewrite.clear()
    }
  }

  test("integral AVG decomposes exactly; key-only filters remap; measure filters decline") {
    AggRewrite.clear()
    // defs, not vals: a QueryExecution caches its optimized plan, so a
    // frame built before registration would assert against a stale plan
    def avgQ = li.groupBy($"l_returnflag").agg(avg($"l_orderkey").as("a"))
    def fltQ = li.filter($"l_linestatus" === "F")
      .groupBy($"l_returnflag").agg(count(lit(1)).as("n"))
    val expectedAvg = avgQ.collect().map(r => (r.getString(0), r.getDouble(1))).sortBy(_._1)
    val expectedFlt = fltQ.collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    registerMv()
    spark.experimental.extraOptimizations = Seq(AggRewrite)
    try {
      assert(!scansLineitem(avgQ), "integral AVG re-aggregates from the MV")
      val gotAvg = avgQ.collect().map(r => (r.getString(0), r.getDouble(1))).sortBy(_._1)
      assert(gotAvg.toSeq === expectedAvg.toSeq,
        "SUM(mv_sum)/SUM(mv_n) must equal Average bit-for-bit (exact integer operands)")
      assert(!scansLineitem(fltQ), "a key-only WHERE remaps onto the MV")
      val gotFlt = fltQ.collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
      assert(gotFlt.toSeq === expectedFlt.toSeq)
      // a predicate on a MEASURE column cannot select whole MV groups
      val measureFlt = li.filter($"l_quantity" > 25.0)
        .groupBy($"l_returnflag").agg(count(lit(1)).as("n"))
      assert(scansLineitem(measureFlt),
        "a measure-column predicate must keep the exact fact scan")
      // AVG over a double column declines (IEEE re-association hazard)
      val dblAvg = li.groupBy($"l_returnflag").agg(avg($"l_quantity").as("a"))
      assert(scansLineitem(dblAvg), "double AVG must keep the exact fact scan")
    } finally {
      spark.experimental.extraOptimizations = Nil
      AggRewrite.clear()
    }
  }

  test("grouping sets: CUBE and filtered ROLLUP answer from the MV, rows exact") {
    AggRewrite.clear()
    def cubeQ = li.cube($"l_returnflag", $"l_linestatus")
      .agg(count(lit(1)).as("n"), min($"l_quantity").as("min_qty"),
        avg($"l_orderkey").as("avg_ok"))
    def rollQ = li.filter($"l_linestatus" === "F")
      .rollup($"l_returnflag", $"l_linenumber")
      .agg(count(lit(1)).as("n"), max($"l_quantity").as("max_qty"))
    def rowsOf(df: DataFrame) = df.collect()
      .map(r => (Option(r.get(0)).map(_.toString).getOrElse("<null>"),
        Option(r.get(1)).map(_.toString).getOrElse("<null>"),
        r.toSeq.drop(2).map(v => Option(v).map(_.toString).getOrElse("<null>"))))
      .sortBy(t => (t._1, t._2)).toSeq
    val expectedCube = rowsOf(cubeQ)
    val expectedRoll = rowsOf(rollQ)
    registerMv()
    spark.experimental.extraOptimizations = Seq(AggRewrite)
    try {
      assert(!scansLineitem(cubeQ), "CUBE must replicate MV rows, not fact rows")
      assert(rowsOf(cubeQ) === expectedCube,
        "grouping-sets re-aggregation must not change any value or NULL position")
      assert(!scansLineitem(rollQ), "a key-only WHERE remaps below the rebuilt Expand")
      assert(rowsOf(rollQ) === expectedRoll)
      // a measure not in the MV algebra declines the whole query
      def dblQ = li.cube($"l_returnflag", $"l_linestatus")
        .agg(sum($"l_quantity").as("sq"))
      assert(scansLineitem(dblQ), "double SUM under CUBE must keep the fact scan")
      // a grouping key outside the MV keys declines
      def badKey = li.rollup($"l_returnflag", $"l_shipdate").agg(count(lit(1)).as("n"))
      assert(scansLineitem(badKey), "a non-MV key must keep the exact fact scan")
      // a measure-column WHERE cannot select whole MV groups
      def measureFlt = li.filter($"l_quantity" > 25.0)
        .cube($"l_returnflag", $"l_linestatus").agg(count(lit(1)).as("n"))
      assert(scansLineitem(measureFlt),
        "a measure-column predicate under CUBE must keep the exact fact scan")
    } finally {
      spark.experimental.extraOptimizations = Nil
      AggRewrite.clear()
    }
  }

  test("dim-update IVM: keyed partials + touched-group refresh equal the bulk join over the new dim") {
    import graft.streaming.AggMaintenance
    val measures = AggMaintenance.Measures(
      partial = Seq(count(lit(1)).as("n"), sum($"l_linenumber").as("sum_ln"),
        min($"l_quantity").as("min_qty"), max($"l_quantity").as("max_qty")),
      merge = Seq(sum($"n").as("n"), sum($"sum_ln").as("sum_ln"),
        min($"min_qty").as("min_qty"), max($"max_qty").as("max_qty")))
    val ordV1 = Tables.orders(spark, sfDir).select($"o_orderkey", $"o_orderpriority")
    val ordV2 = ordV1.withColumn("o_orderpriority",
      when($"o_orderkey" % 97 === 0, lit("9-RECLASSIFIED"))
        .otherwise($"o_orderpriority"))
    def bulk(dim: org.apache.spark.sql.DataFrame) =
      li.join(dim, $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderpriority", $"l_linestatus")
        .agg(count(lit(1)).as("n"), sum($"l_linenumber").as("sum_ln"),
          min($"l_quantity").as("min_qty"), max($"l_quantity").as("max_qty"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getDouble(4), r.getDouble(5))).sortBy(t => (t._1, t._2)).toSeq
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getDouble(5))).sortBy(t => (t._1, t._2)).toSeq
    // end-to-end harness: stream → keyed partials → view(v1) → refresh(v2)
    val view = AggMaintenance.maintainJoinWithDimUpdate(spark, li, ordV1, ordV2,
      "l_orderkey", "o_orderkey", Seq("o_orderpriority"), Seq("l_linestatus"),
      measures, nFiles = 3)
    try assert(rowsOf(view) === bulk(ordV2),
      "refreshed view != bulk join over the FINAL dim state")
    finally view.unpersist(true)
    // structural pins on the refresh itself: the fact source is never
    // read (partials only), and a no-op dim update recomputes nothing
    val base = GraftSpec.tempDir("graft_dimupd_spec")
    try {
      val factDir = base.resolve("facts").toString
      val rollup = base.resolve("rollup").toString
      li.write.parquet(factDir)
      val facts = spark.read.parquet(factDir)
      AggMaintenance.appendKeyedBatch(facts.filter($"l_linenumber" % 2 === 0),
        "l_orderkey", Seq("l_linestatus"), measures, rollup, 0L)
      AggMaintenance.appendKeyedBatch(facts.filter($"l_linenumber" % 2 =!= 0),
        "l_orderkey", Seq("l_linestatus"), measures, rollup, 1L)
      val partials = AggMaintenance.readKeyedPartials(spark, rollup,
        "l_orderkey", Seq("l_linestatus"), measures)
      val v1 = AggMaintenance.viewOverDim(partials, ordV1, "l_orderkey",
        "o_orderkey", Seq("o_orderpriority"), Seq("l_linestatus"), measures)
      assert(rowsOf(v1) === bulk(ordV1), "keyed partials ⋈ dimV1 != bulk v1")
      val refreshed = AggMaintenance.refreshViewForDimUpdate(v1, partials,
        ordV1, ordV2, "l_orderkey", "o_orderkey", Seq("o_orderpriority"),
        Seq("l_linestatus"), measures)
      val factNorm = new org.apache.hadoop.fs.Path(factDir).toUri.getPath
      val scanned = refreshed.queryExecution.optimizedPlan.collectLeaves().flatMap {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation match {
            case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              h.location.rootPaths.map(_.toUri.getPath)
            case _ => Nil
          }
        case _ => Nil
      }
      assert(!scanned.exists(_.startsWith(factNorm)),
        "the refresh must never re-scan the fact table")
      assert(rowsOf(refreshed) === bulk(ordV2), "touched-group refresh != bulk v2")
      // no-op update: nothing is touched, the view is carried verbatim
      val noop = AggMaintenance.refreshViewForDimUpdate(v1, partials,
        ordV1, ordV1, "l_orderkey", "o_orderkey", Seq("o_orderpriority"),
        Seq("l_linestatus"), measures)
      assert(rowsOf(noop) === rowsOf(v1))
      // SCD deletes + inserts ride the same diff: delete every 113th
      // order (its fact rows must vanish from the view, like the bulk
      // inner join) and insert a fresh key no fact references (no view
      // row may appear for it)
      val ordV3 = ordV1.filter($"o_orderkey" % 113 =!= 0)
        .unionByName(Seq((-5L, "0-NEW")).toDF("o_orderkey", "o_orderpriority"))
      val refreshedDelIns = AggMaintenance.refreshViewForDimUpdate(v1, partials,
        ordV1, ordV3, "l_orderkey", "o_orderkey", Seq("o_orderpriority"),
        Seq("l_linestatus"), measures)
      assert(rowsOf(refreshedDelIns) === bulk(ordV3),
        "delete/insert refresh != bulk join over the edited dim")
    } finally {
      val p = new org.apache.hadoop.fs.Path(base.toString)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  test("join-view streaming maintenance equals the bulk join rollup under any split") {
    import graft.streaming.AggMaintenance
    val ord = Tables.orders(spark, sfDir).select($"o_orderkey", $"o_orderpriority")
    val direct = li.join(ord, $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderpriority", $"l_linestatus")
      .agg(count(lit(1)).as("n"), sum($"l_linenumber").as("sum_ln"),
        min($"l_quantity").as("min_qty"), max($"l_quantity").as("max_qty"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getDouble(5))).sortBy(t => (t._1, t._2)).toSeq
    for (n <- Seq(2, 5)) {
      val view = AggMaintenance.maintainJoinFromBatch(spark, li, ord,
        $"l_orderkey" === $"o_orderkey", Seq("o_orderpriority", "l_linestatus"),
        AggMaintenance.Measures(
          partial = Seq(count(lit(1)).as("n"), sum($"l_linenumber").as("sum_ln"),
            min($"l_quantity").as("min_qty"), max($"l_quantity").as("max_qty")),
          merge = Seq(sum($"n").as("n"), sum($"sum_ln").as("sum_ln"),
            min($"min_qty").as("min_qty"), max($"max_qty").as("max_qty"))),
        nFiles = n)
      try {
        val got = view.collect().map(r => (r.getString(0), r.getString(1),
          r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5)))
          .sortBy(t => (t._1, t._2)).toSeq
        assert(got === direct, s"join-view stream != bulk join with a $n-file split")
      } finally view.unpersist(true)
    }
  }

  test("streaming maintenance: merged partials equal the batch rollup; compaction equivalent") {
    import graft.streaming.AggMaintenance
    val keys = Seq("l_returnflag", "l_linestatus")
    val direct = li.groupBy($"l_returnflag", $"l_linestatus")
      .agg(count(lit(1)).as("n"), sum($"l_orderkey").as("sum_ok"),
        min($"l_quantity").as("min_qty"), max($"l_quantity").as("max_qty"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getDouble(5))).sortBy(t => (t._1, t._2)).toSeq
    val okMeasures = AggMaintenance.Measures(
      partial = Seq(count(lit(1)).as("n"), sum($"l_orderkey").as("sum_ok"),
        min($"l_quantity").as("min_qty"), max($"l_quantity").as("max_qty")),
      merge = Seq(sum($"n").as("n"), sum($"sum_ok").as("sum_ok"),
        min($"min_qty").as("min_qty"), max($"max_qty").as("max_qty")))
    val view = AggMaintenance.maintainFromBatch(spark, li, keys, okMeasures, nFiles = 4)
    try {
      val got = view.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getDouble(5))).sortBy(t => (t._1, t._2)).toSeq
      assert(got === direct, "the associative merge must equal the bulk groupBy")
    } finally view.unpersist(true)
    // compaction + retry idempotency on a private rollup dir
    val base = GraftSpec.tempDir("graft_agg_compact")
    try {
      val rollup = base.resolve("rollup").toString
      val one = li.limit(100)
      AggMaintenance.appendBatch(one, keys, okMeasures, rollup, 0L)
      AggMaintenance.appendBatch(one, keys, okMeasures, rollup, 0L) // retry: same batch id
      AggMaintenance.appendBatch(li.limit(300), keys, okMeasures, rollup, 1L)
      val before = AggMaintenance.readView(spark, rollup, keys, okMeasures)
        .collect().map(_.toSeq).sortBy(_.toString)
      assert(before.map(_(2).asInstanceOf[Long]).sum === 400L,
        "a retried batch commits once (overwrite of its own dir)")
      val compacted = base.resolve("compacted").toString
      AggMaintenance.compactRollup(spark, rollup, compacted, keys, okMeasures)
      val after = AggMaintenance.readView(spark, compacted, keys, okMeasures)
        .collect().map(_.toSeq).sortBy(_.toString)
      assert(after === before, "the compacted rollup reads identically")
    } finally {
      val p = new org.apache.hadoop.fs.Path(base.toString)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  test("aggregate join view: both scans and the join disappear, rows exact") {
    AggRewrite.clear()
    val ord = Tables.orders(spark, sfDir)
    ord.unpersist(true)
    def joinQ = li.join(ord, $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"), avg($"l_linenumber").as("a"),
        max($"l_quantity").as("mx"))
    val expected = joinQ.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .sortBy(_._1).toSeq
    // register the pre-joined rollup (finer: + l_linestatus)
    val mv = li.join(ord, $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderpriority", $"l_linestatus")
      .agg(count(lit(1)).as("n"), sum($"l_linenumber").as("sum_ln"),
        count($"l_linenumber").as("n_ln"), max($"l_quantity").as("max_qty"))
    val tmp = GraftSpec.tempDir("graft_joinmv_spec").toString
    mv.write.mode("overwrite").parquet(tmp)
    AggRewrite.registerJoin(srcPath, s"$sfDir/orders.parquet",
      AggRewrite.JoinMvSpec(spark.read.parquet(tmp),
        leftKey = "l_orderkey", rightKey = "o_orderkey",
        groupCols = Seq("o_orderpriority", "l_linestatus"),
        measures = Map("n" -> (("count", "")), "sum_ln" -> (("sum", "l_linenumber")),
          "n_ln" -> (("count", "l_linenumber")), "max_qty" -> (("max", "l_quantity"))),
        mvPath = Some(tmp)))
    spark.experimental.extraOptimizations = Seq(AggRewrite)
    try {
      val df = joinQ
      val plan = df.queryExecution.optimizedPlan
      assert(!scansPath(df, srcPath) && !scansPath(df, s"$sfDir/orders.parquet"),
        "neither source table is scanned")
      assert(plan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }.isEmpty, "the join itself is eliminated")
      val got = df.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
        .sortBy(_._1).toSeq
      assert(got === expected, "the join view must not change any value")
      // a join on DIFFERENT keys is a different view: keep the exact plan
      val wrongKeys = li.join(ord, $"l_partkey" === $"o_orderkey")
        .groupBy($"o_orderpriority").agg(count(lit(1)).as("n"))
      assert(scansPath(wrongKeys, srcPath),
        "a non-declared equi-join must keep the exact plan")
      // a WHERE over the join is pushed below it by the optimizer and
      // lands above a scan as a non-IsNotNull filter — the view must
      // decline (exact plan, correct rows)
      val filteredJoin = li.join(ord, $"l_orderkey" === $"o_orderkey")
        .filter($"l_linestatus" === "F")
        .groupBy($"o_orderpriority").agg(count(lit(1)).as("n"))
      assert(scansPath(filteredJoin, srcPath),
        "a pushed-down metadata predicate must keep the exact join plan")
      assert(filteredJoin.agg(sum($"n")).head().getLong(0) ===
        li.filter($"l_linestatus" === "F").count(),
        "the declined plan still returns the correct totals")
    } finally {
      spark.experimental.extraOptimizations = Nil
      AggRewrite.clear()
    }
  }

  test("ungrouped COUNT over an empty selection: 0 through the MV, never NULL") {
    AggRewrite.clear()
    registerMv()
    spark.experimental.extraOptimizations = Seq(AggRewrite)
    try {
      // key-only predicate matching NO MV rows: SUM over the empty
      // selection is NULL where COUNT is 0 — the ADVICE r17 high bug;
      // COALESCE in the remap closes it
      def q = li.filter($"l_linestatus" === "Z").agg(count(lit(1)).as("n"))
      assert(!scansLineitem(q), "the ungrouped COUNT is answered from the MV")
      val row = q.head()
      assert(!row.isNullAt(0) && row.getLong(0) === 0L,
        "COUNT(*) over an empty selection must be 0, not NULL")
      // and a NON-empty ungrouped count stays exact
      def q2 = li.agg(count(lit(1)).as("n"))
      assert(!scansLineitem(q2))
      AggRewrite.clear()
      val exact = q2.head().getLong(0) // fresh plan: registry now empty
      registerMv()
      assert(q2.head().getLong(0) === exact)
    } finally {
      spark.experimental.extraOptimizations = Nil
      AggRewrite.clear()
    }
  }

  test("COUNT(col) re-aggregates from the per-column count; AVG requires it on a nullable column") {
    AggRewrite.clear()
    def cntQ = li.groupBy($"l_returnflag").agg(count($"l_orderkey").as("c"))
    def avgQ = li.groupBy($"l_returnflag").agg(avg($"l_orderkey").as("a"))
    val expectedCnt = cntQ.collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    registerMv(withColCount = false)
    spark.experimental.extraOptimizations = Seq(AggRewrite)
    try {
      // a parquet column is nullable to the analyzer: without the
      // per-column count there is no exact NULL-ignoring denominator —
      // AVG and COUNT(col) must keep the fact scan (ADVICE r17 medium:
      // the COUNT(*) stand-in silently mis-averages NULL-bearing data)
      assert(scansLineitem(avgQ),
        "AVG without a per-column count measure must keep the exact plan")
      assert(scansLineitem(cntQ),
        "COUNT(col) without a per-column count measure must keep the exact plan")
      AggRewrite.clear()
      registerMv(withColCount = true)
      assert(!scansLineitem(avgQ), "with count(x) registered, AVG decomposes")
      assert(!scansLineitem(cntQ), "with count(x) registered, COUNT(x) re-aggregates")
      val gotCnt = cntQ.collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
      assert(gotCnt.toSeq === expectedCnt.toSeq)
    } finally {
      spark.experimental.extraOptimizations = Nil
      AggRewrite.clear()
    }
  }

  test("HAVING above the Aggregate: measure predicate re-binds to the rewritten output") {
    AggRewrite.clear()
    // parity of the count — the most bit-sensitive membership predicate
    def q = li.groupBy($"l_returnflag", $"l_linestatus")
      .agg(count(lit(1)).as("n"), max($"l_quantity").as("mx"))
      .filter($"n" % 2 === 1)
    val expected = q.collect().map(r => (r.getString(0), r.getString(1),
      r.getLong(2), r.getDouble(3))).sortBy(t => (t._1, t._2)).toSeq
    registerMv()
    spark.experimental.extraOptimizations = Seq(AggRewrite)
    try {
      assert(!scansLineitem(q),
        "a measure-referencing HAVING sits ABOVE the Aggregate — the rewrite " +
          "underneath must still fire (output exprIds preserved)")
      val got = q.collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getDouble(3))).sortBy(t => (t._1, t._2)).toSeq
      assert(got === expected, "the HAVING filter must see identical measures")
      // HAVING over a NON-re-aggregable measure: the Aggregate itself
      // declines (double SUM), so the whole shape keeps the exact plan
      def bad = li.groupBy($"l_returnflag").agg(sum($"l_quantity").as("sq"))
        .filter($"sq" > 0.0)
      assert(scansLineitem(bad),
        "a HAVING whose aggregate can't be remapped keeps the exact fact scan")
      assert(bad.count() > 0, "and the exact plan still answers it")
    } finally {
      spark.experimental.extraOptimizations = Nil
      AggRewrite.clear()
    }
  }

  test("two Aggregates in one plan: a DataFrame-backed MV splices exactly once") {
    AggRewrite.clear()
    def a = li.groupBy($"l_returnflag").agg(count(lit(1)).as("na"))
    def b = li.groupBy($"l_linestatus").agg(count(lit(1)).as("nb"))
    def both = a.crossJoin(b)
    val expected = both.collect().map(r => (r.getString(0), r.getLong(1),
      r.getString(2), r.getLong(3))).sortBy(t => (t._1, t._3)).toSeq
    registerMv(pathBacked = false) // DataFrame-backed: one analyzed subtree
    spark.experimental.extraOptimizations = Seq(AggRewrite)
    try {
      val df = both
      // exactly ONE side may splice the shared analyzed MV subtree —
      // the second would duplicate its exprIds (ADVICE r17); the other
      // side keeps the exact fact scan
      val plan = df.queryExecution.optimizedPlan
      val mvLeafCount = plan.collectLeaves().count {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation match {
            case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              !h.location.rootPaths.exists(_.toUri.getPath ==
                new org.apache.hadoop.fs.Path(srcPath).toUri.getPath)
            case _ => false
          }
        case _ => false
      }
      assert(mvLeafCount <= 1, "the DataFrame-backed MV subtree appears at most once")
      assert(scansLineitem(df), "the second Aggregate keeps the exact fact scan")
      val got = df.collect().map(r => (r.getString(0), r.getLong(1),
        r.getString(2), r.getLong(3))).sortBy(t => (t._1, t._3)).toSeq
      assert(got === expected, "the guarded plan still returns exact rows")
    } finally {
      spark.experimental.extraOptimizations = Nil
      AggRewrite.clear()
    }
  }

  test("MV lattice: the smallest qualifying MV answers; unqualifying coarse MVs are skipped") {
    AggRewrite.clear()
    val fineTmp = registerMv() // 3-key, ~42 rows
    // a COARSER sibling on the same path: returnflag only, ~3 rows
    val coarse = li.groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"), max($"l_quantity").as("max_qty"))
    val coarseTmp = GraftSpec.tempDir("graft_aggmv_coarse_spec").toString
    coarse.write.mode("overwrite").parquet(coarseTmp)
    AggRewrite.register(srcPath, AggRewrite.MvSpec(spark.read.parquet(coarseTmp),
      groupCols = Seq("l_returnflag"),
      measures = Map("n" -> (("count", "")), "max_qty" -> (("max", "l_quantity"))),
      mvPath = Some(coarseTmp)))
    spark.experimental.extraOptimizations = Seq(AggRewrite)
    try {
      // returnflag-only query: BOTH MVs qualify — the ~3-row one wins
      def flagQ = li.groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n"), max($"l_quantity").as("mx"))
      assert(!scansLineitem(flagQ))
      assert(graft.plans.PlannerPin.scansPath(
        flagQ.queryExecution.optimizedPlan, coarseTmp),
        "the SMALLEST qualifying MV answers the query")
      // a query needing the finer keys: the coarse MV is skipped, the
      // 3-key MV still fires (the lattice skip path, never a decline)
      def fineQ = li.groupBy($"l_returnflag", $"l_linestatus")
        .agg(count(lit(1)).as("n"))
      assert(!scansLineitem(fineQ))
      assert(graft.plans.PlannerPin.scansPath(
        fineQ.queryExecution.optimizedPlan, fineTmp),
        "a coarse MV missing the query's keys is skipped, not wrong")
      // values exact through the chosen coarse MV
      AggRewrite.clear()
      val exact = flagQ.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .sortBy(_._1).toSeq
      registerMv()
      AggRewrite.register(srcPath, AggRewrite.MvSpec(spark.read.parquet(coarseTmp),
        groupCols = Seq("l_returnflag"),
        measures = Map("n" -> (("count", "")), "max_qty" -> (("max", "l_quantity"))),
        mvPath = Some(coarseTmp)))
      val got = flagQ.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .sortBy(_._1).toSeq
      assert(got === exact, "the lattice choice must not change any value")
    } finally {
      spark.experimental.extraOptimizations = Nil
      AggRewrite.clear()
    }
  }

  test("COUNT(DISTINCT key) re-aggregates from the MV's key set; non-key DISTINCT declines") {
    AggRewrite.clear()
    def q = li.groupBy($"l_returnflag")
      .agg(countDistinct($"l_linestatus").as("nd"), count(lit(1)).as("n"))
    val expected = q.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    registerMv()
    spark.experimental.extraOptimizations = Seq(AggRewrite)
    try {
      assert(!scansLineitem(q),
        "COUNT(DISTINCT <MV grouping key>) is answered from the MV")
      val got = q.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq
      assert(got === expected,
        "the MV holds every distinct key combination — counts must be exact")
      // DISTINCT over a NON-key column is not derivable from the rollup
      def bad = li.groupBy($"l_returnflag")
        .agg(countDistinct($"l_orderkey").as("nd"))
      assert(scansLineitem(bad),
        "COUNT(DISTINCT <measure column>) must keep the exact fact scan")
    } finally {
      spark.experimental.extraOptimizations = Nil
      AggRewrite.clear()
    }
  }

  test("source files mutated after registration: the MV self-heals stale") {
    AggRewrite.clear()
    // private source copy so the mutation cannot disturb other suites
    val base = GraftSpec.tempDir("graft_aggmv_stale")
    val srcCopy = base.resolve("lineitem.parquet").toString
    try {
      li.limit(200).write.parquet(srcCopy)
      val src = spark.read.parquet(srcCopy)
      val mv = src.groupBy($"l_returnflag", $"l_linestatus", $"l_linenumber")
        .agg(count(lit(1)).as("n"))
      val mvDir = base.resolve("mv").toString
      mv.write.mode("overwrite").parquet(mvDir)
      AggRewrite.register(srcCopy, AggRewrite.MvSpec(spark.read.parquet(mvDir),
        groupCols = Seq("l_returnflag", "l_linestatus", "l_linenumber"),
        measures = Map("n" -> (("count", ""))), mvPath = Some(mvDir)))
      spark.conf.set("spark.graft.staleness.intervalMs", "0")
      spark.experimental.extraOptimizations = Seq(AggRewrite)
      def q = spark.read.parquet(srcCopy).groupBy($"l_returnflag").agg(count(lit(1)).as("n"))
      assert(!scansPath(q, srcCopy), "fresh registration fires")
      // mutate the source: append more rows (new files in the listing)
      li.limit(50).write.mode("append").parquet(srcCopy)
      val beforeDrop = AggRewrite.droppedStale.get()
      val after = q
      assert(scansPath(after, srcCopy),
        "a stale MV must be dropped — the query scans the (new) facts")
      assert(AggRewrite.droppedStale.get() > beforeDrop)
      // and the exact plan sees the appended rows
      assert(after.agg(sum($"n")).head().getLong(0) === 250L)
    } finally {
      spark.conf.unset("spark.graft.staleness.intervalMs")
      spark.experimental.extraOptimizations = Nil
      AggRewrite.clear()
      val p = new org.apache.hadoop.fs.Path(base.toString)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }
}
