package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Window => WindowNode}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{VectorExpressions, VectorFunctions}
import graft.index.VectorStore
import graft.model.Tables
import graft.plans.{AnnIndexRewrite, PlannerPin}
import graft.search.{Hnsw, IvfIndex, KnnExact}

/** Exact kNN's driver path — per-task bounded heaps merged on the driver
  * by `TopK` — against the `row_number` window it replaces: the same
  * rows, schema (nullability included) and score bits, under ties across
  * partitions, the -0.0 a negated orthogonal score gives, NaN scores,
  * String ids, an empty collection and k above the collection size; a
  * zero-norm cosine query fails on both alike. The window plan stays where the batch ANN rewrite
  * may fire on it and for a query side over the row bound.
  */
class TopKSpec extends GraftSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  // 4-d patterns: orthogonal axes (negated cosine and dot reach -0.0),
  // a mixed vector, an opposite one and one with a NaN (every score NaN)
  private val patterns: Array[Array[Float]] = Array(
    Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f), Array(0f, 0f, 1f, 0f),
    Array(1f, 1f, 0f, 0f), Array(-1f, 0f, 0f, 0f), Array(Float.NaN, 0f, 0f, 0f))

  /** 48 rows, every pattern under 8 ids spread over 4 parquet files:
    * every score ties 8 ways across partitions.
    */
  private lazy val collection: DataFrame = {
    val dir = GraftSpec.tempDir("graft_topk").resolve("coll").toString
    (0L until 48L).map(id => (id, patterns((id % 6).toInt), (id % 3).toInt))
      .toDF("vec_id", "embedding", "label")
      .repartition(4).write.parquet(dir)
    spark.read.parquet(dir)
  }

  /** A local query side: the x axis, a NaN vector and a mixed one. */
  private lazy val queries: DataFrame = Seq(
    (0L, Array(1f, 0f, 0f, 0f), 0), (1L, Array(Float.NaN, 1f, 0f, 0f), 1),
    (2L, Array(0.5f, 0.5f, 1f, 0f), 2)).toDF("qid", "qemb", "qlabel")

  /** The window top-k `KnnExact.topKBy` ranked with before its driver
    * path, kept here as the reference.
    */
  private def windowTopK(q: DataFrame, coll: DataFrame, k: Int, idCol: String,
      score: (Column, Column) => Column, scoreName: String,
      pairFilter: Column = lit(true)): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col(scoreName).asc, col(idCol).asc)
    broadcast(q).crossJoin(coll)
      .filter(pairFilter)
      .withColumn(scoreName, score(col("qemb"), col("embedding")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("qid"), col(idCol), col("rk"), col(scoreName))
  }

  private def negated(df: DataFrame, from: String, to: String): DataFrame =
    df.withColumn(to, -col(from)).drop(from)

  /** The four public forms with their window references. */
  private def forms(q: DataFrame, coll: DataFrame, k: Int): Seq[(String, DataFrame, DataFrame)] = {
    val cos: (Column, Column) => Column = (a, b) => -VectorFunctions.cosineFast(a, b)
    val where = col("label") =!= col("qlabel")
    Seq(
      ("topK", KnnExact.topK(q, coll, k),
        windowTopK(q, coll, k, "vec_id", (a, b) => VectorFunctions.l2Fast(a, b), "dist")),
      ("topKCosine", KnnExact.topKCosine(q, coll, k),
        negated(windowTopK(q, coll, k, "vec_id", cos, "negsim"), "negsim", "sim")),
      ("topKDot", KnnExact.topKDot(q, coll, k),
        negated(windowTopK(q, coll, k, "vec_id", (a, b) => -VectorExpressions.dot(a, b), "negip"),
          "negip", "ip")),
      ("topKCosineWhere", KnnExact.topKCosineWhere(q, coll, k, where),
        negated(windowTopK(q, coll, k, "vec_id", cos, "negsim", where), "negsim", "sim")))
  }

  /** Rows with every double as its raw bits, in (qid, rk) order. */
  private def bits(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case v => v
    }).sortBy(r => (r.head.asInstanceOf[Long], r(2).asInstanceOf[Int]))

  /** The answer is a local frame: it was ranked when it was built. */
  private def ranOnDriver(df: DataFrame): Boolean = {
    val plan = df.queryExecution.analyzed
    plan.collectLeaves().forall(_.isInstanceOf[LocalRelation]) &&
      plan.find(_.isInstanceOf[WindowNode]).isEmpty
  }

  /** Whether the executed plan (through AQE) ranks with a window. */
  private def windowed(df: DataFrame): Boolean =
    find(df.queryExecution.executedPlan)(_.isInstanceOf[WindowExec]).nonEmpty

  private def assertMatches(name: String, got: DataFrame, ref: DataFrame): Unit = {
    assert(ranOnDriver(got), s"$name: ranked on the driver")
    assert(got.schema === ref.schema, s"$name: schema")
    assert(bits(got) === bits(ref), s"$name: rows")
  }

  test("the driver path ranks like a row_number window: ties, -0.0, NaN, k above the size") {
    VectorExpressions.ensureRegistered(spark)
    for (k <- Seq(3, 100); (name, got, ref) <- forms(queries, collection, k))
      assertMatches(s"$name k=$k", got, ref)
    val cos = bits(KnnExact.topKCosine(queries, collection, 100))
    val ip = bits(KnnExact.topKDot(queries, collection, 100))
    assert(cos.size === 3 * 48, "k above the collection size ranks every row")
    def score(r: Seq[Any]): Double = java.lang.Double.longBitsToDouble(r(3).asInstanceOf[Long])
    // the x axis is orthogonal to patterns 1 and 2: their negated dot is
    // -0.0, a tie of 16 rows across partitions, ranked by id
    val orthogonal = ip.filter(r => r.head == 0L && score(r) == 0.0)
    assert(orthogonal.map(_(1)) === (0L until 48L).filter(id => Set(1L, 2L)(id % 6)))
    assert(orthogonal.map(_(2)) === (17 to 32), "the tie sits between ip = 1 and ip = -1")
    // the NaN query scores NaN everywhere: ranked by id alone
    val nan = cos.filter(_.head == 1L)
    assert(nan.forall(r => score(r).isNaN) && nan.map(_(1)) === (0L until 48L),
      "a NaN query ranks its NaN scores by id")
    // the NaN pattern ranks last for the other queries
    assert(cos.filter(_.head == 0L).takeRight(8).map(_(1).asInstanceOf[Long] % 6).toSet === Set(5L))
  }

  test("a zero-norm cosine query fails alike on both plans") {
    // cosine divides by the query norm, and ANSI division by zero raises
    VectorExpressions.ensureRegistered(spark)
    val zero = Seq((0L, Array(0f, 0f, 0f, 0f))).toDF("qid", "qemb")
    val cos: (Column, Column) => Column = (a, b) => -VectorFunctions.cosineFast(a, b)
    def condition(body: => Any): String =
      intercept[ArithmeticException](body).asInstanceOf[org.apache.spark.SparkThrowable].getCondition
    assert(condition(KnnExact.topKCosine(zero, collection, 3)) === "DIVIDE_BY_ZERO")
    assert(condition(windowTopK(zero, collection, 3, "vec_id", cos, "negsim").collect()) ===
      "DIVIDE_BY_ZERO")
  }

  test("the driver path answers an empty collection with the window's empty frame") {
    VectorExpressions.ensureRegistered(spark)
    val empty = collection.filter(col("vec_id") < 0)
    for ((name, got, ref) <- forms(queries, empty, 10)) {
      assertMatches(name, got, ref)
      assert(got.isEmpty, s"$name: no rows")
    }
  }

  test("VectorStore.query ranks String ids like the window") {
    VectorExpressions.ensureRegistered(spark)
    val store = new VectorStore(spark, GraftSpec.tempDir("graft_topk_store").toString)
    // ids p0..p29 under 5 patterns: ties sort by String order (p10 < p5)
    val rows = (0 until 30).map { i =>
      Row(s"p$i", s"doc $i", patterns(i % 5), Row(s"f$i.pdf", i, 100))
    }
    store.add("c", spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      graft.model.Schemas.collection))
    val q = queries.select("qid", "qemb")
    val got = store.query("c", q, k = 7)
    val coll = store.collection("c").select(col("id"), col("document"), col("embedding"))
    val ref = windowTopK(q, coll, 7, "id", (a, b) => VectorFunctions.l2Fast(a, b), "dist")
      .join(coll.select(col("id"), col("document")), Seq("id"))
      .select(col("qid"), col("rk"), col("id"), col("document"), col("dist"))
    assert(got.schema === ref.schema)
    def ranked(df: DataFrame) = df.collect().toSeq
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getString(3),
        java.lang.Double.doubleToRawLongBits(r.getDouble(4))))
      .sortBy(r => (r._1, r._2))
    val answer = ranked(got)
    assert(answer === ranked(ref))
    assert(answer.filter(_._1 == 0L).take(6).map(_._3) === Seq("p0", "p10", "p15", "p20", "p25", "p5"))
  }

  test("a one-row local query ranks in one job with no shuffle") {
    VectorExpressions.ensureRegistered(spark)
    val coll = collection
    val one = Seq((7L, Array(0.5f, 0.5f, 1f, 0f))).toDF("qid", "qemb")
    var answer = Array.empty[Row]
    val work = SparkWork.of(spark) { answer = KnnExact.topK(one, coll, 5).collect() }
    assert(answer.length === 5)
    assert(work.jobs === 1, s"one scoring job: $work")
    assert(work.shuffleReadBytes === 0L && work.shuffleWriteBytes === 0L, s"no shuffle: $work")
  }

  test("the window plan stays where the batch rewrite may fire and over the row bound") {
    VectorExpressions.ensureRegistered(spark)
    val srcPath = s"$sfDir/embeddings.parquet"
    val emb = Tables.embeddings(spark, sfDir)
    emb.unpersist(true)
    val q = emb.filter(col("vec_id") < 5).select(col("vec_id").as("qid"), col("embedding").as("qemb"))
    val cent = IvfIndex.seedCentroids(emb, 4)
    AnnIndexRewrite.register(srcPath, AnnIndexRewrite.IndexSpec(
      Hnsw.buildRoutedIndex(spark, emb, cent).localCheckpoint(true), cent,
      nprobe = 4, efSearch = 4096, exhaustiveProbe = true))
    spark.experimental.extraOptimizations = Seq(AnnIndexRewrite)
    try {
      val plain = KnnExact.topK(q, emb, 10)
      assert(ranOnDriver(plain), "an unmarked query under the scan-size gate ranks on the driver")
      val marked = KnnExact.topK(AnnIndexRewrite.batchOptIn(q), emb, 10)
      assert(windowed(marked), "the marked query keeps its window")
      assert(PlannerPin.annSpliced("vec_id")(marked.queryExecution.optimizedPlan),
        "the batch rewrite fires on the marked window")
      assert(bits(marked) === bits(plain), "both plans answer alike")
    } finally {
      spark.experimental.extraOptimizations = Nil
      AnnIndexRewrite.clear()
    }
    val many = spark.range(KnnExact.MaxDriverQueries + 1)
      .select(col("id").as("qid"), typedLit(Array(0.5f, 0.5f, 1f, 0f)).as("qemb"))
    val over = KnnExact.topK(many, collection, 2)
    assert(windowed(over), "a query side over the row bound keeps the window")
    assert(over.count() === 2L * (KnnExact.MaxDriverQueries + 1))
  }
}
