package graft.search

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType}

import graft.functions.SessionFunctions

/** Deterministic random-projection LSH for L2 — the engine-portable ANN
  * variant: projection signs are ±1 derived from SplitMix64 of the
  * (table, dim) index, so the entire index — buckets included — is a
  * pure function of the data, reproducible in any engine (the DuckDB
  * oracle re-derives it; MLlib's [[LshIndex]] is seeded but its RNG
  * stream is JVM-internal, hence rows-only checks).
  *
  * Family: h_t(v) = floor(<v, r_t> / w) with r_t ∈ {±1}^d. Rademacher
  * projections concentrate like gaussians (Achlioptas 2003, "Database-
  * friendly random projections" — the standard sparse/sign JL variant),
  * and a power-of-two w keeps the division exact in IEEE, so bucket
  * boundaries cannot diverge between engines.
  *
  * Scale shape: bucketing is a narrow per-row projection (codegen'd
  * left-deep add chain, no shuffle); search joins the tiny bucketized
  * query side to the bucketized collection on (table, bucket) — an
  * equi-join, never a cross join — then ranks candidates exactly.
  */
object RpLsh {

  private def splitmix64(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** ±1 sign of projection table `t`, dimension `i` (0-based). */
  def sign(t: Int, i: Int): Double =
    if ((splitmix64(t * 1000003L + i) & 1L) == 0L) 1.0 else -1.0

  /** All signs of table `t` for a `dim`-dimensional space. */
  def signs(t: Int, dim: Int): Seq[Double] = (0 until dim).map(sign(t, _))

  /** Register graft_rplsh_buckets(vec, numTables, dim, w) and
    * graft_rp_sign_bands(vec, bands, bitsPerBand, dim).
    */
  def ensureRegistered(spark: SparkSession): Unit = {
    SessionFunctions.ensure(spark, "graft_rplsh_buckets")(exprs =>
      RpBucketsExpr(exprs(0),
        exprs(1).eval(null).asInstanceOf[Number].intValue(),
        exprs(2).eval(null).asInstanceOf[Number].intValue(),
        exprs(3).eval(null).asInstanceOf[Number].doubleValue()))
    SessionFunctions.ensure(spark, "graft_rp_sign_bands")(exprs =>
      SignBandsExpr(exprs(0),
        exprs(1).eval(null).asInstanceOf[Number].intValue(),
        exprs(2).eval(null).asInstanceOf[Number].intValue(),
        exprs(3).eval(null).asInstanceOf[Number].intValue()))
  }

  /** All `numTables` bucket ids of `vec` as one array column. */
  def buckets(vec: Column, numTables: Int, dim: Int, w: Double): Column =
    call_function("graft_rplsh_buckets", vec, lit(numTables), lit(dim), lit(w))

  /** All `bands` sign-band keys of `vec` as one array column: key of band
    * B packs the `bitsPerBand` hyperplane signs of projections
    * t = B·bitsPerBand .. B·bitsPerBand + bitsPerBand - 1 (same
    * SplitMix64 ±1 family as [[buckets]]).
    */
  def signBands(vec: Column, bands: Int, bitsPerBand: Int, dim: Int): Column =
    call_function("graft_rp_sign_bands", vec, lit(bands), lit(bitsPerBand), lit(dim))

  /** One row per (id, table, bucket). `w` MUST be a power of two so the
    * division is exact (bucket parity across engines).
    */
  def bucketize(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      numTables: Int,
      dim: Int,
      w: Double): DataFrame = {
    require(w > 0 && (math.log(w) / math.log(2)).isWhole, s"w must be a power of two, got $w")
    ensureRegistered(df.sparkSession)
    // One narrow native expression per row (tight T×dim loop), then a
    // posexplode of the small bucket array. The expression-tree form
    // ((0 until dim).map(element_at × sign).reduce(_+_), one tree per
    // table) put ~512 nodes under Generate/Sort codegen — janino method
    // overflow → whole-stage interpreted fallback, plus seconds of
    // driver-side analysis per query.
    df.select(col(idCol), col(vecCol),
        posexplode(buckets(col(vecCol), numTables, dim, w)).as(Seq("t", "bkt")))
  }

  /** ANN top-k: bucket-join candidates on (table, bucket), dedupe, exact
    * L2 rank with (dist, id) tie-break. Queries with fewer than k
    * candidates return fewer rows (the reference behaves the same when a
    * collection holds < k docs).
    */
  def topK(
      queries: DataFrame, // (qid, qemb)
      collection: DataFrame, // (idCol, embCol)
      k: Int,
      numTables: Int,
      dim: Int,
      w: Double,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    graft.functions.VectorExpressions.ensureRegistered(queries.sparkSession)
    val qb = bucketize(queries, "qid", "qemb", numTables, dim, w)
    val cb = bucketize(collection, idCol, embCol, numTables, dim, w)
    val cand = broadcast(qb).join(cb, Seq("t", "bkt"))
      .select(col("qid"), col("qemb"), col(idCol), col(embCol))
      .dropDuplicates("qid", idCol)
    val wK = Window.partitionBy(col("qid")).orderBy(col("dist").asc, col(idCol).asc)
    cand
      .withColumn("dist", sqrt(graft.functions.VectorExpressions.l2Sq(col("qemb"), col(embCol))))
      .withColumn("rk", row_number().over(wK))
      .filter(col("rk") <= k)
      .select(col("qid"), col(idCol), col("rk").cast("long").as("rk"),
        round(col("dist"), 4).as("dist"))
  }
}

/** All RP-LSH bucket ids of one vector: bkt_t = floor(<v, r_t> / w),
  * computed as a tight per-row loop. Arithmetic parity with the DuckDB
  * oracle: float widened to double, left-to-right accumulation (≡ the
  * oracle's list_sum over list_transform), floor-then-truncate ≡
  * CAST(floor(x) AS BIGINT).
  */
case class RpBucketsExpr(child: Expression, numTables: Int, dim: Int, w: Double)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  // nullSafeEval reads v.getFloat(i): on any other element type (e.g. an
  // UnsafeArrayData backed by doubles) that would silently misread 4 of
  // 8 bytes and corrupt every bucket — fail analysis instead.
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_rplsh_buckets requires array<float>, got ${other.catalogString}")
  }

  @transient private lazy val signsM: Array[Array[Double]] =
    Array.tabulate(numTables, dim)((t, i) => RpLsh.sign(t, i))

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    if (v.numElements() != dim) {
      throw new IllegalArgumentException(
        s"graft_rplsh_buckets: expected dim $dim, got ${v.numElements()}")
    }
    val out = new Array[Long](numTables)
    var t = 0
    while (t < numTables) {
      val s = signsM(t)
      var acc = 0.0
      var i = 0
      while (i < dim) { acc += v.getFloat(i).toDouble * s(i); i += 1 }
      out(t) = math.floor(acc / w).toLong
      t += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** All sign-band keys of one vector: band B's key packs `bitsPerBand`
  * hyperplane sign bits, bit j = [<v, r_{B·bitsPerBand+j}> >= 0] with the
  * same SplitMix64 ±1 projection family as [[RpBucketsExpr]]. This is
  * SimHash-for-embeddings (Charikar 2002, "Similarity estimation
  * techniques from rounding algorithms"): P(bit match) = 1 - θ/π, so a
  * band of r bits collides with probability (1-θ/π)^r and b bands give
  * candidate recall 1-(1-(1-θ/π)^r)^b.
  *
  * Arithmetic parity with the DuckDB oracle: float widened to double,
  * left-to-right accumulation (≡ list_sum over list_transform), then a
  * >= 0 comparison on the identical double — bits cannot diverge between
  * engines.
  */
case class SignBandsExpr(child: Expression, bands: Int, bitsPerBand: Int, dim: Int)
    extends UnaryExpression with CodegenFallback {
  require(bitsPerBand >= 1 && bitsPerBand <= 63, "bitsPerBand must be in [1, 63]")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_rp_sign_bands requires array<float>, got ${other.catalogString}")
  }

  @transient private lazy val signsM: Array[Array[Double]] =
    Array.tabulate(bands * bitsPerBand, dim)((t, i) => RpLsh.sign(t, i))

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    if (v.numElements() != dim) {
      throw new IllegalArgumentException(
        s"graft_rp_sign_bands: expected dim $dim, got ${v.numElements()}")
    }
    val out = new Array[Long](bands)
    var t = 0
    while (t < bands * bitsPerBand) {
      val s = signsM(t)
      var acc = 0.0
      var i = 0
      while (i < dim) { acc += v.getFloat(i).toDouble * s(i); i += 1 }
      if (acc >= 0.0) out(t / bitsPerBand) |= 1L << (t % bitsPerBand)
      t += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
