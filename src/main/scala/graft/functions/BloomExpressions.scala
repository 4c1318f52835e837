package graft.functions

import java.io.ByteArrayInputStream

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{BinaryType, BooleanType, DataType, LongType}
import org.apache.spark.util.sketch.BloomFilter

/** Codegen'd Bloom-filter membership probe over a serialized
  * `org.apache.spark.util.sketch.BloomFilter` (the sketch
  * `DataFrameStatFunctions.bloomFilter` builds distributedly).
  *
  * This is the DIY runtime-filter discipline for id-denylist joins at
  * corpus scale: when the denylist is too large to broadcast as a hash
  * relation, its Bloom bits (KBs–MBs at fpp 1-3%) still broadcast fine.
  * `might_contain = false` rows are definitively clean (no false
  * negatives) and skip the anti-join entirely; only the `true` rows —
  * true hits plus the fpp sliver — continue to the exact verify join, so
  * the shuffle carries O(|hits|) instead of O(|corpus|).
  *
  * The filter argument must be a foldable binary literal: it is
  * deserialized ONCE per executor (lazy transient val referenced from
  * generated code), never per row. Mirrors the shape of Spark's internal
  * `BloomFilterMightContain` (used by InjectRuntimeFilter), re-expressed
  * on the public sketch API for a user-supplied denylist.
  */
case class BloomMightContainLong(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = BooleanType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (LongType, BinaryType) if right.foldable => TypeCheckResult.TypeCheckSuccess
    case (LongType, BinaryType) => TypeCheckResult.TypeCheckFailure(
      "graft_bloom_contains requires a constant (foldable) serialized bloom filter")
    case _ => TypeCheckResult.TypeCheckFailure(
      s"graft_bloom_contains requires (bigint, binary), got ${left.dataType} / ${right.dataType}")
  }

  @transient private lazy val bloom: BloomFilter = {
    val bytes = right.eval(null).asInstanceOf[Array[Byte]]
    BloomFilter.readFrom(new ByteArrayInputStream(bytes))
  }

  override def nullSafeEval(v: Any, _bytes: Any): Any =
    bloom.mightContainLong(v.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bloomRef = ctx.addReferenceObj("graftBloom", bloom, classOf[BloomFilter].getName)
    // The right child is a foldable literal — its "evaluation" is a
    // constant reference; the deserialized sketch is the bloomRef object.
    nullSafeCodeGen(ctx, ev, (a, _) => s"${ev.value} = $bloomRef.mightContainLong($a);")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

/** Session registration + Column API + builder for the bloom probe. */
object BloomExpressions {

  def ensureRegistered(spark: SparkSession): Unit =
    SessionFunctions.ensure(spark, "graft_bloom_contains")(exprs =>
      BloomMightContainLong(exprs(0), exprs(1)))

  /** Probe column: `might_contain(key)` against serialized bloom bits. */
  def mightContain(key: Column, bloomBytes: Array[Byte]): Column =
    call_function("graft_bloom_contains", key, org.apache.spark.sql.functions.lit(bloomBytes))

  /** Serialize a sketch for embedding as a literal. */
  def serialize(bf: BloomFilter): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    bf.writeTo(out)
    out.toByteArray
  }
}
