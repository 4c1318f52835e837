package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Distinct 64-bit hashes of word n-gram shingles, as ONE native
  * expression evaluation per row.
  *
  * The composable form — `array_distinct(transform(shingles(...),
  * xxhash64))` built from `sequence`/`element_at`/`concat_ws` lambdas —
  * evaluates interpreted expression trees per shingle position
  * (measured ~40µs/shingle, 10s per pass over 5k docs; and self-joins
  * evaluate it once per side). This expression does the same work in
  * plain JVM code: split, roll an FNV-1a 64 hash per n-gram, dedupe.
  * Hash identity differs from xxhash64, which is immaterial: every
  * consumer (Jaccard set sizes, MinHash permutations) only needs a
  * deterministic, well-mixed 64-bit hash; set *cardinalities* — what the
  * SQL oracle checks — are preserved (collision odds ~n²/2^64).
  *
  * CodegenFallback is deliberate: one virtual call per row around a tight
  * loop beats inlined-but-interpreted lambda trees by ~100×.
  */
case class HashedShinglesExpr(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val text = input.asInstanceOf[UTF8String].toString
    val toks = text.trim match {
      case "" => Array.empty[String]
      case t  => t.split(TextFunctions.wsPattern)
    }
    if (toks.length < n) return new GenericArrayData(Array.empty[Long])
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var i = 0
    while (i <= toks.length - n) {
      // FNV-1a 64 over the n tokens, ''-separated (distinct
      // token boundaries, same as hashing "tok1 tok2 tok3")
      var h = 0xcbf29ce484222325L
      var j = 0
      while (j < n) {
        if (j > 0) { h ^= 0x01L; h *= 0x100000001b3L }
        val s = toks(i + j)
        var k = 0
        while (k < s.length) {
          h ^= s.charAt(k).toLong
          h *= 0x100000001b3L
          k += 1
        }
        j += 1
      }
      seen.add(h)
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next(); o += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** POSITIONAL variant: element i is the FNV-1a 64 hash of the n-gram
  * starting at token i — NOT de-duplicated, so `posexplode` recovers
  * (position, shingle-hash) pairs for span-level consumers
  * (corpus_dup_spans' gaps-and-islands needs the position). Same hash,
  * same tokenization, same collision argument as [[HashedShinglesExpr]]:
  * every consumer only needs df counts over a well-mixed 64-bit space,
  * so the string-shingle DuckDB oracle still matches (collisions
  * ~n²/2⁶⁴). Docs with < n tokens yield an empty array.
  */
case class HashedShinglePositionsExpr(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val text = input.asInstanceOf[UTF8String].toString
    val toks = text.trim match {
      case "" => Array.empty[String]
      case t  => t.split(TextFunctions.wsPattern)
    }
    if (toks.length < n) return new GenericArrayData(Array.empty[Long])
    val out = new Array[Long](toks.length - n + 1)
    var i = 0
    while (i <= toks.length - n) {
      var h = 0xcbf29ce484222325L
      var j = 0
      while (j < n) {
        if (j > 0) { h ^= 0x01L; h *= 0x100000001b3L }
        val s = toks(i + j)
        var k = 0
        while (k < s.length) {
          h ^= s.charAt(k).toLong
          h *= 0x100000001b3L
          k += 1
        }
        j += 1
      }
      out(i) = h
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object HashedShingles {
  /** Idempotently register graft_shingles(text, n) /
    * graft_shingle_pos(text, n); the Column builders are below.
    */
  def ensureRegistered(spark: SparkSession): Unit = {
    SessionFunctions.ensure(spark, "graft_shingles")(exprs =>
      HashedShinglesExpr(exprs(0), exprs(1).eval(null).asInstanceOf[Number].intValue()))
    SessionFunctions.ensure(spark, "graft_shingle_pos")(exprs =>
      HashedShinglePositionsExpr(exprs(0), exprs(1).eval(null).asInstanceOf[Number].intValue()))
  }

  def apply(text: Column, n: Int): Column =
    call_function("graft_shingles", text, org.apache.spark.sql.functions.lit(n))

  def positions(text: Column, n: Int): Column =
    call_function("graft_shingle_pos", text, org.apache.spark.sql.functions.lit(n))
}
