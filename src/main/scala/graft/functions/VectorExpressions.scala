package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Codegen'd vector distance expressions.
  *
  * Spark's higher-order functions (zip_with/aggregate) evaluate their
  * lambdas interpreted — fine once per row, ruinous once per *pair* in
  * kNN cross joins and near-dup self-joins (measured ~100µs/pair on
  * 64-dim vectors). These expressions compile to a tight primitive loop
  * inside whole-stage codegen.
  *
  * Arithmetic parity: identical operation order to the HOF versions and
  * the DuckDB oracle — widen each float to double, fold left. Same
  * doubles in, same doubles out.
  *
  * Mismatched vector lengths throw (fail loudly): silently folding over
  * min(len) would diverge from an oracle that indexes one side by the
  * other's range, and a ragged embedding column is always a data bug.
  */
abstract class FloatVecBinary extends BinaryExpression {
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType, _), ArrayType(FloatType, _)) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"${getClass.getSimpleName} requires array<float> inputs, got ${left.dataType} / ${right.dataType}")
  }

  protected final def checkedLength(fn: String, x: ArrayData, y: ArrayData): Int = {
    val n = x.numElements()
    if (n != y.numElements()) {
      throw new IllegalArgumentException(
        s"$fn: vector length mismatch ($n vs ${y.numElements()})")
    }
    n
  }

  /** Codegen guard: assign `$n`, throwing on ragged inputs. */
  protected final def lengthGuard(fn: String, n: String, a: String, b: String): String =
    s"""int $n = $a.numElements();
       |if ($n != $b.numElements()) {
       |  throw new IllegalArgumentException(
       |    "$fn: vector length mismatch (" + $n + " vs " + $b.numElements() + ")");
       |}""".stripMargin
}

/** Squared L2 distance: sum_i (a_i - b_i)^2; equal lengths required. */
case class FloatVecL2Sq(left: Expression, right: Expression) extends FloatVecBinary {
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = checkedLength("graft_l2sq", x, y)
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = x.getFloat(i).toDouble - y.getFloat(i).toDouble
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      s"""
         |${lengthGuard("graft_l2sq", n, a, b)}
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $d = (double) $a.getFloat($i) - (double) $b.getFloat($i);
         |  $acc += $d * $d;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

/** Dot product: sum_i a_i * b_i; equal lengths required. */
case class FloatVecDot(left: Expression, right: Expression) extends FloatVecBinary {
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = checkedLength("graft_dot", x, y)
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |${lengthGuard("graft_dot", n, a, b)}
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

/** Squared L2 over array<double> inputs — the fixed-point PQ training
  * path works in quantized integer-valued doubles (see [[graft.search.Pq]]),
  * where the float accessor would be a type error. Same left-fold order
  * as [[FloatVecL2Sq]]; inputs already double so no widening step.
  */
case class DoubleVecL2Sq(left: Expression, right: Expression) extends FloatVecBinary {
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"DoubleVecL2Sq requires array<double> inputs, got ${left.dataType} / ${right.dataType}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = checkedLength("graft_l2sq_d", x, y)
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = x.getDouble(i) - y.getDouble(i)
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      s"""
         |${lengthGuard("graft_l2sq_d", n, a, b)}
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $d = $a.getDouble($i) - $b.getDouble($i);
         |  $acc += $d * $d;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

/** Dot product over array<double> inputs — the learned-embedding
  * (Word2Vec) retrieval path works in doubles end-to-end (the float
  * accessor would be a type error). Same left-fold order as
  * [[FloatVecDot]] and as the DuckDB oracle's list_sum, so cross-engine
  * results are bit-identical.
  */
case class DoubleVecDot(left: Expression, right: Expression) extends FloatVecBinary {
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"DoubleVecDot requires array<double> inputs, got ${left.dataType} / ${right.dataType}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = checkedLength("graft_dot_d", x, y)
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |${lengthGuard("graft_dot_d", n, a, b)}
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

/** Registers a native expression under `name` in `spark`'s function
  * registry only when that session does not have it yet — the shared
  * step of every `ensureRegistered` here. Replacing an existing entry
  * would log a SimpleFunctionRegistry WARN on every call.
  */
private[graft] object SessionFunctions {
  def ensure(spark: SparkSession, name: String)(build: Seq[Expression] => Expression): Unit = {
    val registry = spark.sessionState.functionRegistry
    registry.synchronized {
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, build, "scala_udf")
    }
  }
}

/** Session registration + Column API for the codegen'd expressions. */
object VectorExpressions {
  /** Idempotently register graft_l2sq / graft_dot / graft_l2sq_d /
    * graft_dot_d in the session's function registry (also makes them
    * SQL-callable).
    */
  def ensureRegistered(spark: SparkSession): Unit = {
    SessionFunctions.ensure(spark, "graft_l2sq")(exprs => FloatVecL2Sq(exprs(0), exprs(1)))
    SessionFunctions.ensure(spark, "graft_dot")(exprs => FloatVecDot(exprs(0), exprs(1)))
    SessionFunctions.ensure(spark, "graft_l2sq_d")(exprs => DoubleVecL2Sq(exprs(0), exprs(1)))
    SessionFunctions.ensure(spark, "graft_dot_d")(exprs => DoubleVecDot(exprs(0), exprs(1)))
  }

  def l2Sq(a: Column, b: Column): Column = call_function("graft_l2sq", a, b)
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)
  def l2SqD(a: Column, b: Column): Column = call_function("graft_l2sq_d", a, b)
  def dotD(a: Column, b: Column): Column = call_function("graft_dot_d", a, b)
}
