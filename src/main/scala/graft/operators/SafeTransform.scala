package graft.operators

import scala.reflect.runtime.universe.TypeTag
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions._

/** Error-tolerant row transforms — the reference's embedding fallback
  * semantics (create_collections.py:385-449): a batch encode failure
  * falls back to per-item encodes, failed items are dropped with their
  * ids logged, and list lengths are reconciled (cc:436-449).
  *
  * Spark-native shape (SURVEY.md §2.9 M2): the per-BATCH retry is
  * subsumed by task retries; the per-ITEM tolerance maps to null-out +
  * filter — a failed row becomes a null output row (never a failed
  * task), then F-style filters separate survivors from casualties. The
  * casualty side preserves the reference's failure bookkeeping.
  */
object SafeTransform {

  /** Wrap a fallible function: failures → null (task never dies). */
  def safeUdf[I: TypeTag, O: TypeTag](f: I => O): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((in: I) => try Option(f(in)) catch { case NonFatal(_) => None })

  /** Apply a fallible transform, returning (survivors, failedIds) —
    * the reconciliation step the reference does with index bookkeeping.
    */
  def applyWithCasualties[I: TypeTag, O: TypeTag](
      df: DataFrame,
      idCol: String,
      inCol: String,
      outCol: String,
      f: I => O): (DataFrame, DataFrame) = {
    val out = df.withColumn(outCol, safeUdf(f).apply(col(inCol)))
    (out.filter(col(outCol).isNotNull),
      out.filter(col(outCol).isNull).select(col(idCol)))
  }
}
