package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native single-pass text expressions for per-row hot paths where the
  * composable HOF forms (explode + wide aggregation, or per-token
  * interpreted lambdas) dominate runtime. Same observable semantics as
  * the composable forms; see each expression's parity note.
  */
object TextExpressions {

  private[functions] def splitTokens(input: Any): Array[String] = {
    val t = input.asInstanceOf[UTF8String].toString.trim
    if (t.isEmpty) Array.empty[String] else t.split(TextFunctions.wsPattern)
  }

  private[functions] def fnv1a64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var k = 0
    while (k < s.length) {
      h ^= s.charAt(k).toLong
      h *= 0x100000001b3L
      k += 1
    }
    h
  }

  /** Idempotently register graft_simhash64 / graft_lang_id /
    * graft_word_ngrams in the session's function registry.
    */
  def ensureRegistered(spark: SparkSession): Unit = {
    SessionFunctions.ensure(spark, "graft_simhash64")(exprs => SimHash64Expr(exprs(0)))
    SessionFunctions.ensure(spark, "graft_lang_id")(exprs => LangIdExpr(exprs(0)))
    SessionFunctions.ensure(spark, "graft_word_ngrams")(exprs =>
      WordNgramsExpr(exprs(0), exprs(1).eval(null).asInstanceOf[Number].intValue()))
  }

  def simHash64(c: Column): Column = call_function("graft_simhash64", c)
  def langId(c: Column): Column = call_function("graft_lang_id", c)
  def wordNgrams(c: Column, n: Int): Column =
    call_function("graft_word_ngrams", c, org.apache.spark.sql.functions.lit(n))
  def wordBigrams(c: Column): Column = wordNgrams(c, 2)
}

/** All word n-grams (NON-distinct, in order) of whitespace tokens — the
  * frequency-counting sibling of TextFunctions.wordShingles (which is
  * distinct, for set Jaccard). One tight loop per row replaces an
  * interpreted transform/element_at lambda per n-gram (~10× on corpus
  * n-gram counting). Tokenization matches TextFunctions.tokens /
  * toksSql: trim, explicit-whitespace-class split, empty → [].
  */
case class WordNgramsExpr(child: Expression, n: Int) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(StringType, containsNull = false)
  override def nullSafeEval(input: Any): Any = {
    val toks = TextExpressions.splitTokens(input)
    val m = toks.length - n + 1
    if (m <= 0) new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    else {
      val out = new Array[Any](m)
      var i = 0
      while (i < m) {
        val sb = new java.lang.StringBuilder(toks(i))
        var j = 1
        while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
        out(i) = UTF8String.fromString(sb.toString)
        i += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** 64-bit SimHash of whitespace tokens in one pass: per token a 64-bit
  * hash votes ±1 on each bit; the signature packs the vote signs.
  * Replaces explode + 64-column aggregation + repack (one shuffle per
  * call) with a narrow per-row computation.
  */
case class SimHash64Expr(child: Expression) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any = {
    val toks = TextExpressions.splitTokens(input)
    val votes = new Array[Int](64)
    var i = 0
    while (i < toks.length) {
      val h = TextExpressions.fnv1a64(toks(i))
      var j = 0
      while (j < 64) {
        if (((h >>> j) & 1L) != 0L) votes(j) += 1 else votes(j) -= 1
        j += 1
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < 64) {
      if (votes(j) > 0) sig |= (1L << j)
      j += 1
    }
    sig
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Language-ID heuristic in one pass. Semantics mirror the SQL oracle
  * exactly: hits(lang) = token occurrences (with multiplicity) in that
  * language's stopword list; prediction = max hits with alphabetical
  * tie-break; zero hits everywhere → "und".
  */
case class LangIdExpr(child: Expression) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType

  // sorted by language code => first max scan wins alphabetical ties
  private lazy val profiles: Array[(String, java.util.HashSet[String])] =
    graft.textual.TextAnalysis.stopwords.sortBy(_._1).map { case (lang, words) =>
      val s = new java.util.HashSet[String]()
      words.foreach(s.add)
      (lang, s)
    }.toArray

  override def nullSafeEval(input: Any): Any = {
    val toks = TextExpressions.splitTokens(input)
    var bestLang: String = "und"
    var bestHits = 0
    var li = 0
    while (li < profiles.length) {
      val (lang, set) = profiles(li)
      var hits = 0
      var i = 0
      while (i < toks.length) {
        if (set.contains(toks(i))) hits += 1
        i += 1
      }
      if (hits > bestHits) { bestHits = hits; bestLang = lang }
      li += 1
    }
    UTF8String.fromString(bestLang)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
