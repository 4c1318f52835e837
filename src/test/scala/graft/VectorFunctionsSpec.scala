package graft

import org.apache.spark.sql.functions._

import graft.functions.{VectorExpressions, VectorFunctions}

class VectorFunctionsSpec extends GraftSpec {
  import spark.implicits._

  private def one(c: org.apache.spark.sql.Column): Double = {
    VectorExpressions.ensureRegistered(spark)
    Seq(1).toDF("x").select(c.as("v")).head().getDouble(0)
  }

  private val a = typedLit(Array(1.0f, 2.0f, 3.0f))
  private val b = typedLit(Array(4.0f, 6.0f, 8.0f))

  test("ensureRegistered is idempotent: a second call replaces no registered function") {
    // re-registering on every call replaced each builder and logged a
    // SimpleFunctionRegistry WARN per function per request
    graft.functions.VectorExpressions.ensureRegistered(spark)
    graft.functions.HashedShingles.ensureRegistered(spark)
    graft.functions.TextExpressions.ensureRegistered(spark)
    graft.functions.BloomExpressions.ensureRegistered(spark)
    graft.search.RpLsh.ensureRegistered(spark)
    val registry = spark.sessionState.functionRegistry
    val names = Seq("graft_l2sq", "graft_dot", "graft_l2sq_d", "graft_dot_d", "graft_shingles",
      "graft_shingle_pos", "graft_simhash64", "graft_lang_id", "graft_word_ngrams",
      "graft_bloom_contains", "graft_rplsh_buckets", "graft_rp_sign_bands")
    // each registration stores a fresh ExpressionInfo, so identity shows
    // whether an entry was replaced
    def infos = names.map(n =>
      registry.lookupFunction(org.apache.spark.sql.catalyst.FunctionIdentifier(n)))
    val before = infos
    assert(before.forall(_.isDefined))
    graft.functions.VectorExpressions.ensureRegistered(spark)
    graft.functions.HashedShingles.ensureRegistered(spark)
    graft.functions.TextExpressions.ensureRegistered(spark)
    graft.functions.BloomExpressions.ensureRegistered(spark)
    graft.search.RpLsh.ensureRegistered(spark)
    infos.zip(before).zip(names).foreach { case ((after, was), n) =>
      assert(after.get eq was.get, s"$n was re-registered")
    }
  }

  test("l2 distance matches hand computation") {
    // (3^2 + 4^2 + 5^2) = 50
    assert(math.abs(one(VectorFunctions.l2(a, b)) - math.sqrt(50.0)) < 1e-12)
  }

  test("dot and cosine match hand computation") {
    assert(one(VectorFunctions.dot(a, b)) === 4.0 + 12.0 + 24.0)
    val exp = 40.0 / (math.sqrt(14.0) * math.sqrt(116.0))
    assert(math.abs(one(VectorFunctions.cosine(a, b)) - exp) < 1e-12)
  }

  test("codegen fast paths are bit-identical to HOF versions") {
    assert(one(VectorFunctions.l2Fast(a, b)) === one(VectorFunctions.l2(a, b)))
    assert(one(VectorFunctions.cosineFast(a, b)) === one(VectorFunctions.cosine(a, b)))
  }

  test("fast paths agree with HOF on real embeddings (all rows)") {
    VectorExpressions.ensureRegistered(spark)
    val emb = model.Tables.embeddings(spark, sfDir)
    val q = emb.filter($"vec_id" === 0).select($"embedding".as("qemb"))
    val n = emb.crossJoin(q)
      .select(
        VectorFunctions.l2($"qemb", $"embedding").as("hof"),
        VectorFunctions.l2Fast($"qemb", $"embedding").as("fast"))
      .filter($"hof" =!= $"fast")
      .count()
    assert(n === 0L)
  }

  test("l2 is symmetric and zero on self") {
    assert(one(VectorFunctions.l2Fast(a, b)) === one(VectorFunctions.l2Fast(b, a)))
    assert(one(VectorFunctions.l2Fast(a, a)) === 0.0)
  }
  test("graft_dot_d: double-array dot matches the manual fold, codegen and interpreted") {
    VectorExpressions.ensureRegistered(spark)
    val rows = Seq(
      (Array(1.0, 2.0, 3.0), Array(0.5, -1.0, 2.0)),
      (Array(0.0, 0.0, 0.0), Array(1.0, 1.0, 1.0)),
      (Array(1e-9, -1e9, 3.25), Array(7.125, 2.0, -0.5))).toDF("a", "b")
    val got = rows.select(VectorExpressions.dotD($"a", $"b")).collect().map(_.getDouble(0))
    val want = Seq(1.0 * 0.5 + 2.0 * -1.0 + 3.0 * 2.0, 0.0,
      1e-9 * 7.125 + -1e9 * 2.0 + 3.25 * -0.5)
    assert(got.toSeq === want)
  }

}
