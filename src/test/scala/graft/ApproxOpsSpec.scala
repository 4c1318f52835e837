package graft

import org.apache.spark.sql.functions._

import graft.model.Tables
import graft.operators.{ApproxOps, Maintenance}

class ApproxOpsSpec extends GraftSpec {
  import spark.implicits._

  private lazy val events = Tables.events(spark, sfDir).cache()

  test("approx distinct within rsd bounds of the exact count") {
    val approx = ApproxOps.approxDistinct(events, Seq("event_type"), "user_id", rsd = 0.02)
      .withColumnRenamed("approx_distinct_user_id", "a")
    val exact = events.groupBy($"event_type").agg(count_distinct($"user_id").as("e"))
    val joined = approx.join(exact, "event_type")
      .select($"event_type", $"a", $"e").collect()
    joined.foreach { r =>
      val (a, e) = (r.getLong(1).toDouble, r.getLong(2).toDouble)
      assert(math.abs(a - e) <= math.max(1.0, 0.1 * e), s"${r.getString(0)}: $a vs $e")
    }
  }

  test("approx quantiles bracket the exact percentiles") {
    val Seq(q25, q50, q75) = events
      .agg(ApproxOps.approxQuantiles(events, "value", Seq(0.25, 0.5, 0.75)))
      .head().getSeq[Double](0).toSeq
    assert(q25 <= q50 && q50 <= q75)
    val exactMedian = events.agg(expr("percentile(value, 0.5)")).head().getDouble(0)
    val spread = events.agg(max($"value") - min($"value")).head().getDouble(0)
    assert(math.abs(q50 - exactMedian) <= 0.05 * spread, s"$q50 vs $exactMedian")
  }

  test("hash sample is deterministic and near the target fraction") {
    val s1 = ApproxOps.hashSample(events, "event_id", 0.25)
    val s2 = ApproxOps.hashSample(events, "event_id", 0.25)
    assert(s1.select("event_id").except(s2.select("event_id")).count() === 0)
    assert(s2.select("event_id").except(s1.select("event_id")).count() === 0)
    val frac = s1.count().toDouble / events.count().toDouble
    assert(frac > 0.15 && frac < 0.35, s"sampled fraction $frac")
    // quantization law: fraction 0 keeps nothing, 1 keeps everything
    assert(ApproxOps.hashSample(events, "event_id", 0.0).count() === 0)
    assert(ApproxOps.hashSample(events, "event_id", 1.0).count() === events.count())
  }

  test("compaction merges small files without changing rows") {
    val base = GraftSpec.tempDir("graft_compact")
    val shattered = base.resolve("in").toString
    events.repartition(20).write.parquet(shattered)
    val inFiles = new java.io.File(shattered).listFiles().count(_.getName.endsWith(".parquet"))
    assert(inFiles >= 20)
    val out = base.resolve("out").toString
    val outFiles = Maintenance.compact(spark, shattered, out, targetBytes = 512L * 1024 * 1024)
    assert(outFiles < inFiles)
    assert(spark.read.parquet(out).count() === events.count())
  }

  test("surgical delete rewrites only the affected key buckets") {
    import org.apache.spark.sql.functions.{pmod, xxhash64, lit}
    val base = GraftSpec.tempDir("graft_delete")
    val dir = base.resolve("t").toString
    Maintenance.writeKeyBucketed(events.select($"event_id", $"user_id"), dir, "user_id", 8)
    val total = spark.read.parquet(dir).count()
    val victims = Seq(1L, 3L)
    val victimRows = events.filter($"user_id".isin(victims: _*)).count()
    assert(victimRows > 0)

    def listing(): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(dir)).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> f.lastModified()).toMap
    }
    val before = listing()
    val affected = events.select($"user_id").where($"user_id".isin(victims: _*))
      .select(pmod(xxhash64($"user_id"), lit(8)).as("kb")).distinct()
      .as[Long].collect().toSet

    val deleted = Maintenance.deleteKeys(spark, dir, "user_id", victims, 8)
    assert(deleted === victimRows)
    val after = spark.read.parquet(dir)
    assert(after.count() === total - victimRows)
    assert(after.filter($"user_id".isin(victims: _*)).count() === 0)
    // untouched buckets keep their exact files
    val afterListing = listing()
    val untouchedBefore = before.filter { case (p, _) => !affected.exists(b => p.contains(s"__kb=$b/")) }
    val untouchedAfter = afterListing.filter { case (p, _) => !affected.exists(b => p.contains(s"__kb=$b/")) }
    assert(untouchedBefore === untouchedAfter, "unaffected bucket files must not be rewritten")
  }

  test("sorted-by-key write produces disjoint per-file key ranges") {
    val base = GraftSpec.tempDir("graft_sorted")
    val out = base.resolve("out").toString
    Maintenance.writeSortedByKey(events.select($"event_id", $"user_id"), out, "event_id", 4)
    // per-file min/max must not overlap (this is what row-group skipping uses)
    val files = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.toString).sorted
    assert(files.length >= 2)
    val ranges = files.map { f =>
      val r = spark.read.parquet(f).agg(min($"event_id"), max($"event_id")).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) => assert(hi < lo2, s"overlapping file ranges: $hi vs $lo2")
      case _ =>
    }
  }
}
