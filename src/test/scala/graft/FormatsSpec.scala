package graft

import org.apache.spark.sql.functions._

import graft.model.Tables

/** Source/sink format coverage beyond parquet: ORC, CSV and JSON
  * round-trips preserve the data (S1/S9/S10 generalized — at scale the
  * landing format is whatever the upstream emits; the engine must read
  * them all into the same frames).
  */
class FormatsSpec extends GraftSpec {
  import spark.implicits._

  private lazy val events = Tables.events(spark, sfDir)
    .select($"event_id", $"user_id", $"event_type", $"value").cache()

  private def tmp(prefix: String) =
    GraftSpec.tempDir(prefix).toString

  test("ORC round-trip preserves rows and schema") {
    val dir = tmp("graft_orc")
    events.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    assert(back.schema === events.schema)
    assert(back.count() === events.count())
    assert(back.except(events).count() === 0 && events.except(back).count() === 0)
  }

  test("CSV round-trip with explicit schema preserves rows") {
    val dir = tmp("graft_csv")
    events.write.mode("overwrite").option("header", "true").csv(dir)
    val back = spark.read.option("header", "true").schema(events.schema).csv(dir)
    assert(back.count() === events.count())
    assert(back.except(events).count() === 0 && events.except(back).count() === 0)
  }

  test("schema evolution: mergeSchema unifies old and new file schemas") {
    val dir = tmp("graft_evolve")
    // v1 files lack the column a later writer added
    events.select($"event_id", $"user_id").write.parquet(s"$dir/v=1")
    events.select($"event_id", $"user_id", $"event_type").write.parquet(s"$dir/v=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.toSet === Set("event_id", "user_id", "event_type", "v"))
    assert(merged.count() === events.count() * 2)
    // old files surface the new column as null
    assert(merged.filter($"v" === 1 && $"event_type".isNull).count() === events.count())
    assert(merged.filter($"v" === 2 && $"event_type".isNull).count() === 0)
  }

  test("JSON-lines round-trip preserves rows") {
    val dir = tmp("graft_json")
    events.write.mode("overwrite").json(dir)
    val back = spark.read.schema(events.schema).json(dir)
    assert(back.count() === events.count())
    assert(back.except(events).count() === 0 && events.except(back).count() === 0)
  }
}
