package graft

import org.apache.spark.sql.types._

import graft.model.{Schemas, Tables}

/** Fixture-schema canary: the driver regenerates /root/testdata between
  * rounds and has already changed the events `ts` physical encoding once
  * (TIMESTAMP(NANOS) → timestamp[us]/NTZ), which silently broke 9 queries
  * and 14 tests. This suite pins the *normalized* dtypes of every fixture
  * the engine loads, so the next encoding change fails HERE with a named
  * column instead of as a pile of mysterious DATATYPE_MISMATCH errors.
  */
class FixtureSchemaSpec extends GraftSpec {

  private def dtypes(df: org.apache.spark.sql.DataFrame): Map[String, DataType] =
    df.schema.fields.map(f => f.name -> f.dataType).toMap

  test("events loads to the declared schema after ts normalization") {
    val got = dtypes(Tables.events(spark, sfDir))
    val want = Schemas.events.fields.map(f => f.name -> f.dataType).toMap
    assert(got === want, s"events dtypes drifted — raw fixture ts is " +
      s"${spark.read.parquet(s"$sfDir/events.parquet").schema("ts").dataType}")
    // the canary's whole point: ts must be session-TZ TIMESTAMP, not NTZ/long
    assert(got("ts") === TimestampType)
  }

  test("events stream source normalizes ts identically to the batch loader") {
    val streamed = Tables.eventStream(spark, sfDir)
    assert(dtypes(streamed) === dtypes(Tables.events(spark, sfDir)))
    assert(streamed.isStreaming)
  }

  test("documents loads to the declared schema") {
    assert(dtypes(Tables.documents(spark, sfDir)) ===
      Schemas.documents.fields.map(f => f.name -> f.dataType).toMap)
  }

  test("embeddings loads to the declared schema") {
    val got = dtypes(Tables.embeddings(spark, sfDir))
    assert(got("vec_id") === LongType)
    assert(got("label") === IntegerType)
    // containsNull is reader metadata the fixture doesn't guarantee; the
    // element type is what the vector expressions depend on
    assert(got("embedding").asInstanceOf[ArrayType].elementType === FloatType)
  }

  private def isDatetime(dt: DataType): Boolean = dt match {
    case DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  test("TPC-H tables carry the column families the queries assume") {
    // dtype spot-pins on the columns most sensitive to fixture regeneration
    // (dates and decimals); full-schema pins would be noise for 7 tables.
    // The fixtures encode dates as timestamp[us] (NTZ) — every q* query and
    // its DuckDB oracle is written against that; any datetime family works,
    // but a switch to string/int would break them all.
    val li = dtypes(Tables.lineitem(spark, sfDir))
    assert(isDatetime(li("l_shipdate")), s"l_shipdate is ${li("l_shipdate")}")
    assert(li("l_quantity").isInstanceOf[NumericType])
    assert(li("l_extendedprice").isInstanceOf[NumericType])
    val o = dtypes(Tables.orders(spark, sfDir))
    assert(isDatetime(o("o_orderdate")), s"o_orderdate is ${o("o_orderdate")}")
    assert(o("o_totalprice").isInstanceOf[NumericType])
    val c = dtypes(Tables.customer(spark, sfDir))
    assert(c("c_acctbal").isInstanceOf[NumericType])
  }

  test("the three historical ts encodings normalize to identical instants") {
    // The driver has shipped events.ts as TIMESTAMP(NANOS) (readable
    // only as a nanos long), timestamp[us]/NTZ, and could ship plain
    // TIMESTAMP next. Materialize the SAME logical events in all three
    // encodings and prove the loader yields identical rows for each.
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros, unix_micros}
    val micros = Seq(1700000000000000L, 1700000000123456L, 1700003600999999L)
    val rows = micros.zipWithIndex.map { case (us, i) =>
      (i.toLong, us, i.toLong * 7, s"t$i", i * 1.5, s"""{"k":$i}""")
    }
    val base = GraftSpec.tempDir("graft_enc")
    def dirFor(name: String): String = {
      val d = base.resolve(name); java.nio.file.Files.createDirectory(d); d.toString
    }
    val nanosDir = dirFor("nanos")
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts", col("ts") * 1000L) // nanos-as-long encoding
      .write.parquet(s"$nanosDir/events.parquet")
    val ntzDir = dirFor("ntz")
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros(col("ts")).cast("timestamp_ntz"))
      .write.parquet(s"$ntzDir/events.parquet")
    val tsDir = dirFor("ts")
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros(col("ts")))
      .write.parquet(s"$tsDir/events.parquet")
    val loaded = Seq(nanosDir, ntzDir, tsDir).map { d =>
      Tables.events(spark, d)
        .select(col("event_id"), unix_micros(col("ts")).as("us"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val want = rows.map(r => (r._1, r._2)).toSet
    for ((got, enc) <- loaded.zip(Seq("nanos-long", "ntz", "timestamp")))
      assert(got === want, s"$enc encoding drifted after normalization")
  }

  test("all three scale fixtures agree on the events ts encoding") {
    // If the driver regenerates only SOME scales, Verify (sf0.01) and Bench
    // (sf0.1) would diverge from the sf0.001 tests — catch that skew here.
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val dir = s"/root/testdata/$sf"
      if (new java.io.File(dir).isDirectory) {
        val got = Tables.events(spark, dir).schema("ts").dataType
        assert(got === TimestampType, s"$sf events.ts normalized to $got")
      }
    }
  }
}
