package graft

import graft.operators.Materialize

/** The central materialization helper (r22): conf-switched strategy,
  * tracked registry, LogicalRDD-level release. Every pipeline-severing
  * checkpoint in the engine routes through it, so these properties are
  * what keep Bench's between-pass hygiene and clearCaches teardown
  * honest.
  */
class MaterializeSpec extends GraftSpec {

  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("local strategy materializes eagerly and releaseTransients frees the blocks") {
    Materialize.releaseTransients()
    val before = persistedIds
    val df = Materialize(spark.range(1000).toDF("id"))
    val during = persistedIds
    assert((during -- before).nonEmpty, "apply() must pin checkpoint blocks")
    assert(df.count() === 1000)
    Materialize.releaseTransients()
    val after = persistedIds
    assert((after intersect (during -- before)).isEmpty,
      s"releaseTransients must unpersist the checkpoint RDD, left: ${after intersect (during -- before)}")
  }

  test("pinned frames survive releaseTransients and die with releaseAll") {
    val before = persistedIds
    val df = Materialize.pin(spark.range(500).toDF("id"))
    val during = persistedIds
    val mine = during -- before
    assert(mine.nonEmpty)
    Materialize.releaseTransients()
    assert((persistedIds intersect mine) === mine,
      "a pinned frame must survive the between-pass transient release")
    assert(df.count() === 500) // still readable
    Materialize.releaseAll()
    assert((persistedIds intersect mine).isEmpty,
      "releaseAll (clearCaches teardown) must drop pinned frames too")
  }

  test("releaseOne frees exactly the given frame") {
    val before = persistedIds
    val a = Materialize.materializeOnly(spark.range(100).toDF("id"))
    val afterA = persistedIds
    val b = Materialize.materializeOnly(spark.range(200).toDF("id"))
    val idsA = afterA -- before
    val idsB = persistedIds -- afterA
    Materialize.releaseOne(a)
    assert((persistedIds intersect idsA).isEmpty, "a's blocks must be gone")
    assert((persistedIds intersect idsB) === idsB, "b's blocks must survive")
    assert(b.count() === 200)
    Materialize.releaseOne(b)
  }

  test("Dedup.minHash's shingle checkpoint is a transient") {
    Materialize.releaseTransients()
    val before = persistedIds
    graft.dedup.Dedup.minHash(graft.model.Tables.documents(spark, sfDir), 3, 0.6).count()
    val mine = persistedIds -- before
    assert(mine.nonEmpty, "minHash must checkpoint its shingle sets")
    Materialize.releaseTransients()
    assert((persistedIds intersect mine).isEmpty,
      s"releaseTransients must unpersist minHash's checkpoint, left: ${persistedIds intersect mine}")
  }

  test("reliable strategy checkpoints to the configured dir and survives release") {
    val dir = GraftSpec.tempDir("graft_mat_spec").toString
    spark.conf.set("spark.graft.materialize", "reliable")
    spark.conf.set("spark.graft.materialize.dir", dir)
    try {
      val df = Materialize(spark.range(300).toDF("id"))
      assert(df.count() === 300)
      assert(spark.sparkContext.getCheckpointDir.isDefined,
        "reliable strategy must set the context checkpoint dir")
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .iterator()
      var found = false
      while (files.hasNext) { if (files.next().toFile.isFile) found = true }
      assert(found, "reliable checkpoint must write files under the configured dir")
      Materialize.releaseTransients() // must not throw on reliable frames
      assert(df.count() === 300, "a reliable checkpoint survives block release")
    } finally {
      spark.conf.unset("spark.graft.materialize")
      spark.conf.unset("spark.graft.materialize.dir")
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }
}
