package graft.index

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Schemas
import graft.operators.Materialize
import graft.search.{KnnExact, LshIndex}

/** Named-collection client facade — the reference's user workflow
  * (chromadb.PersistentClient: get_or_create_collection / add / count /
  * query / delete_collection, create_collections.py:160-268 and
  * chromadb_speed_experiment.py:399-499) re-expressed Spark-native.
  *
  * Storage: one parquet directory per collection under a warehouse root
  * (local path or any Hadoop-FS URI — HDFS/S3A at scale), rows in the
  * reference's record shape ([[Schemas.collection]]). Every write casts
  * its rows to that schema, so every file matches it, and every read
  * declares it: opening a collection reads no parquet footer and starts
  * no Spark job (opening a ChromaDB collection costs nothing either).
  * `add` is a parquet append (the reference's batched collection.add,
  * cc:260-263); `query` is the broadcast top-k join from [[KnnExact]],
  * so the collection side never shuffles. list, count and
  * delete_collection are filesystem metadata operations, not Spark
  * jobs; create writes one schema-only part file, once per collection.
  */
class VectorStore(spark: SparkSession, warehouse: String) {

  private val root = new Path(warehouse)
  private def fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def dir(name: String): Path = {
    require(name.matches("[A-Za-z0-9._-]+"), s"invalid collection name: $name")
    new Path(root, name)
  }

  /** If a rewrite crashed between its two renames, the live dir is
    * missing and the backup holds the full pre-rewrite collection —
    * restore it. Called from every entry point that would otherwise
    * treat the collection as absent (creating an empty collection over
    * a recoverable backup would silently lose data).
    */
  private def recoverIfCrashed(name: String): Unit = {
    val d = dir(name)
    val bak = new Path(root, name + ".bak")
    if (fs.exists(bak) && !fs.exists(d)) fs.rename(bak, d)
  }

  /** Idempotent create: crash recovery, then an empty parquet dataset
    * with the collection schema if the directory is absent. Builds no
    * DataFrame over the collection — `add` and `upsert` only need it to
    * exist.
    */
  private def ensureCollection(name: String): Unit = {
    recoverIfCrashed(name)
    val d = dir(name)
    if (!fs.exists(d)) {
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Schemas.collection)
        .write.mode(SaveMode.Overwrite).parquet(d.toString)
    }
  }

  /** get_or_create_collection(name): create if absent, then read. */
  def getOrCreateCollection(name: String): DataFrame = {
    ensureCollection(name)
    collection(name)
  }

  /** The collection as a DataFrame. The read declares
    * [[Schemas.collection]] instead of inferring it from a parquet
    * footer, so resolving it starts no Spark job.
    */
  def collection(name: String): DataFrame =
    spark.read.schema(Schemas.collection).parquet(dir(name).toString)

  /** Append records; extra columns are dropped, and a missing metadata
    * column is stored as null — mirrors add()'s per-batch semantics.
    */
  def add(name: String, records: DataFrame): Unit = {
    ensureCollection(name)
    normalized(records)
      .write.mode(SaveMode.Append).parquet(dir(name).toString)
  }

  /** Incoming records coerced to the collection schema: extra columns
    * dropped, missing metadata stored as null — add()'s per-batch
    * semantics, shared with upsert's single-rewrite path. Every column
    * is cast to its declared type (metadata fields positionally, e.g. a
    * LONG page_num to INT), so each written file matches the schema
    * `collection` reads with.
    */
  private def normalized(records: DataFrame): DataFrame = {
    val metaType = Schemas.collection("metadata").dataType
    val meta =
      if (records.columns.contains("metadata")) col("metadata").cast(metaType)
      else lit(null).cast(metaType)
    records
      .select(col("id").cast("string"), col("document").cast("string"),
        col("embedding").cast("array<float>"), meta.as("metadata"))
  }

  /** Exact row count from the parquet FOOTERS (driver-side metadata, no
    * Spark job — r21, guide §1.2: the count is the rewrite path's only
    * reason to scan). Parquet footers carry the exact per-block row
    * count, so this equals `collection.count()` bit-for-bit; Delta/
    * Iceberg commit stats formalize the same metadata-count discipline.
    */
  private def parquetRowCount(d: Path): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    fs.listStatus(d).filter(_.getPath.getName.startsWith("part-")).map { st =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf)
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try rd.getRecordCount finally rd.close()
    }.sum
  }

  /** collection.count() (chromadb_speed_experiment.py:399-418) — footer
    * metadata, no Spark job (the reference's count() is a metadata op
    * too).
    */
  def count(name: String): Long = {
    recoverIfCrashed(name)
    parquetRowCount(dir(name))
  }

  /** Exact L2 top-k — the reference's query(query_embeddings=..., n_results=k)
    * with documents included in the result. `queries` is (qid, qemb).
    * `where` is ChromaDB's metadata filter: it restricts the collection
    * BEFORE any distance work, so the predicate pushes into the parquet
    * scan and top-k ranks only surviving rows.
    */
  def query(
      name: String,
      queries: DataFrame,
      k: Int,
      where: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val base = where.foldLeft(collection(name))(_ filter _)
    val coll = base.select(col("id"), col("document"), col("embedding"))
    KnnExact.topK(queries, coll, k, idCol = "id")
      .join(coll.select(col("id"), col("document")), Seq("id"))
      .select(col("qid"), col("rk"), col("id"), col("document"), col("dist"))
  }

  /** collection.get(ids=...) — point lookups by id. */
  def get(name: String, ids: Seq[String]): DataFrame =
    collection(name).filter(col("id").isin(ids: _*))

  /** collection.peek(n) — first n rows by id (deterministic). */
  def peek(name: String, n: Int = 10): DataFrame =
    collection(name).orderBy(col("id")).limit(n)

  /** Approximate top-k via an LSH index fit on the collection — the
    * HNSW-shaped trade (approximate results, flat latency growth).
    */
  def queryApprox(
      name: String,
      queries: DataFrame,
      k: Int,
      numHashTables: Int = 8,
      bucketLength: Double = 2.0,
      radius: Double = 5.0): DataFrame = {
    val coll = collection(name)
      .select(col("id").as("vec_id"), col("embedding"))
    val idx = LshIndex.fit(coll, numHashTables = numHashTables, bucketLength = bucketLength)
    idx.topK(queries, coll, k, radius = radius)
  }

  /** Copy-on-write rewrite with the backup/swap/restore discipline
    * HnswMaintenance uses: staging write → live→bak → staging→live →
    * drop bak, with a recovery rename at entry so no crash point loses
    * the collection. Parquet is immutable, so row-level mutation IS a
    * rewrite; at 100 TB the rewrite is partition-scoped (delete-file
    * table formats — Delta/Iceberg — formalize exactly this), while the
    * fixture-scale rewrite touches the whole collection. Returns
    * (rows before, rows after).
    */
  private def rewrite(name: String)(keep: DataFrame => DataFrame): (Long, Long) = {
    val d = dir(name)
    val bak = new Path(root, name + ".bak")
    recoverIfCrashed(name)
    require(fs.exists(d), s"no such collection: $name")
    val staging = new Path(root, name + ".staging")
    fs.delete(staging, true)
    // before/after from parquet footers (exact, driver-side) — the old
    // collection.count() + staging count() were two extra full Spark
    // jobs per rewrite whose only output was the returned delta (r21)
    val before = parquetRowCount(d)
    keep(collection(name)).write.mode(SaveMode.Overwrite).parquet(staging.toString)
    val after = parquetRowCount(staging)
    fs.delete(bak, true)
    fs.rename(d, bak)
    fs.rename(staging, d)
    fs.delete(bak, true)
    (before, after)
  }

  /** collection.delete(where=...) — the row-level half of the client
    * API the reference only exercises at collection grain
    * (delete_collection, create_collections.py:256; chromadb's client
    * also exposes collection.delete(ids=/where=) and upsert, which a
    * user switching engines expects). Returns the number of rows
    * removed.
    */
  def delete(name: String, where: org.apache.spark.sql.Column): Long = {
    // A NULL predicate (e.g. a `where` over nullable metadata) must KEEP
    // the row, matching the client semantics: only rows where the filter
    // definitively matches are deleted. `!where` alone would turn NULL
    // into NULL and silently drop the row.
    val (before, after) = rewrite(name)(_.filter(!coalesce(where, lit(false))))
    before - after
  }

  /** collection.delete(ids=...) — explicit-id delete. */
  def delete(name: String, ids: Seq[String]): Long =
    delete(name, col("id").isin(ids: _*))

  /** Frame-based delete — the scalable form (a CDC micro-batch's ids
    * arrive as a DataFrame, removed via the anti-join rewrite; an
    * `isin` literal list would bloat the plan at real batch sizes).
    * The id frame is materialized before the swap, like upsert's.
    */
  def delete(name: String, ids: DataFrame): Long = {
    val del = ids.select(col("id").cast("string").as("id"))
      .distinct().transform(Materialize.materializeOnly(_))
    try {
      val (before, after) = rewrite(name)(_.join(del, Seq("id"), "left_anti"))
      before - after
    } finally Materialize.releaseOne(del) // was leaked per call (r22)
  }

  /** collection.upsert(records): replace existing ids, insert new ones —
    * an anti-join rewrite (id-bounded) followed by the normal append.
    * The incoming-id frame is materialized BEFORE the swap so a lazy
    * read can never observe the collection mid-rewrite.
    */
  def upsert(name: String, records: DataFrame): Unit = {
    ensureCollection(name)
    // The anti-join (drop replaced ids) AND the insert of the new
    // versions ride ONE rewrite, so the staging→live swap is the single
    // commit point: a crash at any rename leaves either the full old
    // collection (restorable from .bak) or the full new one — never a
    // state with the old versions deleted but the new rows not yet
    // appended. The new rows are materialized before the swap so a lazy
    // read can never observe the collection mid-rewrite.
    val newRows = Materialize.materializeOnly(normalized(records))
    try {
      // The reference client REJECTS duplicate ids within one upsert
      // request (a duplicated id would otherwise leave two live rows
      // for one key, and which survives would be row-order luck).
      // ONE validation job (count + distinct-id count together) instead
      // of two over the materialized batch (r21). countDistinct skips
      // nulls, so a null id fails the check too: past it the batch's
      // ids are distinct and non-null, and its own id column is the
      // anti-join key as is.
      val v = newRows.agg(
        org.apache.spark.sql.functions.count(lit(1)).as("n"),
        countDistinct(col("id")).as("nd")).head()
      require(v.getLong(0) == v.getLong(1),
        s"upsert batch for '$name' contains duplicate ids or a null id; " +
          "deduplicate the batch before upserting")
      rewrite(name)(
        _.join(newRows.select(col("id")), Seq("id"), "left_anti").unionByName(newRows))
    } finally Materialize.releaseOne(newRows)
  }

  /** list_collections(): filesystem metadata, no Spark job. Rewrite
    * scratch dirs (`.bak` left by a crash, `.staging` of an in-flight
    * rewrite) are internal state, not collections — hidden here.
    */
  def listCollections(): Seq[String] =
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).filter(_.isDirectory).map(_.getPath.getName)
      .filter(n => !n.endsWith(".bak") && !n.endsWith(".staging"))
      .toSeq.sorted

  /** delete_collection(name) — also removes any `.bak`/`.staging`
    * scratch dirs, so a stale crash backup can't resurrect a deleted
    * collection through recoverIfCrashed on the next getOrCreate.
    */
  def deleteCollection(name: String): Boolean = {
    fs.delete(new Path(root, name + ".bak"), true)
    fs.delete(new Path(root, name + ".staging"), true)
    fs.delete(dir(name), true)
  }
}
