package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, unix_micros}
import org.apache.spark.sql.types.{LongType, StructType}

/** Accessors for the benchmark tables (one parquet file per table, see
  * TESTDATA.md). All queries take the sf directory at call time so the same
  * plan builds against any scale factor — at cluster scale these would be
  * partitioned table paths instead of single files, and every reader below
  * goes through the vectorized parquet scan with pushdown/pruning intact.
  */
object Tables {

  /** Every table read goes through here, with a known schema: a plain
    * `spark.read.parquet(path)` runs a one-task Spark job to infer it
    * (~100 ms on a warm local session, against ~13 ms and no job with the
    * schema given), and a query reads several tables. The inferred
    * `StructType` is kept per session — inference depends on session
    * confs — and per absolute path, and is inferred again whenever the
    * table's [[contentToken]] changes, so a rewritten table is read with
    * its new columns.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(schemaOf(spark, path, contentToken(dir, name))).parquet(path)
  }

  private val schemas = new java.util.WeakHashMap[
    SparkSession, ConcurrentHashMap[String, (String, StructType)]]()

  private def schemaOf(s: SparkSession, path: String, token: String): StructType = {
    val perSession = schemas.synchronized {
      schemas.computeIfAbsent(s, _ => new ConcurrentHashMap())
    }
    val key = java.nio.file.Paths.get(path).toAbsolutePath.normalize.toString
    perSession.compute(key, (_, cached) =>
      if (cached != null && cached._1 == token) cached
      else (token, s.read.parquet(path).schema))._2
  }

  /** `events.ts` is parquet TIMESTAMP(NANOS). How Spark surfaces that column
    * changed across engine versions, so branch on the *read* schema rather
    * than trusting any conf:
    *   - older engines with `spark.sql.legacy.parquet.nanosAsLong` honored:
    *     `ts` arrives as epoch-nanos BIGINT → integral `div 1000` (no doubles:
    *     epoch-nanos exceeds 2^53).
    *   - Spark 4.1+: nanos read natively as `timestamp_ntz` (the legacy conf
    *     still exists in SQLConf but no longer affects the read path) →
    *     `unix_micros(cast(ts as timestamp))`. The session TZ is pinned UTC
    *     (GraftSession), so the NTZ→LTZ cast is an exact relabel and the
    *     nanos→micros truncation matches DuckDB's read of the same file.
    * Either way the exposed `ts_us` is an epoch-micros BIGINT, bit-for-bit
    * equal to DuckDB's `epoch_us(ts)`; every downstream operator keys off
    * `ts_us` only.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    withTsUs(table(s, d, "events"))
  }

  /** Add the epoch-micros `ts_us` of [[events]] to a batch or streaming
    * frame with the events table's raw `ts` column.
    */
  private[graft] def withTsUs(df: DataFrame): DataFrame =
    df.withColumn("ts_us", df.schema("ts").dataType match {
      case LongType => expr("ts div 1000")
      case _ => unix_micros(col("ts").cast("timestamp"))
    })

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  private def files(dir: String, tableName: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(walk)
      else Seq(f)
    walk(new java.io.File(dir, s"$tableName.parquet"))
  }

  /** name:size:mtime signature of every file under `dir/table.parquet` —
    * pure metadata, so it costs a few file stats and no Spark job. Any
    * rewrite that changes a file's size or mtime changes it; a rewrite in
    * place with the same size and mtime does not. The cache key of the
    * read schemas of [[table]] and of the in-process artifact stores
    * (edge, pair and label stores, frozen centroids), so a regenerated
    * table invalidates naturally.
    */
  def contentToken(dir: String, tableName: String): String = {
    val sig = files(dir, tableName)
      .map(f => s"${f.getName}:${f.length}:${f.lastModified}")
      .mkString("|")
    java.lang.Integer.toHexString(sig.hashCode)
  }

  /** On-disk size of `dir/table.parquet`, from file metadata. */
  private[graft] def sizeBytes(dir: String, tableName: String): Long =
    files(dir, tableName).map(_.length).sum

  /** Decouple heavy per-row compute (regex tokenization, shingling,
    * per-char explodes) from the SOURCE file's split layout: a corpus
    * delivered as one fat row group scans as ONE task, and every narrow
    * stage chained onto it — including map-side partial aggregation —
    * runs serially no matter how many cores exist (the sf1 rehearsal
    * measured a 50k-doc shingle audit at 67 s serial vs ~4 s parallel).
    * If the scan already yields at least one split per core — the normal
    * state on a real multi-file corpus — this is the identity, so no
    * data is re-shuffled at 100 TB; the round-robin exchange only fires
    * on row-group-starved inputs, where moving the (small) raw bytes
    * once is strictly cheaper than serializing the compute.
    */
  def parallelized(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }
}
