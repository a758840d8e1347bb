package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, unix_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Parquet table loaders over a scale-factor directory.
  *
  * All operators read through here so that, at cluster scale, the one place to
  * swap in a catalog / bucketed tables / a different source is this object.
  */
object Tables {
  private case class CachedRel(stamp: String, df: DataFrame)
  private val relMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), CachedRel]()

  /** Load table `name` of the scale-factor directory `dir` through [[read]]. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    read(spark, s"$dir/$name.parquet")

  /** Read the parquet dataset at `path` through a per-(session, path,
    * content-stamp) RELATION memo; [[load]] and [[Warehouse.table]] both read
    * through it. A bare `spark.read.parquet` re-infers the schema (a
    * footer-read Spark job) and re-lists the directory on every call —
    * 100–700 ms per query in local mode (measured) and a driver-side footer
    * fetch per query at cluster scale. A real deployment resolves tables
    * from a catalog that stores schema + file index; this memo is that
    * catalog seam. The stamp is [[Warehouse.fingerprint]] (recursive file count,
    * bytes and max mtime, through the Hadoop FileSystem of any scheme): a
    * part file added, removed or rewritten in place changes it even when
    * the dataset directory's own mtime and size do not, so a fresh listing
    * and schema are taken exactly when the data could have changed.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val stamp = Warehouse.fingerprint(spark, path)
    val key = (spark, path)
    val c = relMemo.get(key)
    if (c != null && c.stamp == stamp) c.df
    else {
      val df = spark.read.parquet(path)
      relMemo.put(key, CachedRel(stamp, df))
      df
    }
  }

  def lineitem(s: SparkSession, d: String): DataFrame =
    normalizeTsCol(load(s, d, "lineitem"), "l_shipdate")
  def orders(s: SparkSession, d: String): DataFrame =
    normalizeTsCol(load(s, d, "orders"), "o_orderdate")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  /** `events.ts` is epoch-nanos BIGINT to every operator, regardless of the
    * parquet physical type: TIMESTAMP(NANOS) files arrive as LongType via
    * `spark.sql.legacy.parquet.nanosAsLong` (see SparkEntry.tune), while
    * TIMESTAMP(MICROS) files arrive as TimestampType and are widened here.
    * Normalizing at the loader keeps the conversion in the scan projection
    * (row-local, codegen'd) and every downstream operator physical-type
    * agnostic.
    */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeEventsTs(load(s, d, "events"))

  /** Widen `ts` to epoch-nanos whatever the physical type. Public because the
    * streaming parity specs read the same file through `readStream` and need
    * the identical edge conversion on the unbounded side.
    */
  def normalizeEventsTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType      => df
      case TimestampType => df.withColumn("ts", unix_micros(col("ts")) * 1000L)
      // NTZ carries the same wall-clock micros; the session zone is pinned
      // UTC (SparkEntry.tune) so the cast is instant-preserving.
      case TimestampNTZType =>
        df.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * 1000L)
      case other => throw new IllegalStateException(s"unexpected events.ts type: $other")
    }

  /** The inverse guard for the TPC-H date columns: operators consume them as
    * TIMESTAMP, so a regeneration that lands TIMESTAMP(NANOS) parquet (read
    * as epoch-nanos BIGINT under `nanosAsLong`) is widened back. NTZ vs TZ
    * both behave under the pinned-UTC session.
    */
  private def normalizeTsCol(df: DataFrame, c: String): DataFrame =
    df.schema(c).dataType match {
      case LongType => df.withColumn(c, expr(s"timestamp_micros($c div 1000)"))
      case _        => df
    }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")

  /** [[documents]] with the corpus SPREAD across the session's parallelism
    * before heavy row-local work (shingle md5, token/bigram explode).
    *
    * Why it exists: a parquet ROW GROUP is the unit of scan parallelism, and
    * this harness's tables are single-file single-row-group — so the scan
    * stage, and everything codegen fuses into it, runs on ONE core no matter
    * how many byte-splits Spark plans (measured: q_lm_bigram's corpus stages
    * at 32 tasks had 31 empty ones; sum-of-task-time ≈ wall). Explode-heavy
    * text operators put seconds of md5/explode CPU into that fused stage, so
    * they pay it serially. Repartitioning the RAW (doc_id, text) rows first
    * is one tiny shuffle (the corpus text itself, ~MBs compressed) that
    * moves the expensive derivation onto every core.
    *
    * Stats-driven: below `minBytes` the serial work is sub-100 ms and the
    * extra stage is pure floor — the threshold keeps small-SF plans
    * unchanged (the catalog-statistics decision a real deployment makes; at
    * 100 TB a corpus is thousands of row groups and this helper degrades to
    * a no-op pass-through by the same test... except the single-giant-file
    * export, which is exactly when you want the spread).
    */
  def documentsSpread(s: SparkSession, d: String, minBytes: Long = 2L << 20): DataFrame = {
    val df = documents(s, d)
    if (bytesAt(s, s"$d/documents.parquet") >= minBytes)
      df.repartition(s.sparkContext.defaultParallelism)
    else df
  }

  /** Total bytes of the files at `path` (recursively, for a directory), read
    * from the Hadoop filesystem the path names, so every scheme the session
    * can read is sized; 0 when nothing is there.
    */
  def bytesAt(s: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }

  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
