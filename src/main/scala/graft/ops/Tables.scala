package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the harness testdata (TESTDATA.md). One parquet per table;
  * reads are vectorized + column-pruned by Catalyst.
  *
  * Schema inference is cached per (session, path) in [[graft.State]] —
  * r16 optimization: every `spark.read.parquet` launches a footer-read job
  * to infer the schema, and a 212-query bench session constructs each
  * query 2–3 times, so the SAME static file's footer was read hundreds of
  * times (~50–80 ms of job + driver latency per construction, visible as
  * `parquet at Tables.scala` jobs in every per-job trace,
  * OPTIMIZATION_r16.md §3). The cache holds only METADATA (a StructType —
  * what a catalog/metastore provides in a real deployment); the data is
  * re-read from parquet by every invocation. A writer that may change a
  * path's schema drops the entry with [[graft.State.invalidate]]. */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    readCached(spark, s"$dir/$name.parquet")

  /** Schema-cached parquet read of any path — also used by
    * [[graft.sources.IndexStore]] for the standing-artifact tables, whose
    * writers invalidate what they write. */
  def readCached(spark: SparkSession, p: String): DataFrame =
    spark.read.schema(
      graft.State.schema(spark, p)(spark.read.parquet(p).schema)).parquet(p)

  /** Ids of the `<key>=<id>` subdirectories of `dir`, sorted; empty when
    * `dir` does not exist — the committed versions of a versioned view
    * (`v=`, [[ViewMaintain]]) and the batch segments of an index table's
    * `_delta` (`b=`, [[graft.sources.IndexStore]]). */
  def versions(s: SparkSession, dir: String, key: String): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.startsWith(s"$key=")).map(_.stripPrefix(s"$key=").toLong)
      .sorted
  }

  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  /** The events table's `ts` is normalized to BIGINT epoch-nanoseconds
    * regardless of the physical parquet type, so every downstream operator
    * (and its DuckDB `epoch_ns(ts)` oracle) sees one stable representation:
    *  - TIMESTAMP(NANOS) parquet: Spark 4 rejects it unless read as long
    *    (`nanosAsLong`), which is already epoch-nanos;
    *  - TIMESTAMP(MICROS) parquet (current driver testdata): arrives as
    *    TIMESTAMP_NTZ; convert naive-UTC micros → nanos. The conversion is a
    *    narrow codegen projection on the scan — no shuffle, prunes fine. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = table(s, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => df
      case org.apache.spark.sql.types.TimestampType =>
        // Zone-adjusted micros (parquet isAdjustedToUTC=true): the value
        // IS an instant, so unix_micros is exact and zone-independent —
        // field extraction here would read session-zone wall clocks and
        // shift epochs silently.
        import org.apache.spark.sql.functions._
        df.withColumn("ts", unix_micros(df.col("ts")) * 1000L)
      case org.apache.spark.sql.types.TimestampNTZType =>
        // NTZ carries no zone; interpret the wall clock as UTC to match
        // DuckDB's epoch_ns — via PURE field extraction (days/hours/
        // minutes/fractional seconds are zone-free on TIMESTAMP_NTZ), so
        // the conversion neither reads nor mutates session timezone state
        // and a later session-timezone change cannot shift lazily
        // evaluated rows. date_part('SECOND') carries the microsecond
        // fraction as DECIMAL(8,6); ROUND before the cast — a plain cast
        // truncates and Decimal×1e6 is exact, so round is a no-op on the
        // value but keeps the intent explicit.
        import org.apache.spark.sql.functions._
        df.withColumn("ts",
          (unix_date(df.col("ts").cast(org.apache.spark.sql.types.DateType))
              .cast("long") * 86400000000L +
            expr("extract(HOUR FROM ts)").cast("long") * 3600000000L +
            expr("extract(MINUTE FROM ts)").cast("long") * 60000000L +
            expr("cast(round(date_part('SECOND', ts) * 1000000, 0) as long)"))
            * 1000L)
      case other => throw new IllegalArgumentException(
        s"events.ts: unsupported physical type $other — expected " +
          "LONG (nanos), TIMESTAMP, or TIMESTAMP_NTZ")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
