package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the harness testdata (TESTDATA.md). One parquet per table;
  * reads are vectorized + column-pruned by Catalyst.
  *
  * Schema inference is cached per (session, path) — r16 optimization:
  * every `spark.read.parquet` launches a footer-read job to infer the
  * schema, and a 212-query bench session constructs each query 2–3 times,
  * so the SAME static file's footer was read hundreds of times (~50–80 ms
  * of job + driver latency per construction, visible as `parquet at
  * Tables.scala` jobs in every per-job trace, OPTIMIZATION_r16.md §3).
  * The cache holds only METADATA (a StructType — what a catalog/metastore
  * provides in a real deployment); the data is re-read from parquet by
  * every invocation, so nothing computed is cached across runs. Keyed
  * weakly by session (dies with it); safe because a path's schema cannot
  * change under a session — specs always write fresh temp dirs, appends
  * don't alter schemas. */
object Tables {
  private val schemaCache =
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String,
        org.apache.spark.sql.types.StructType]]()

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    readCached(spark, s"$dir/$name.parquet")

  /** Schema-cached parquet read of any static-schema path — also used by
    * [[graft.sources.IndexStore]] for the standing-artifact tables (their
    * builders are fixed code, so a rebuild/append at the same path always
    * writes the same schema; only the DATA changes, and the data is
    * re-read per invocation). */
  def readCached(spark: SparkSession, p: String): DataFrame = {
    val perSession = schemaCache.synchronized {
      var m = schemaCache.get(spark)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[String,
          org.apache.spark.sql.types.StructType]()
        schemaCache.put(spark, m)
      }
      m
    }
    val sch = perSession.computeIfAbsent(p,
      _ => spark.read.parquet(p).schema)
    spark.read.schema(sch).parquet(p)
  }

  /** Drop cached schemas for `root` and every path under it (`root/…`;
    * a sibling that merely shares the string prefix, `root2`, keeps its
    * entry) — the guard the cache's "a path's schema cannot change under
    * a session" assumption needs on the one class of writers that CAN
    * change it: artifact REBUILD paths (r16 verdict #8). Every
    * [[graft.sources.IndexStore]] overwrite-mode builder calls this after
    * writing, so an in-session rebuild that evolves a schema is re-read
    * correctly instead of through a stale StructType. Appends stay
    * uncovered by design: they run the same fixed builder projection, so
    * the schema is unchanged — busting them would re-introduce the
    * per-micro-batch footer-read job this cache removed. */
  def bustSchema(spark: SparkSession, root: String): Unit =
    schemaCache.synchronized {
      val m = schemaCache.get(spark)
      if (m != null) {
        val under = root.stripSuffix("/") + "/"
        val it = m.keySet.iterator()
        while (it.hasNext) {
          val p = it.next()
          if (p == root || p.startsWith(under)) it.remove()
        }
      }
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
