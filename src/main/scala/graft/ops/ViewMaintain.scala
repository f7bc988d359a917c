package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental maintenance of a materialized aggregate view — the standing
  * "per-user event stats" table a pipeline keeps current as event batches
  * land, WITHOUT re-aggregating history. Counts and sums are
  * self-maintainable aggregates: view ⊕ partial-agg(delta) ≡ full
  * recompute, which is exactly what the oracle checks (it recomputes from
  * scratch; the engine must merge its way to the same bytes).
  *
  * The value sum is kept in integer micro-units (round(value·1e6) summed
  * as BIGINT — the float-sum rule), which is what MAKES the merge exact:
  * a double sum would differ between "one pass" and "base + delta"
  * accumulation orders.
  *
  * Scale shape: the delta partial-aggregate is map-side-combined before
  * its shuffle (cost ∝ delta, not history); the stored view is read, not
  * recomputed — the full-outer merge join is keyed on the view's own key,
  * so with the view bucketed by user_id the merge is a co-located join
  * touching only affected keys' buckets. This is the same
  * delta-proportional discipline as [[graft.sources.IndexStore]] appends
  * and [[Upsert]]'s merge-on-read log fold, applied to aggregates.
  */
object ViewMaintain {

  /** The view definition: per-user event count + micro-unit value sum. */
  def viewOf(events: DataFrame): DataFrame =
    events.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(expr("CAST(round(value * 1e6, 0) AS BIGINT)")).as("sum_micro"))

  private def statsOf(events: DataFrame): DataFrame = viewOf(events)

  /** view ⊕ view: the self-maintainability merge — count/sum partials
    * combine per key; either side may lack a key. */
  def mergeViews(stored: DataFrame, delta: DataFrame): DataFrame =
    stored.select(col("user_id"), col("n_events").as("n0"),
        col("sum_micro").as("s0"))
      .join(delta.select(col("user_id"), col("n_events").as("n1"),
        col("sum_micro").as("s1")), Seq("user_id"), "full_outer")
      .select(col("user_id"),
        (coalesce(col("n0"), lit(0L)) + coalesce(col("n1"), lit(0L)))
          .as("n_events"),
        (coalesce(col("s0"), lit(0L)) + coalesce(col("s1"), lit(0L)))
          .as("sum_micro"))

  /** The standing view: stats over the base batch (event_id % 10 <> 9),
    * materialized once per (application, sf dir) by
    * [[graft.State.built]]. At scale this table already exists — timing
    * its construction per-query would misrepresent the mechanism (same
    * memoization rationale as [[graft.sources.ZoneMaps]]' clustered
    * fixture). */
  private def storedView(s: SparkSession, dir: String): String =
    graft.State.built(s, "aggview", dir)(
      statsOf(Tables.events(s, dir).filter(col("event_id") % 10 =!= 9))
        .write.mode("overwrite").parquet(_))

  /** q_incr_agg: stored view ⊕ delta batch (event_id % 10 == 9) — must
    * equal the from-scratch aggregate over ALL events. */
  def incrementalAgg(s: SparkSession, dir: String): DataFrame = {
    val stored = s.read.parquet(storedView(s, dir))
    val delta = statsOf(
      Tables.events(s, dir).filter(col("event_id") % 10 === 9))
    mergeViews(stored, delta).orderBy(col("user_id"))
  }

  // --- versioned view store (the streaming sink's exactly-once flip) -------

  /** List the committed view versions under `root` (subdirs `v=<id>`). */
  def viewVersions(s: SparkSession, root: String): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .map(_.getPath.getName)
      .filter(_.startsWith("v="))
      .map(_.stripPrefix("v=").toLong)
      .sorted
  }

  /** Read the newest committed view strictly OLDER than `beforeId`
    * (empty view if none) — the replay-safe read: a half-written or
    * fully-written version of the CURRENT batch is never an input to its
    * own re-run. */
  def readViewBefore(s: SparkSession, root: String,
      beforeId: Long): DataFrame =
    viewVersions(s, root).filter(_ < beforeId).lastOption match {
      case Some(v) => s.read.parquet(s"$root/v=$v")
      case None =>
        import org.apache.spark.sql.types._
        s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField("user_id", LongType),
            StructField("n_events", LongType),
            StructField("sum_micro", LongType))))
    }

  /** Apply one event micro-batch to the versioned view store: read the
    * latest version before `batchId`, merge the batch's partial
    * aggregate, overwrite `v=<batchId>`. Deterministic in (store state,
    * batch, batchId), so a crash-replay of the same batch rewrites the
    * SAME bytes — the foreachBatch exactly-once-effect recipe, here as a
    * versioned-directory flip instead of truncate-and-rewrite (readers
    * never observe a half-swapped view; old versions double as time
    * travel until compacted away). */
  def applyViewBatch(events: DataFrame, root: String, batchId: Long): Unit = {
    val s = events.sparkSession
    mergeViews(readViewBefore(s, root, batchId), viewOf(events))
      .write.mode("overwrite").parquet(s"$root/v=$batchId")
  }

  /** Compaction for the versioned store: keep the newest `keep` versions,
    * delete the rest — bounds storage and the time-travel horizon. Safe
    * concurrently with readers of kept versions; the newest version is
    * self-contained (each version is the FULL merged view, not a delta),
    * so compaction never needs a rewrite. */
  def compactViews(s: SparkSession, root: String, keep: Int = 2): Unit = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    viewVersions(s, root).dropRight(keep).foreach { v =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$root/v=$v"), true)
    }
  }
}
