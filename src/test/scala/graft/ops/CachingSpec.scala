package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** The session-hygiene contract (r15, scoped by the r16 ADVICE fix):
  * stray localCheckpoints (invisible to clearCache) that
  * materializeAndRelease pinned for earlier queries are released
  * between queries — hygiene, not a perf fix (the round-15 A/B acquitted
  * them as the r14 regression's mechanism) — while memoized dashboard
  * ground truths AND untracked checkpoints (streaming pins, user
  * localCheckpoints) survive and stay usable: their lineage is
  * truncated, so dropping their blocks would break reuse, not trigger
  * recompute. */
class CachingSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("releaseStrays drops materializeAndRelease blocks but keeps the " +
      "memo set alive and byte-identical") {
    import spark.implicits._
    // a stray: the shape every operator result takes
    val stray = Caching.materializeAndRelease(
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    assert(stray.count() === 2L)
    // a memoized ground truth computed AFTER the stray exists
    val memoKey = s"cachingSpec:${System.nanoTime()}"
    val memod = Caching.memo(spark, memoKey)(
      Tables.documents(spark, dir).groupBy(col("lang"))
        .agg(count(lit(1)).as("n")))
    val before = memod.collect().map(r => (r.getString(0), r.getLong(1)))
      .sortBy(_._1).toSeq
    val persistedBefore = spark.sparkContext.getPersistentRDDs.size
    assert(persistedBefore > 0, "checkpoints must be pinned before release")

    Caching.releaseStrays(spark)

    assert(spark.sparkContext.getPersistentRDDs.size < persistedBefore,
      "stray blocks must be released")
    // the memo survives: same handle returns, contents intact
    val again = Caching.memo(spark, memoKey)(
      sys.error("memo must not recompute"): org.apache.spark.sql.DataFrame)
    val after = again.collect().map(r => (r.getString(0), r.getLong(1)))
      .sortBy(_._1).toSeq
    assert(after === before, "memoized frame must stay readable after release")
  }

  test("releaseStrays never touches checkpoints it did not register " +
      "(user/streaming pins recompute nothing — r15 ADVICE)") {
    import spark.implicits._
    // a USER-held checkpoint, created outside materializeAndRelease —
    // the streaming micro-batch / interactive-caller shape
    val userPinned = Seq((1L, 10.0), (2L, 20.0)).toDF("id", "x")
      .localCheckpoint()
    assert(userPinned.count() === 2L)
    // a tracked stray from a registry-query-shaped operator
    Caching.materializeAndRelease(
      Seq((3L, "c")).toDF("id", "v")).count()

    Caching.releaseStrays(spark)

    // the untracked checkpoint's blocks survive: a truncated-lineage
    // frame cannot recompute, so this read would throw on a missing
    // block if releaseStrays had dropped it
    val vals = userPinned.collect().map(r => (r.getLong(0), r.getDouble(1)))
      .sortBy(_._1).toSeq
    assert(vals === Seq((1L, 10.0), (2L, 20.0)),
      "untracked checkpoint must stay readable after releaseStrays")
  }

  test("materializeAndRelease's eager checkpoint reaches a registered " +
      "QueryExecutionListener with its full plan (ExplainAll's source)") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val ran = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = ran.add(funcName -> qe.executedPlan.toString)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val docs = Tables.documents(spark, dir)
      val joined = docs.select(col("doc_id"), col("lang"))
        .join(docs.groupBy(col("lang")).agg(count(lit(1)).as("n")), "lang")
      val out = Caching.materializeAndRelease(joined)
      // the returned frame's own plan is only the checkpoint scan
      assert(out.queryExecution.executedPlan.toString.contains("Scan ExistingRDD"))
      val deadline = System.nanoTime() + 10L * 1000000000L
      def checkpoints = ran.asScala.filter(_._1 == "localCheckpoint").map(_._2)
      while (checkpoints.isEmpty && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(checkpoints.nonEmpty, "no localCheckpoint reached the listener")
      assert(checkpoints.exists(_.contains("Join")),
        s"checkpoint plan is not the pre-checkpoint join plan: $checkpoints")
    } finally spark.listenerManager.unregister(listener)
  }
}
