package graft.tools

import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

/** Prints formatted physical plans for selected queries — the plan-review
  * surface: check PushedFilters, broadcast choices, and WholeStageCodegen
  * spans. An operator that materializes its result
  * ([[graft.ops.Caching.materializeAndRelease]]'s eager localCheckpoint)
  * returns a frame whose own plan is only `Scan ExistingRDD`, so the plans
  * that RAN while the query was built (the checkpoint's final plan, cache
  * counts) are printed first, captured by a QueryExecutionListener.
  * `sbt "runMain graft.tools.ExplainAll [sfDir] [name...]"` */
object ExplainAll {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    // "all" dumps every registered query — the full-surface plan audit
    // (grep the output for CartesianProduct / BroadcastNestedLoopJoin /
    // missing PushedFilters)
    val names =
      if (args.length > 1 && args(1) == "all") graft.SparkEntry.queries.keySet
      else if (args.length > 1) args.drop(1).toSet else Set(
      "q_agg_lineitem", "q_filter_prefix", "q_join_revenue", "q_sort_limit",
      "q_join_filtered", "q_sessionize", "dedup_exact", "ann_topk",
      "dedup_exact_keep", "dedup_simhash_lsh", "emb_dup_lsh", "corpus_pack",
      "q_subquery", "q_grouping_sets", "q_salted_join",
      // round 3
      "q_asof_native", "dedup_substring", "dedup_incremental",
      "text_heavy_hitters", "q_upsert", "q_zorder_key", "q_profile",
      "q_cohort_retention", "text_segment_dedup", "text_bm25",
      // round 4
      "dedup_triangles", "dedup_simhash_lsh64", "q_upsert_mor",
      "q_sql_custom",
      // round 5
      "q_pii_redact", "dedup_canonical", "emb_dim_stats", "ann_pq",
      "q_iqr_outliers", "graph_pagerank", "q_zonemap_scan", "q_scd2",
      "dedup_containment", "text_winnow", "text_heavy_by_lang")
    val spark = graft.Session()
    val ran = new LinkedBlockingQueue[(String, QueryExecution)]()
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = ran.put(funcName -> qe)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    })
    graft.SparkEntry.queries.filter(q => names(q._1)).foreach {
      case (name, fn) =>
        println(s"\n========== $name ==========")
        val df = fn(spark, dir)
        // Listener events arrive asynchronously but in order: once this
        // marker action's event is delivered, so is every action the
        // query ran before it.
        val marker = spark.range(1)
        marker.collect()
        Iterator.continually(ran.poll(60, TimeUnit.SECONDS))
          .takeWhile(e => e != null && (e._2 ne marker.queryExecution))
          .foreach { case (funcName, qe) =>
            println(s"---------- $name (ran while built: $funcName) ----------")
            println(qe.explainString(FormattedMode))
          }
        println(s"---------- $name (returned frame) ----------")
        df.explain("formatted")
        // simple mode too: its *(n) markers are the whole-stage-codegen
        // span ids — the formatted dump doesn't carry them
        println(s"---------- $name (simple, codegen spans) ----------")
        df.explain()
    }
    spark.stop()
  }
}
