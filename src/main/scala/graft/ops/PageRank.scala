package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fixed-point integer PageRank over the near-duplicate graph — the
  * centrality diagnostic a dedup pipeline runs to find template/boilerplate
  * hubs (documents near-duplicating MANY others score high even when no
  * single pair crosses a cluster threshold).
  *
  * All arithmetic is integer (micro-units of 1e-12 total mass, floor
  * division for contributions and damping), so the trajectory is
  * bit-identical under any partitioning/merge order AND in the DuckDB
  * oracle, which unrolls the same [[Iters]] rounds as chained CTEs —
  * float PageRank could never hash-match cross-engine (sum order flips
  * rounding).
  *
  * Scale shape: classic Pregel-style iteration. The (src, dst, deg) edge
  * frame is computed once, degree pre-joined, lineage-truncated, and
  * cached; each round is one shuffle keyed by doc_id (contribution sum)
  * plus a broadcast-sized rank join — O(E) per round, no all-pairs
  * anything. Ranks are localCheckpoint-truncated per round: plan size,
  * optimizer time, and task-serialization cost stay O(1) in the round
  * count (same discipline as Dedup.connectedComponents). At 1000
  * executors the edge frame would be hash-partitioned by src once and
  * reused every round with no further movement.
  */
object PageRank {

  val Iters = 10
  val TotalMass = 1000000000000L // 1e12 micro-units
  val DampNum = 85 // damping 0.85 as an integer percentage
  val BaseNum = 15

  /** pairs(doc_a, doc_b) undirected → (doc_id, rank, deg), every node of
    * the graph, ranks in micro-units after [[Iters]] rounds.
    *
    * `maxDegree` is the edge-count budget for duplicate-dense corpora:
    * the near-dup graph's edge count grows with true pair count (8.7× at
    * the ×30 replica — input growth, not a plan flaw), and a hub that
    * near-duplicates a 10k-doc template family contributes 10k edges of
    * redundant signal. The cap keeps each node's first `c` out-edges by
    * ascending dst — deterministic, so the truncated trajectory is
    * replayable — the same explicit-choice policy knob as the pair
    * family's candidate budget. `None` (default) is the exact, oracled
    * graph. Rank semantics under the cap are those of the SAMPLED graph
    * (mass renormalizes over kept edges), the standard treatment for
    * centrality-on-subsampled-graphs.
    *
    * Each round is ONE shuffle and ZERO joins (r16 verdict #1, guide
    * §2.4): the state frame carries (doc_id, dsts, deg, rank) and a round
    * is a single hash aggregate over the union of (a) per-edge
    * contribution rows exploded from the adjacency arrays and (b) one
    * self row per node carrying its adjacency payload with a zero
    * contribution — the classic route-the-adjacency-through-the-
    * aggregation Pregel-on-MapReduce formulation. The self row does two
    * jobs: it reattaches (dsts, deg) for the next round with no join
    * (exactly one non-null per group, so first/max are deterministic),
    * and it makes every node appear in the aggregate, replacing the old
    * `nodes LEFT JOIN contribs` + `coalesce(s, 0)` — a sum over the true
    * contributions plus a literal 0 is the same Long, so the integer
    * trajectory is bit-identical (PageRankSpec's driver-side replay
    * checks rank-for-rank). Previous shape was 3 exchanges + 2 joins per
    * round (rank⋈edges, contribution agg, nodes⋈contribs); at sf0.1 the
    * 63-job schedule cost dominated (~40-80 ms/job driver round-trip,
    * OPTIMIZATION_r17.md §1). */
  def pageRank(pairs: DataFrame, iters: Int = Iters,
      maxDegree: Option[Int] = None): DataFrame = {
    val dir1 = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val dir2 = pairs.select(col("doc_b").as("src"), col("doc_a").as("dst"))
    val edges0 = dir1.union(dir2)
    val edges = maxDegree match {
      case None => edges0
      case Some(c) =>
        // (src, dst) rows only — ranking the id pairs is cheap relative
        // to one PageRank round over the uncapped edge frame
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("src")).orderBy(col("dst"))
        edges0.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") <= c).drop("__rn")
    }
    // adjacency built ONCE, lineage-truncated: (node, out-neighbors, deg).
    // The undirected doubling guarantees every node is a src, so this
    // frame IS the node set.
    val adj = edges.groupBy(col("src").as("doc_id"))
      .agg(collect_list(col("dst")).as("dsts"), count(lit(1)).as("deg"))
      .localCheckpoint(true)
    val n = adj.count()
    require(n > 0, "pagerank needs a non-empty graph")
    val base = TotalMass / n
    val dstsType = adj.schema("dsts").dataType

    var state = adj.withColumn("rank", lit(base))
    for (i <- 1 to iters) {
      val contribs = state.select(
        explode(col("dsts")).as("doc_id"),
        expr("rank div deg").as("c"),
        lit(null).cast(dstsType).as("dsts"),
        lit(null).cast("long").as("deg"))
      val self = state.select(col("doc_id"), lit(0L).as("c"),
        col("dsts"), col("deg"))
      state = contribs.union(self)
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("s"),
          first(col("dsts"), ignoreNulls = true).as("dsts"),
          max(col("deg")).as("deg"))
        .select(col("doc_id"), col("dsts"), col("deg"),
          expr(s"($BaseNum * ${base}L + $DampNum * s) div 100").as("rank"))
      // truncate lineage every 3rd round, not every round: each eager
      // localCheckpoint is a full job launch + store pass, and a 3-round
      // plan (3 aggregates) is still cheap to optimize/serialize —
      // measured ~35% off the 10-round wall clock vs per-round truncation
      if (i % 3 == 0 && i < iters) state = state.localCheckpoint(true)
    }
    state.select(col("doc_id"), col("rank"), col("deg"))
      .orderBy(col("rank").desc, col("doc_id"))
  }

  /** Harness query: PageRank over the MinHash near-dup pair graph (same
    * thresholded pair set the cluster/triangle queries consume). */
  def dupGraphRank(s: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.minhashPairsRaw(Tables.documents(s, dir))
      .filter(col("jaccard") >= Dedup.JaccardThreshold)
    pageRank(pairs)
  }
}
