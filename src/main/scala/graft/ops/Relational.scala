package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The relational operator surface of the engine, exercised over the harness
  * testdata. Each query maps to operators in SURVEY.md §2 (filter/projection/
  * join/aggregate/sort of the reference) plus the standard relational algebra
  * the reference inherits "for free" from Spark SQL (semi/anti joins, set
  * ops, windows, rollup).
  *
  * Determinism rules shared with the DuckDB oracles (SparkEntry.oracleSql):
  *   - every query ends in a fully tie-broken ORDER BY;
  *   - double aggregates are rounded (sums to 2, means to 4–6 decimals) so
  *     summation-order ulp drift cannot flip the compared value;
  *   - aggregate/computed columns are aliased identically on both sides.
  *
  * Scale notes are per-query in the Scaladoc.
  */
object Relational {

  /** TPC-H Q1-shaped scan+aggregate (≙ A1 global aggregate generalized to
    * group-by). One shuffle on the two low-cardinality group keys; partial
    * aggregation map-side makes the shuffle O(groups), not O(rows). */
  def aggLineitem(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        round(sum($"l_quantity"), 2).as("sum_qty"),
        round(sum($"l_extendedprice"), 2).as("sum_base_price"),
        round(sum($"l_extendedprice" * (lit(1) - $"l_discount")), 2).as("sum_disc_price"),
        round(avg($"l_discount"), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")

  /** Prefix predicate filter + projection + sort (≙ F1 `startsWith`, P2).
    * The StartsWith predicate is pushed into the parquet scan. */
  def filterPrefix(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .filter($"source".startsWith("src1"))
      .select($"doc_id", $"source", $"lang", $"n_chars")
      .orderBy($"doc_id")

  /** Train/validation split counts (≙ F1 both tags + counts: 111/9 analog
    * on the events table; split is value-derived like the reference's row
    * tag, here event_id mod 10). */
  def splitCounts(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("set_tag",
        when(pmod($"event_id", lit(10)) < 8, "I").otherwise("V"))
      .groupBy($"set_tag").agg(count(lit(1)).as("n"))
      .orderBy($"set_tag")

  /** The reference's relational core (J1+P5+P6+A1+A2) re-expressed on the
    * events table: predictions = per-(user, event_type) training mean,
    * joined to the holdout split, RMSE = sqrt(avg(sq err)). Two shuffles
    * (group-by, join) that AQE can co-plan; the aggregate returns one row. */
  def rmseEvents(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val train = ev.filter(pmod($"event_id", lit(10)) < 8)
      .groupBy($"user_id", $"event_type")
      .agg(avg($"value").as("prediction"))
    val valid = ev.filter(pmod($"event_id", lit(10)) >= 8)
      .select($"user_id", $"event_type", $"value")
    valid.join(train, Seq("user_id", "event_type"), "inner")
      .agg(round(sqrt(avg(pow($"value" - $"prediction", lit(2)))), 4).as("rmse"))
  }

  /** 3-table join + aggregate: revenue per market segment. customer and
    * orders are orders-of-magnitude smaller than lineitem; Catalyst
    * broadcasts below threshold, AQE re-plans above. */
  def joinRevenue(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir), $"c_custkey" === $"o_custkey")
      .join(Tables.lineitem(s, dir), $"o_orderkey" === $"l_orderkey")
      .groupBy($"c_mktsegment")
      .agg(
        // float-sum rule (like starJoinRevenue): per-line discounted price
        // floors into integral cents, so the BIGINT sum is exact and
        // order-independent — a raw double sum rounded to 2 places
        // diverged from DuckDB by one cent at the ×10 replica (6M lines)
        sum(floor($"l_extendedprice" * (lit(1) - $"l_discount") * 100)
          .cast("bigint")).as("revenue_cents"),
        count(lit(1)).as("n_lines"))
      .orderBy($"c_mktsegment")

  /** TPC-H Q5-shaped star join: local-supplier revenue per nation for one
    * region and a two-year window — six tables, the canonical multi-join
    * OLAP shape. Plan economics: the date filter pushes into the orders
    * scan and the region filter prunes nation via two broadcast hops
    * before any fact-side work; customer⋈orders⋈lineitem are the only
    * shuffle joins (AQE picks sort-merge or broadcast by runtime size);
    * supplier joins on (suppkey, nationkey) after the dims collapse.
    * Revenue follows the float-sum rule: per-line discounted price floors
    * into integral cents, then the BIGINT sum is exact and
    * order-independent — join order and partitioning can never flip a
    * rounding boundary. */
  def starJoinRevenue(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir)
          .filter($"o_orderdate" >= "1996-01-01" && $"o_orderdate" < "1998-01-01"),
        $"c_custkey" === $"o_custkey")
      .join(Tables.lineitem(s, dir), $"o_orderkey" === $"l_orderkey")
      .join(Tables.supplier(s, dir),
        $"l_suppkey" === $"s_suppkey" && $"c_nationkey" === $"s_nationkey")
      .join(broadcast(Tables.nation(s, dir)), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(Tables.region(s, dir).filter($"r_name" === "ASIA")),
        $"n_regionkey" === $"r_regionkey")
      .groupBy($"n_name")
      .agg(
        count(lit(1)).as("n_lines"),
        sum(floor($"l_extendedprice" * (lit(1) - $"l_discount") * 100)
          .cast("bigint")).as("revenue_cents"))
      .orderBy($"revenue_cents".desc, $"n_name")

  /** Full-outer join: daily order counts vs daily shipment counts — ship
    * dates trail order dates, so BOTH unmatched sides occur (null columns
    * on each). USING-style key coalescing matches the oracle's FULL OUTER
    * JOIN USING semantics. */
  def fullOuterDaily(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .groupBy(col("o_orderdate").cast("date").as("day"))
      .agg(count(lit(1)).as("n_orders"))
    val l = Tables.lineitem(s, dir)
      .groupBy(col("l_shipdate").cast("date").as("day"))
      .agg(count(lit(1)).as("n_shipped"))
    o.join(l, Seq("day"), "full_outer")
      .select(col("day"), col("n_orders"), col("n_shipped"))
      .orderBy(col("day"))
  }

  /** Left-semi join (EXISTS): orders having any high-quantity line. */
  def semiJoin(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir).filter($"l_quantity" > 45)
          .select($"l_orderkey"),
        $"o_orderkey" === $"l_orderkey", "left_semi")
      .groupBy($"o_orderpriority").agg(count(lit(1)).as("n"))
      .orderBy($"o_orderpriority")

  /** Left-anti join (NOT EXISTS): customers with no urgent order, per
    * nation. */
  def antiJoin(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir)
          .filter($"o_orderpriority" === "1-URGENT").select($"o_custkey"),
        $"c_custkey" === $"o_custkey", "left_anti")
      .groupBy($"c_nationkey").agg(count(lit(1)).as("n_no_urgent"))
      .orderBy($"c_nationkey")

  /** Window top-k: 2 highest-value orders per market segment. Shuffles once
    * on the partition key; rank prunes before any further processing. */
  def windowTopK(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"c_mktsegment")
      .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
    Tables.orders(s, dir)
      .join(Tables.customer(s, dir), $"o_custkey" === $"c_custkey")
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= 2)
      .select($"c_mktsegment", $"rk", $"o_orderkey",
        round($"o_totalprice", 2).as("price"))
      .orderBy($"c_mktsegment", $"rk")
  }

  /** Global sort + limit (≙ O1 generalized): top 10 lines by price, fully
    * tie-broken. Spark plans TakeOrderedAndProject — no global sort of the
    * full table, each partition contributes its local top-10. */
  def sortLimit(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .orderBy($"l_extendedprice".desc, $"l_orderkey".asc, $"l_linenumber".asc)
      .select($"l_orderkey", $"l_linenumber",
        round($"l_extendedprice", 2).as("price"))
      .limit(10)

  /** ROLLUP hierarchy: customers per region/nation with subtotals. Names
    * coalesced so the oracle compare never sorts NULLs. */
  def rollupRegion(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.nation(s, dir), $"c_nationkey" === $"n_nationkey")
      .join(Tables.region(s, dir), $"n_regionkey" === $"r_regionkey")
      .rollup($"r_name", $"n_name")
      .agg(count(lit(1)).as("n_customers"))
      .select(coalesce($"r_name", lit("ALL")).as("region"),
        coalesce($"n_name", lit("ALL")).as("nation"),
        $"n_customers")
      .orderBy($"region", $"nation")

  /** CUBE over two dimensions with subtotals on every grouping set. */
  def cubeOrders(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .cube($"o_orderpriority", $"o_orderstatus")
      // float-sum rule: integral cents sum exactly in BIGINT — the raw
      // double sum rounded to 2 flipped its last digit vs DuckDB at the
      // ×10 replica's 1.5M-row grand-total cell
      .agg(count(lit(1)).as("n"),
        sum(floor($"o_totalprice" * 100).cast("bigint")).as("total_cents"))
      .select(coalesce($"o_orderpriority", lit("ALL")).as("priority"),
        coalesce($"o_orderstatus", lit("ALL")).as("status"),
        $"n", $"total_cents")
      .orderBy($"priority", $"status")

  /** JSON extraction from the events props column (semi-structured path:
    * the JSONPath evaluates inside codegen, no UDF). */
  def jsonExtract(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("k_val", get_json_object($"props", "$.k").cast("int"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"k_val").as("k_sum"),
        round(avg($"k_val"), 4).as("k_avg"))
      .orderBy($"event_type")

  /** PIVOT: events per user fanned out to one column per type. The value
    * list is explicit so the output schema is static (required both for
    * the oracle compare and for a sane plan — no distinct-scan first). */
  def pivotEvents(s: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val pivoted = Tables.events(s, dir)
      .groupBy($"user_id")
      .pivot("event_type", types)
      .agg(count(lit(1)))
    pivoted.select($"user_id" +:
        types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
      .orderBy($"user_id")
  }

  /** Exact interpolated percentiles per group (sort-based; the scale path
    * is approx_percentile's QuantileSummaries sketch — same trade as
    * count_distinct vs HLL). */
  def percentiles(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy($"event_type")
      .agg(
        round(expr("percentile(value, 0.5)"), 4).as("p50"),
        round(expr("percentile(value, 0.9)"), 4).as("p90"))
      .orderBy($"event_type")

  /** Sketch percentiles (QuantileSummaries, O(1) memory per group) — the
    * scale path for `percentiles`; accuracy asserted against the exact
    * variant in RelationalSpec (no oracle: sketch is engine-specific). */
  def approxPercentiles(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy($"event_type")
      .agg(
        round(expr("approx_percentile(value, 0.5, 10000)"), 4).as("p50"),
        round(expr("approx_percentile(value, 0.9, 10000)"), 4).as("p90"))
      .orderBy($"event_type")

  /** Statistical aggregates: sample stddev + Pearson correlation. */
  def statsAgg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy($"l_returnflag")
      .agg(
        round(stddev_samp($"l_quantity"), 4).as("qty_stddev"),
        round(corr($"l_extendedprice", $"l_quantity"), 4).as("price_qty_corr"))
      .orderBy($"l_returnflag")

  /** Exact distinct-count aggregate (expand + two-phase aggregation). */
  def countDistinctParts(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy($"l_returnflag")
      .agg(count_distinct($"l_partkey").as("n_parts"),
        count(lit(1)).as("n_rows"))
      .orderBy($"l_returnflag")

  /** HLL sketch distinct count — the O(1)-memory scale path for the exact
    * variant above (no oracle: sketch internals are engine-specific;
    * accuracy asserted against the exact count in RelationalSpec). */
  def approxDistinctParts(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy($"l_returnflag")
      .agg(approx_count_distinct($"l_partkey", 0.02).as("approx_parts"))
      .orderBy($"l_returnflag")

  /** DISTINCT projection. */
  def distinctFlags(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select($"l_returnflag", $"l_linestatus").distinct()
      .orderBy($"l_returnflag", $"l_linestatus")

  /** Set operations: INTERSECT (customers who are rich AND ordered) and
    * EXCEPT (rich customers who never ordered), tagged and unioned. */
  def setOps(s: SparkSession, dir: String): DataFrame = {
    val buyers = Tables.orders(s, dir).select($"o_custkey".as("custkey")).distinct()
    val rich = Tables.customer(s, dir).filter($"c_acctbal" > 5000)
      .select($"c_custkey".as("custkey"))
    rich.intersect(buyers).withColumn("tag", lit("rich_buyer"))
      .union(rich.except(buyers).withColumn("tag", lit("rich_no_orders")))
      .orderBy($"tag", $"custkey")
  }

  /** CASE WHEN + round (≙ F2 error flag + C1 rounding): discount banding. */
  def caseRound(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select($"l_orderkey", $"l_linenumber",
        round($"l_discount" * 100, 1).as("disc_pct"),
        when($"l_discount" >= 0.05, "HIGH").otherwise("LOW").as("disc_band"))
      .orderBy($"l_orderkey", $"l_linenumber")

  /** String functions (≙ C2/C3/C7): substring, upper, length, concat_ws. */
  def stringFuncs(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select($"doc_id",
        upper(substring($"text", 1, 10)).as("head10"),
        length($"text").as("len"),
        concat_ws("|", $"lang", $"source").as("tag"))
      .orderBy($"doc_id")

  /** Date/time grouping: orders per calendar month. */
  def dateAgg(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(year($"o_orderdate").as("y"), month($"o_orderdate").as("m"))
      .agg(count(lit(1)).as("n"), round(sum($"o_totalprice"), 2).as("total"))
      .orderBy($"y", $"m")

  /** Report-row formatting (≙ P7 format_string with tab layout). */
  def reportFormat(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .filter($"event_id" < 100)
      .select($"event_id",
        format_string("%d\t%s\t%s", $"user_id", $"event_type",
          round($"value", 1).cast("string")).as("line"))
      .orderBy($"event_id")

  /** GROUP BY + HAVING. */
  def having(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy($"event_type")
      .agg(round(avg($"value"), 4).as("avg_value"), count(lit(1)).as("n"))
      .filter($"n" > 5)
      .orderBy($"event_type")

  /** TPC-H Q3-shaped filtered join with timestamp predicate pushdown:
    * unshipped high-value orders. The o_orderdate/l_shipdate filters reach
    * the parquet scans (PushedFilters), pruning before the join. */
  def joinFiltered(s: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("1998-01-01").cast("timestamp")
    Tables.orders(s, dir).filter($"o_orderdate" < cutoff)
      .join(Tables.lineitem(s, dir).filter($"l_shipdate" > cutoff),
        $"o_orderkey" === $"l_orderkey")
      .groupBy($"o_orderkey", $"o_orderdate")
      .agg(round(sum($"l_extendedprice" * (lit(1) - $"l_discount")), 2).as("revenue"))
      .select($"o_orderkey",
        date_format($"o_orderdate", "yyyy-MM-dd").as("order_date"), $"revenue")
      .orderBy($"revenue".desc, $"o_orderkey".asc)
      .limit(10)
  }

  /** Window-function sweep in one pass: running sum, rank, and lead over a
    * single (partition, order) — one shuffle serves all three frames. */
  def windowRunning(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"c_mktsegment")
      .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
    val running = w.rowsBetween(Window.unboundedPreceding, 0)
    Tables.orders(s, dir)
      .join(Tables.customer(s, dir), $"o_custkey" === $"c_custkey")
      .select($"c_mktsegment", $"o_orderkey",
        round($"o_totalprice", 2).as("price"),
        rank().over(w).as("rnk"),
        round(sum($"o_totalprice").over(running), 2).as("running_total"),
        lead($"o_orderkey", 1).over(w).as("next_order"))
      .filter($"rnk" <= 5)
      .orderBy($"c_mktsegment", $"rnk")
  }

  /** Tumbling-window aggregation in batch — the replayable batch twin of
    * streaming.StreamingOps.windowedTypeCounts (same `window()` operator
    * Structured Streaming uses, minus the watermark). */
  def timeWindowCounts(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir) // ts = BIGINT epoch-nanos
      .withColumn("t", timestamp_micros(expr("ts div 1000")))
      .groupBy(window($"t", "10 minutes"), $"event_type")
      .agg(count(lit(1)).as("n"), round(sum($"value"), 2).as("total_value"))
      .select(date_format($"window.start", "yyyy-MM-dd HH:mm:ss").as("w"),
        $"event_type", $"n", $"total_value")
      .orderBy($"w", $"event_type")

  /** Conditional aggregation (FILTER-clause shape): several differently
    * filtered aggregates in ONE scan pass — the idiom that replaces N
    * self-joins in reporting queries. */
  def conditionalAgg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy($"l_returnflag")
      .agg(
        count(lit(1)).as("n_all"),
        count(when($"l_quantity" > 25, 1)).as("n_bulk"),
        round(sum(when($"l_discount" >= 0.05, $"l_extendedprice")), 2)
          .as("discounted_revenue"),
        round(avg(when($"l_linestatus" === "F", $"l_quantity")), 4)
          .as("avg_qty_finished"))
      .orderBy($"l_returnflag")

  /** Collection aggregates: collect_set + sort_array + array_join. The
    * array is joined to a string because deterministic comparison of raw
    * array columns is representation-fragile across engines. */
  def collectTypes(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy($"user_id")
      .agg(array_join(sort_array(collect_set($"event_type")), ",").as("types"),
        count(lit(1)).as("n"))
      .orderBy($"user_id")

  /** Argmax (max_by): the event holding each type's maximum value. Ties on
    * value exist in the data, so the ordering key folds in event_id
    * (value·1e9 + id — exact in doubles for this domain) to make the
    * winner well-defined in both engines. */
  def argmaxEvents(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy($"event_type")
      .agg(max_by($"event_id", $"value" * lit(1000000000L) + $"event_id")
          .as("top_event"),
        round(max($"value"), 2).as("max_value"))
      .orderBy($"event_type")

  /** Exact top-k per group through the native bounded-heap aggregate
    * ([[graft.functions.TopKBy]]) instead of the window idiom: the window
    * plan sorts EVERY event on (type, value); this one reduces each task to
    * ≤ k entries map-side and shuffles O(groups × k). The top sum is folded
    * in integer cents (the float-sum rule) so the oracle's re-sum in any
    * order is bit-exact. */
  def topkGrouped(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    graft.functions.TopKBy.register(s)
    Tables.events(s, dir)
      .groupBy($"event_type")
      .agg(expr(s"topk_by(value, event_id, $k)").as("top"))
      .select($"event_type",
        array_join(expr("transform(top, x -> cast(x.tag AS string))"), ",")
          .as("top_ids"),
        expr("aggregate(top, 0L, (a, x) -> a + cast(round(x.value * 100) AS bigint))")
          .as("sum_cents"))
      .orderBy($"event_type")
  }

  /** The SQL-text surface: the engine's tables registered as temp views and
    * queried with a literal SQL string through Spark's parser — written in
    * the DuckDB-compatible subset so the oracle runs the IDENTICAL text.
    * One artifact, two engines, zero translation. */
  val PricingSummarySql: String =
    """SELECT l_returnflag, l_linestatus,
      | round(sum(l_quantity), 2) AS sum_qty,
      | round(avg(l_extendedprice), 4) AS avg_price,
      | count(*) AS count_order
      |FROM lineitem
      |WHERE l_quantity < 50
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  def sqlSurface(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
    s.sql(PricingSummarySql)
  }

  /** Deterministic hash-based train/val/test split (80/10/10): bucket =
    * shared 48-bit hash of the row key mod 10. Unlike randomSplit this is
    * stable across runs, cluster layouts, and engines — the property a
    * reproducible training pipeline needs — and the oracle computes the
    * identical assignment from the same md5-derived hash. */
  def hashSplit(s: SparkSession, dir: String): DataFrame = {
    val bucket = expr(s"pmod(${graft.functions.SharedHash.spark48("cast(event_id AS STRING)")}, 10)")
    Tables.events(s, dir)
      .withColumn("split",
        when(bucket < 8, "train").when(bucket === 8, "val").otherwise("test"))
      .groupBy($"split")
      .agg(count(lit(1)).as("n"), round(avg($"value"), 4).as("avg_value"))
      .orderBy($"split")
  }

  /** Distribution window functions: quartile bucketing (ntile) +
    * percent_rank + cume_dist per market segment, summarized per quartile
    * so the output is compact at any scale. */
  def quartiles(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"c_mktsegment")
      .orderBy($"o_totalprice".asc, $"o_orderkey".asc)
    Tables.orders(s, dir)
      .join(Tables.customer(s, dir), $"o_custkey" === $"c_custkey")
      .select($"c_mktsegment", $"o_totalprice",
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"))
      .groupBy($"c_mktsegment", $"quartile")
      .agg(count(lit(1)).as("n"),
        round(min($"o_totalprice"), 2).as("min_price"),
        round(max($"o_totalprice"), 2).as("max_price"),
        round(max($"pr"), 6).as("max_percent_rank"),
        round(max($"cd"), 6).as("max_cume_dist"))
      .orderBy($"c_mktsegment", $"quartile")
  }

  /** Sliding-window aggregation (width 10 min, slide 5 min): each event
    * lands in exactly width/slide windows. The oracle reconstructs the
    * same windows as a union of phase-shifted tumbling buckets. */
  def slidingWindowCounts(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("t", timestamp_micros(expr("ts div 1000")))
      .groupBy(window($"t", "10 minutes", "5 minutes"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select(date_format($"window.start", "yyyy-MM-dd HH:mm:ss").as("w"),
        $"event_type", $"n")
      .orderBy($"w", $"event_type")

  /** Native session windows (session_window, Spark 3.2+): per-user sessions
    * closing at a 30-min gap. The oracle derives identical sessions with
    * the manual lag + running-sum islands construction — two independent
    * implementations of session semantics agreeing. */
  def sessionWindowAgg(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("t", timestamp_micros(expr("ts div 1000")))
      .groupBy(session_window($"t", "30 minutes").as("sw"), $"user_id")
      .agg(count(lit(1)).as("n"), round(sum($"value"), 2).as("total"))
      .select($"user_id",
        date_format($"sw.start", "yyyy-MM-dd HH:mm:ss").as("s_start"),
        date_format($"sw.end", "yyyy-MM-dd HH:mm:ss").as("s_end"),
        $"n", $"total")
      .orderBy($"user_id", $"s_start")

  /** Sessionization (batch): split each user's event stream at >30 min gaps
    * via lag + running sum, then per-user session stats. Two window passes
    * over the same (user_id, ts) partitioning — one shuffle, reused. */
  def sessionize(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val gapped = Tables.events(s, dir) // ts = BIGINT epoch-nanos (see Tables)
      .withColumn("prev_ns", lag($"ts", 1).over(byUser))
      .withColumn("new_session",
        when($"prev_ns".isNull ||
          $"ts" - $"prev_ns" > 1800L * 1000000000L, 1).otherwise(0))
      .withColumn("session_id", sum($"new_session").over(
        byUser.rowsBetween(Window.unboundedPreceding, 0)))
    gapped.groupBy($"user_id", $"session_id")
      .agg(count(lit(1)).as("n_events"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_sessions"),
        round(avg($"n_events"), 4).as("avg_events_per_session"),
        max($"n_events").as("max_session_events"))
      .orderBy($"user_id")
  }

  /** Window navigation family: first/last/nth value over an explicit
    * full-partition frame (last_value over the default frame is the
    * classic footgun — pinned here), plus lag/lead with defaults. One
    * shuffle, one sort, every navigation function rides the same frame. */
  def windowNavigation(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // µs resolution like q_range_frame: DuckDB stores µs, and the frame
    // ORDER must agree exactly or lag/lead/nth disagree at ts collisions
    val order = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
    val full = order.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.events(s, dir)
      .filter($"user_id" < 30)
      .withColumn("ts_us", expr("ts div 1000"))
      .select($"user_id", $"ts_us", $"event_id", $"value",
        first($"value").over(full).as("first_v"),
        last($"value").over(full).as("last_v"),
        nth_value($"value", 2).over(full).as("second_v"),
        lag($"value", 1, -1.0).over(order).as("prev_v"),
        lead($"value", 1, -1.0).over(order).as("next_v"))
      .orderBy($"user_id", $"ts_us", $"event_id")
  }

  /** Array function family over the tokenized documents: size, slicing,
    * ordered distinct sample, positional lookup, membership — the
    * collection surface a feature pipeline leans on, all codegen
    * built-ins in one narrow pass. */
  def arrayFuncs(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("tokens", split(col("text"), " "))
      .select(col("doc_id"),
        size(col("tokens")).as("n"),
        array_join(slice(col("tokens"), 1, 3), "-").as("first3"),
        array_join(slice(sort_array(array_distinct(col("tokens"))), 1, 5), ",")
          .as("vocab5"),
        array_position(col("tokens"), "spark").as("spark_pos"),
        array_contains(col("tokens"), "spark").as("has_spark"))
      .orderBy(col("doc_id"))

  /** GROUPING SETS with an explicit grouping id — the general form behind
    * rollup/cube, exercising Catalyst's Expand operator at three chosen
    * granularities in one pass over the fact table. */
  def groupingSets(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
    s.sql(
      """SELECT l_returnflag, l_linestatus,
        | CAST(grouping(l_returnflag) AS INT) * 2 +
        |   CAST(grouping(l_linestatus) AS INT) AS gid,
        | count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        |                        (l_returnflag), ())
        |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin)
  }

  /** RANGE-frame window: per-user moving sum over a 5-second event-time
    * horizon (value-based frame, not row count — peers at the boundary are
    * included by ts value). Two determinism choices make it oracle-exact:
    * the frame runs at microsecond resolution (DuckDB stores µs, so a
    * nanosecond frame would disagree within 1 µs of the boundary), and the
    * summed measure is integral (floor of value×100) so the moving sum is
    * addition-order-independent across engines and partition layouts. */
  def rangeFrame(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val horizonUs = 5L * 1000000L
    val w = Window.partitionBy($"user_id").orderBy($"ts_us")
      .rangeBetween(-horizonUs, 0)
    Tables.events(s, dir)
      .withColumn("ts_us", expr("ts div 1000"))
      .withColumn("cents", floor($"value" * 100).cast("long"))
      .withColumn("win_cents", sum($"cents").over(w))
      .withColumn("win_n", count(lit(1)).over(w).cast("int"))
      .select($"user_id", $"ts_us", $"event_id", $"win_cents", $"win_n")
      .orderBy($"user_id", $"ts_us", $"event_id")
  }

  /** UNPIVOT (wide → long): the three lineitem measures melted to
    * (measure, value) rows via stack, then aggregated per measure — the
    * schema-normalization shape feature pipelines use. */
  def unpivotMeasures(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(expr(
        """stack(3, 'quantity', l_quantity,
          |         'extendedprice', l_extendedprice,
          |         'discount', l_discount) AS (measure, val)""".stripMargin))
      .groupBy($"measure")
      // float-sum rule: micro-unit BIGINT sums; the raw double sum's last
      // rounded digit drifted from DuckDB at 6M lines (×10 replica)
      .agg(count(lit(1)).as("n"),
        round(sum(floor($"val" * 1e6).cast("bigint")) / 1e6, 2).as("total"),
        round(sum(floor($"val" * 1e6).cast("bigint")) /
          (count(lit(1)) * 1e6), 6).as("mean"))
      .orderBy($"measure")

  /** Correlated subqueries: EXISTS gate + scalar count per row — Catalyst
    * decorrelates both into joins (no per-row re-execution), the property
    * that makes subqueries usable at scale at all. */
  def correlatedSubqueries(s: SparkSession, dir: String): DataFrame = {
    Tables.customer(s, dir).createOrReplaceTempView("customer")
    Tables.orders(s, dir).createOrReplaceTempView("orders")
    s.sql(
      """SELECT c_custkey, c_mktsegment,
        | (SELECT count(*) FROM orders o
        |   WHERE o.o_custkey = c.c_custkey) AS n_orders,
        | (SELECT round(max(o_totalprice), 2) FROM orders o
        |   WHERE o.o_custkey = c.c_custkey) AS max_price
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)
        |ORDER BY c_custkey""".stripMargin)
  }

  // Spark's $"..." interpolator without a session-bound import.
  private implicit class Str(val sc: StringContext) {
    def $(args: Any*): Column = col(sc.s(args: _*))
  }
}
